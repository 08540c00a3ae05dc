package graft.tools

import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** The decade probe: `runMain graft.tools.Sf1Probe [runs] [names…]`
  * times each probe query at sf0.1 and at a synthetic sf1 (ten times
  * the data) and prints, per probe and run, both wall times, the wall
  * ratio and the CPU ratio. Decade probes are judged on the CPU ratio:
  * process CPU time at sf1 over that at sf0.1 separates "the work grew"
  * from "the cores were busy elsewhere" — a wall ratio of 30× with a CPU
  * ratio of 10× is local-mode saturation, a CPU ratio of 90× is
  * super-linear work.
  *
  * Protocol: one untimed warm-up at sf0.01 (JIT and codegen); then each
  * timed write (`noop`, the full answer) starts from a cleared cache and
  * cleared shared artifacts, in memory and on disk, so BOTH scales pay
  * their one-time materializations cold, and with the initial partition
  * count re-derived from that scale's input bytes (the
  * [[graft.GraftSession]] policy). A probe that throws prints `error`
  * for that scale and is left out of both ratios; the run goes on
  * (ADVICE r7: a time-to-failure is not a measurement). dd20 also prints
  * its raw / candidate / verify row counts per scale, from a separate
  * execution after the timed write.
  *
  * The sf1 corpus is synthesized in /tmp as 10 structure-preserving
  * copies of sf0.1 (the driver's testdata is read-only and tops out at
  * sf0.1):
  *  - events: user_id/event_id shifted per copy — per-user activity and
  *    join fan-out stay constant, so totals scale linearly;
  *  - documents: doc_id shifted AND the text letter-rotated per copy
  *    (translate over 'a'..'j'), so within-copy near-dup structure is
  *    preserved exactly while cross-copy texts stop being near-dups —
  *    cluster count ×10, cluster sizes unchanged. Without the rotation
  *    every doc would gain 9 identical twins and candidate pairs would
  *    grow quadratically, probing an adversarial corpus instead of a
  *    bigger one;
  *  - orders/lineitem: order/customer/supplier keys shifted per copy —
  *    ten disjoint copies of the q68 bipartite graph, so node count and
  *    per-iteration join work scale linearly with component structure
  *    unchanged;
  *  - embeddings: vec_id shifted, coordinates CYCLICALLY ROTATED per
  *    copy — norms and within-copy geometry are exact, cross-copy
  *    vectors decorrelate, so ANN bucket occupancy scales like a bigger
  *    corpus instead of 10 stacked identical ones;
  *  - part: p_partkey shifted in the SAME domain as l_partkey (one max
  *    over both columns, so referential integrity survives); names stay
  *    un-rotated on purpose — a 10x catalog drawn from one name
  *    vocabulary is denser in every blocking key, which is the honest
  *    per-block cost dd22's fuzzy-join probe measures.
  */
object Sf1Probe {
  // the catalog's heaviest operators, each with a decade ratio on record
  private val probes = Seq("dd06_dup_clusters", "dp01_curation_pipeline",
    "tx36_classifier_eval", "dd28_semantic_recall", "tx06_tfidf",
    "q51_stream_join", "q66_stream_upsert", "dp03_seq_packing",
    "q68_pagerank", "ann07_recall", "dp09_decontam", "tx08_commonness",
    "dd12_substring_spans", "dd13_semantic_dedup", "ann08_kmeans_train",
    "tx14_bigram_lm", "dd17_lsh_recall", "q77_triangle_count",
    "ann14_knn_graph", "tx18_zipf_slope", "dd20_jaccard_join",
    "dp24_shard_manifest", "ann16_graph_search",
    "q87_personalized_pagerank", "q86_graph_distance", "q90_cheapest_path",
    "tx22_bm25_retrieval", "dd22_fuzzy_join", "q92_label_prop",
    "dd23_incremental_clusters", "dp30_kcenter_coreset",
    "dd24_exact_substr", "dd25_winnow_fingerprints",
    "ann18_graph_depth_curve")

  /** Idempotent: the `_DONE` marker caches the built corpus across runs. */
  private def buildSf1(spark: SparkSession, src: String, dst: String,
      copies: Int): Unit = {
    import java.nio.file.{Files => JF, Paths}
    val fs = Paths.get(dst)
    // cache stamp covers the sources' size+mtime: a regenerated corpus at
    // the same path rebuilds the 10x copy instead of serving stale rows
    val stamp = Seq("events.parquet", "documents.parquet", "orders.parquet",
      "lineitem.parquet", "embeddings.parquet", "part.parquet").map { f =>
      val p = Paths.get(src, f)
      s"${JF.size(p)}:${JF.getLastModifiedTime(p).toMillis}"
    }.mkString(",") + s":$copies:v4"
    val marker = fs.resolve("_DONE")
    if (JF.exists(marker) && JF.readString(marker) == stamp) return
    val letters = "abcdefghij"
    def rotated(i: Int) = letters.drop(i % 10) + letters.take(i % 10)

    val ev = graft.sources.Tables.rawEvents(spark, src)
    val maxUser = ev.agg(max("user_id")).head().getLong(0) + 1
    val maxEvent = ev.agg(max("event_id")).head().getLong(0) + 1
    (0 until copies).map { i =>
      ev.withColumn("user_id", col("user_id") + lit(i * maxUser))
        .withColumn("event_id", col("event_id") + lit(i * maxEvent))
    }.reduce(_ unionByName _)
      .write.mode("overwrite").parquet(s"$dst/events.parquet")

    val docs = spark.read.parquet(s"$src/documents.parquet")
    val maxDoc = docs.agg(max("doc_id")).head().getLong(0) + 1
    (0 until copies).map { i =>
      docs.withColumn("doc_id", col("doc_id") + lit(i * maxDoc))
        .withColumn("text", translate(col("text"), letters, rotated(i)))
    }.reduce(_ unionByName _)
      .write.mode("overwrite").parquet(s"$dst/documents.parquet")

    val orders = spark.read.parquet(s"$src/orders.parquet")
    val lineitem = spark.read.parquet(s"$src/lineitem.parquet")
    val maxOrder = orders.agg(max("o_orderkey")).head().getLong(0) + 1
    val maxCust = orders.agg(max("o_custkey")).head().getLong(0) + 1
    val maxSupp = lineitem.agg(max("l_suppkey")).head().getLong(0) + 1
    val part = spark.read.parquet(s"$src/part.parquet")
    // one shift domain for BOTH part-key columns so referential
    // integrity survives the copy (part holds keys lineitem never
    // references; shifting by lineitem's max alone would collide them)
    val maxPart = math.max(
      lineitem.agg(max("l_partkey")).head().getLong(0),
      part.agg(max("p_partkey")).head().getLong(0)) + 1
    (0 until copies).map { i =>
      orders.withColumn("o_orderkey", col("o_orderkey") + lit(i * maxOrder))
        .withColumn("o_custkey", col("o_custkey") + lit(i * maxCust))
    }.reduce(_ unionByName _)
      .write.mode("overwrite").parquet(s"$dst/orders.parquet")
    // l_partkey shifts per copy like every other entity key: stacked
    // UN-shifted partkeys would multiply every co-occurrence count x10,
    // inflating q77's support-filtered co-purchase graph super-linearly
    // — a corpus artifact, not a property of 10x real data (the same
    // decorrelation reasoning as the rotated document text and the
    // rolled embeddings)
    (0 until copies).map { i =>
      lineitem.withColumn("l_orderkey", col("l_orderkey") + lit(i * maxOrder))
        .withColumn("l_suppkey", col("l_suppkey") + lit(i * maxSupp))
        .withColumn("l_partkey", col("l_partkey") + lit(i * maxPart))
    }.reduce(_ unionByName _)
      .write.mode("overwrite").parquet(s"$dst/lineitem.parquet")
    // part: keys shift with lineitem's; names stay UN-rotated on purpose
    // — a 10x catalog drawn from the same name vocabulary is DENSER in
    // every blocking key, which is exactly the per-block cost dd22's
    // probe must measure (the dirty side stays copy-0-only via its
    // p_partkey < 500 filter, so candidates grow linearly in copies)
    (0 until copies).map { i =>
      part.withColumn("p_partkey", col("p_partkey") + lit(i * maxPart))
    }.reduce(_ unionByName _)
      .write.mode("overwrite").parquet(s"$dst/part.parquet")

    val emb = spark.read.parquet(s"$src/embeddings.parquet")
    val maxVec = emb.agg(max("vec_id")).head().getLong(0) + 1
    val dim = emb.select(size(col("embedding"))).head().getInt(0)
    (0 until copies).map { i =>
      val base = emb.withColumn("vec_id", col("vec_id") + lit(i * maxVec))
      val off = i % dim
      if (off == 0) base
      else base.withColumn("embedding", expr(
        s"concat(slice(embedding, ${off + 1}, size(embedding) - $off), " +
          s"slice(embedding, 1, $off))"))
    }.reduce(_ unionByName _)
      .write.mode("overwrite").parquet(s"$dst/embeddings.parquet")
    JF.writeString(marker, stamp)
  }

  def main(args: Array[String]): Unit = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val sf01 = "/root/testdata/sf0.1"
    val spark = graft.GraftSession.local(cpus.toInt,
      graft.GraftSession.dirBytes(sf01))
    spark.sparkContext.setLogLevel("ERROR")
    val sf1 = "/tmp/graft_sf1"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(sf1))
    println("[sf1probe] building sf1 corpus (10x sf0.1) ...")
    buildSf1(spark, sf01, sf1, copies = 10)
    val cat = graft.queries.Catalog.all.map(q => q.name -> q).toMap
    // optional args: [runs] [probe names...] — e.g. `3 dd17_lsh_recall`
    // repeats the dd17 decade probe three times; no args = the default
    // list once
    val (runs, sel) = args.toSeq match {
      case n +: rest if n.forall(_.isDigit) && rest.nonEmpty =>
        (n.toInt, rest)
      case n +: Nil if n.forall(_.isDigit) => (n.toInt, probes)
      case Nil => (1, probes)
      case names => (1, names)
    }
    def attempt[T](what: String)(body: => T): Option[T] =
      try Some(body) catch { case NonFatal(e) =>
        System.err.println(
          s"[sf1probe] $what failed: ${e.getClass.getName}: ${e.getMessage}")
        None
      }
    def write(n: String, sf: String): Unit =
      cat(n).fn(spark, sf).write.format("noop").mode("overwrite").save()
    sel.foreach(n => attempt(s"warmup $n")(write(n, "/root/testdata/sf0.01")))
    // (wall seconds, process CPU ns) of one cold timed write
    def timed(n: String, sf: String): Option[(Double, Long)] = {
      spark.catalog.clearCache()
      graft.queries.SharedArtifacts.clear()
      graft.queries.DiskArtifacts.clear()
      spark.conf.set(
        "spark.sql.adaptive.coalescePartitions.initialPartitionNum",
        graft.GraftSession.initialPartitions(cpus.toInt,
          graft.GraftSession.dirBytes(sf)).toString)
      attempt(s"$n at $sf") {
        val c0 = graft.Bench.processCpuNanos()
        val t0 = System.nanoTime()
        write(n, sf)
        ((System.nanoTime() - t0) / 1e9, graft.Bench.processCpuNanos() - c0)
      }
    }
    def ratio(a: Option[Double], b: Option[Double]): String =
      (for (x <- a; y <- b if y > 0) yield f"${x / y}%6.1fx").getOrElse("     -")
    println(f"${"query"}%-26s ${"sf0.1"}%9s ${"sf1"}%9s ${"ratio"}%7s ${"cpu"}%7s")
    for (_ <- 1 to runs) sel.foreach { n =>
      val Seq(small, big) = Seq(sf01, sf1).map { sf =>
        val t = timed(n, sf)
        // raw pre-distinct self-join rows vs distinct candidates vs verify
        // rows, from an execution AFTER the timed write that reuses its
        // still-warm shingle artifact, so the timing never carries it
        if (n == "dd20_jaccard_join" && t.isDefined)
          attempt(s"dd20_rows at $sf") {
            val (raw, cand, ver) = graft.operators.DedupOps.jaccardJoinStats(
              graft.sources.Tables.table(spark, sf, "documents"), "doc_id",
              "text", num = 1, den = 2,
              shingleTable = Some(graft.queries.SharedArtifacts.docShingles3(spark, sf)))
            println(s"""  dd20_rows[$sf] = {"raw_pairs":$raw,"cand_pairs":$cand,"verify_rows":$ver}""")
          }
        t
      }
      def sec(t: Option[(Double, Long)]) =
        t.fold(f"${"error"}%9s")(x => f"${x._1}%8.2fs")
      println(f"$n%-26s ${sec(small)} ${sec(big)} " +
        s"${ratio(big.map(_._1), small.map(_._1))} " +
        ratio(big.map(_._2.toDouble), small.map(_._2.toDouble)))
    }
    spark.stop()
  }
}
