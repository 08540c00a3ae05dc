package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, Trigger}

/** Structured Streaming surface.
  *
  * The reference's execution model is chunked micro-batching with
  * per-chunk sink flushes (X1, `procedure_code.py:725-811`). Its idiomatic
  * Spark restatement is `Trigger.AvailableNow` micro-batches — bounded
  * input consumed as a stream, each batch durably committed before the
  * next starts, with checkpointed exactly-once progress (strictly stronger
  * than the reference's at-least-once append).
  */
object StreamingOps {

  /** FileStreamSource requires a directory; when given a single parquet
    * file, expose it through a temp-dir symlink.
    */
  private[streaming] def asSourceDir(path: String): String = {
    val p = java.nio.file.Paths.get(path)
    if (java.nio.file.Files.isDirectory(p)) path
    else {
      val dir = java.nio.file.Files.createTempDirectory("graft_stream_src")
      java.nio.file.Files.createSymbolicLink(dir.resolve(p.getFileName), p)
      dir.toString
    }
  }

  /** Stateful-operator partition count is fixed at a streaming query's
    * first batch from `spark.sql.shuffle.partitions` — and every
    * partition materializes its own state-store instances (FOUR per
    * partition for a stream-stream join). Store commit cost is per
    * *instance*, not per row: profiled at sf0.1, a 2-batch join with 32
    * partitions (128 stores) spent 60-78s of cumulative commit time
    * (8.6-15.6s wall) vs 1.7s cumulative (3.1s wall) with 4 — the swing
    * the round-3 driver bench caught on q51. So state sizing is an
    * explicit operator parameter, scoped to the streaming query and
    * restored after: size it to stream throughput/key cardinality (raise
    * it on a real high-volume stream), never inherit whatever the batch
    * session happens to use. The checkpoint pins it for the query's
    * lifetime, which is exactly why it must be a deliberate choice.
    */
  private[streaming] def withStatePartitions[T](spark: SparkSession,
      n: Option[Int])(body: => T): T = n match {
    case None => body
    case Some(k) =>
      val key = "spark.sql.shuffle.partitions"
      val prev = spark.conf.get(key)
      spark.conf.set(key, k.toString)
      try body finally spark.conf.set(key, prev)
  }

  /** Start `writer` as query `queryName` with its checkpoint at `ckpt`
    * and block until its `AvailableNow` micro-batches have drained the
    * bounded source, with the state partition count `statePartitions`.
    */
  private def runAvailableNow(spark: SparkSession, writer: DataStreamWriter[Row],
      ckpt: String, queryName: String, statePartitions: Option[Int]): Unit =
    withStatePartitions(spark, statePartitions) {
      writer.option("checkpointLocation", ckpt)
        .queryName(queryName)
        .trigger(Trigger.AvailableNow())
        .start()
        .awaitTermination()
    }

  /** Run a streaming DataFrame to completion (`AvailableNow`) through a
    * DISTRIBUTED parquet sink and read the result back. A memory sink
    * would collect every result row into driver RAM — O(result) driver
    * state, an OOM at scale (a stream-stream join's output is O(matching
    * pairs)); the file sink keeps writes on the executors, so the driver
    * holds only streaming progress metadata.
    *
    *  - `append`: the native parquet streaming sink (exactly-once via its
    *    `_spark_metadata` commit log).
    *  - `complete`: the whole result is re-emitted each batch, so
    *    `foreachBatch` overwrites the output dir — the write itself still
    *    runs distributed on the executors.
    *  - `update`: each batch appends its changed rows tagged with the
    *    batch id; the read-back keeps the latest row per `updateKeys`.
    */
  private[streaming] def runViaFileSink(df: DataFrame, mode: String,
      queryName: String, updateKeys: Seq[String] = Nil,
      statePartitions: Option[Int] = None,
      diagnostics: Option[scala.collection.mutable.Buffer[Long]] = None): DataFrame = {
    val spark = df.sparkSession
    val base = java.nio.file.Files.createTempDirectory(s"graft_sink_$queryName")
    val out = base.resolve("out").toString
    val ckpt = base.resolve("ckpt").toString
    val writer = mode match {
      case "append" =>
        df.writeStream.outputMode("append").format("parquet")
          .option("path", out)
      case "complete" =>
        df.writeStream.outputMode("complete")
          .foreachBatch { (batch: DataFrame, id: Long) =>
            batch.write.mode("overwrite").parquet(out)
            diagnostics.foreach(_ += id)
          }
      case "update" =>
        require(updateKeys.nonEmpty, "update mode needs updateKeys")
        df.writeStream.outputMode("update")
          .foreachBatch { (batch: DataFrame, batchId: Long) =>
            batch.withColumn("_batch_id", lit(batchId))
              .write.mode("append").parquet(out)
          }
    }
    runAvailableNow(spark, writer, ckpt, queryName, statePartitions)
    val result = spark.read.parquet(out)
    if (mode == "update") {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(updateKeys.map(col): _*)
        .orderBy(col("_batch_id").desc)
      result.withColumn("_rn", row_number().over(w))
        .where(col("_rn") === 1).drop("_rn", "_batch_id")
    } else result
  }

  /** Tumbling-window count/sum by event_type over a bounded parquet
    * directory, run as a real streaming query (complete mode, parquet
    * read-back) and returned as a DataFrame. Window starts are
    * epoch-aligned, matching a batch `floor(epoch/window)` bucketing
    * exactly.
    */
  def windowedEventCounts(spark: SparkSession, eventsPath: String,
      window: String = "6 hours", queryName: String = "graft_stream_agg",
      statePartitions: Option[Int] = None): DataFrame = {
    // corpus-vintage-dependent ts encoding: see Tables.normalizeTs
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val srcDir = asSourceDir(eventsPath)
    val schema = spark.read.parquet(srcDir).schema
    val stream = graft.sources.Tables.normalizeTs(
      spark.readStream.schema(schema).parquet(srcDir))
    val agg = stream
      .withWatermark("ts", "1 hour")
      .groupBy(org.apache.spark.sql.functions.window(col("ts"), window), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(18,2)")).as("sum_value"))
    runViaFileSink(agg, "complete", queryName, statePartitions = statePartitions)
      .select(
        date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss").as("window_start"),
        col("event_type"), col("n_events"),
        col("sum_value").cast("double").as("sum_value"))
  }

  /** Stream-static enrichment: each micro-batch of the event stream
    * joins against a STATIC dimension table, then feeds a running
    * aggregate — the standard "enrich the stream with reference data"
    * topology. Unlike a stream-stream join (q51) the static side keeps
    * NO state store and needs no watermark: Spark re-plans the dimension
    * scan per micro-batch (broadcasting it when it fits), so a dimension
    * update is picked up at the next batch for free. At 100 TB of stream
    * the cost per batch stays O(batch ⋈ dim) — the dimension never
    * re-shuffles the stream's history.
    */
  def streamStaticEnrich(spark: SparkSession, eventsPath: String,
      dim: DataFrame, dimKey: String, segmentCol: String,
      streamKey: String = "user_id",
      queryName: String = "graft_stream_enrich",
      statePartitions: Option[Int] = None): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val srcDir = asSourceDir(eventsPath)
    val schema = spark.read.parquet(srcDir).schema
    val stream = graft.sources.Tables.normalizeTs(
      spark.readStream.schema(schema).parquet(srcDir))
    val joined = stream
      .join(dim.select(col(dimKey), col(segmentCol)),
        col(streamKey) === col(dimKey))
      .groupBy(col(segmentCol), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(18,2)")).as("sum_value"))
    runViaFileSink(joined, "complete", queryName,
        statePartitions = statePartitions)
      .select(col(segmentCol), col("event_type"), col("n_events"),
        col("sum_value").cast("double").as("sum_value"))
  }

  /** Streaming near-dup ingestion gate: each micro-batch of a document
    * stream derives its minhash band keys (stateless per-row compute)
    * and joins them against the STATIC history band index — dd08's
    * batch-vs-history candidate join as a stream-static topology (the
    * q72 enrichment shape applied to the dd02 kernel). The history side
    * keeps NO state store and needs no watermark: Spark re-plans the
    * index scan per micro-batch, so at scale the static side is the
    * PERSISTED band table bucketed on the band key
    * ([[graft.sinks.ParquetSink.writeBucketed]]) and per-batch cost is
    * O(batch bands ⋈ matched buckets) — history is never reshuffled.
    * The running aggregate holds one row per flagged doc with its
    * DISTINCT history-candidate count (collect_set — bounded by the
    * banded fan-out per doc, never corpus-sized).
    */
  def streamNearDupGate(spark: SparkSession, docsPath: String,
      history: DataFrame, batchPred: Column, textCol: String = "text",
      idCol: String = "doc_id", shingleK: Int = 3, bands: Int = 4,
      rowsPerBand: Int = 4, queryName: String = "graft_stream_neardup",
      statePartitions: Option[Int] = None): DataFrame = {
    val srcDir = asSourceDir(docsPath)
    val schema = spark.read.parquet(srcDir).schema
    val stream = spark.readStream.schema(schema).parquet(srcDir)
      .where(batchPred)
    val hb = graft.operators.DedupOps
      .minhashBands(history, textCol, idCol, shingleK, bands, rowsPerBand)
      .select(col("band_id"), col("band_key"), col(idCol).as("existing_id"))
    val sb = graft.operators.DedupOps
      .minhashBands(stream, textCol, idCol, shingleK, bands, rowsPerBand)
      .select(col("band_id"), col("band_key"), col(idCol).as("new_id"))
    val gate = sb.join(hb, Seq("band_id", "band_key"))
      .groupBy(col("new_id"))
      .agg(size(collect_set(col("existing_id"))).cast("long").as("n_hits"))
    runViaFileSink(gate, "complete", queryName,
      statePartitions = statePartitions)
  }

  /** Streaming token-distribution drift monitor: tx15's ingestion-gate
    * KL/OOV computation run CONTINUOUSLY as documents stream in. Each
    * micro-batch folds its per-(lang, token-hash) counts into a
    * cumulative state table (foreachBatch — one generation dir per
    * batch, read-prev + union + re-aggregate, the q66 loop without the
    * bucket pruning; at 100 TB the state rewrite would be bucket-pruned
    * exactly like [[streamingLatestPerKey]] — here the state is
    * vocabulary-sized, the smallest table in the topology). The static
    * history counts are computed ONCE; after the stream drains, the
    * final cumulative counts full-outer-join them and feed
    * [[graft.operators.TextOps.driftFromCounts]] — the IDENTICAL
    * smoothing/KL/OOV expression as the batch op, so the result is
    * oracle-checkable against tx15's SQL and batch-equivalent by
    * construction (counts are associative; any batching folds to the
    * same totals).
    *
    * @param diagnostics receives each processed micro-batch id — the
    *        spec's proof the monitor actually ran incrementally
    */
  def streamTokenDrift(spark: SparkSession, docsPath: String,
      history: DataFrame, batchPred: Column, textCol: String = "text",
      langCol: String = "lang", splits: Int = 4,
      queryName: String = "graft_stream_drift",
      statePartitions: Option[Int] = None,
      diagnostics: Option[scala.collection.mutable.Buffer[Long]] = None): DataFrame = {
    import java.nio.file.Files
    import graft.operators.{DedupOps, TextOps}
    def hashedCounts(df: DataFrame, outCol: String): DataFrame =
      df.where(length(trim(col(textCol))) > 0)
        .select(col(langCol).as("lang"),
          explode(DedupOps.tokens(col(textCol))).as("_u"))
        .select(col("lang"), substring(md5(col("_u")), 1, 16).as("_h"))
        .groupBy("lang", "_h").agg(count(lit(1)).as(outCol))
    val base = Files.createTempDirectory(s"graft_drift_$queryName")
    // re-split the batch slice so AvailableNow + maxFilesPerTrigger=1
    // actually exercises several micro-batches (the q66 discipline)
    val src = base.resolve("src")
    spark.read.parquet(docsPath).where(batchPred).repartition(splits)
      .write.parquet(src.toString)
    val schema = spark.read.parquet(src.toString).schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(src.toString)
    val genRoot = base.resolve("gen"); Files.createDirectories(genRoot)
    // foreachBatch runs sequentially on the driver; the last committed
    // generation is this run's in-memory cursor (a durable variant would
    // persist it like streamingLatestPerKey's _bucket_gen.tsv)
    @volatile var lastGen = -1L
    val writer = stream.writeStream
      .foreachBatch { (batch: DataFrame, id: Long) =>
        val counts = hashedCounts(batch, "_b")
        val prev =
          if (lastGen >= 0) spark.read.parquet(s"$genRoot/g$lastGen")
          else counts.limit(0)
        prev.unionByName(counts)
          .groupBy("lang", "_h").agg(sum("_b").as("_b"))
          .write.mode("overwrite").parquet(s"$genRoot/g$id")
        lastGen = id
        diagnostics.foreach(_ += id)
      }
    runAvailableNow(spark, writer, base.resolve("ckpt").toString, queryName, statePartitions)
    require(lastGen >= 0, "no micro-batch ran")
    val per = spark.read.parquet(s"$genRoot/g$lastGen")
      .join(hashedCounts(history, "_hc"), Seq("lang", "_h"), "full_outer")
      .select(col("lang"), col("_h"),
        coalesce(col("_b"), lit(0L)).as("_b"),
        coalesce(col("_hc"), lit(0L)).as("_hc"))
    TextOps.driftFromCounts(per)
  }

  /** Per-batch merge record, exposed for observability and for the spec
    * that proves untouched buckets are never read or rewritten.
    */
  final case class BatchMerge(batchId: Long, touchedBuckets: Seq[Int],
      prevPathsRead: Seq[String])

  /** Streaming MERGE (upsert sink): maintain the latest row per key of a
    * stream in a parquet table, one incremental merge per micro-batch —
    * with BUCKET-PRUNED copy-on-write, so a batch only rewrites the slice
    * of the table that contains its keys.
    *
    * The table is hash-bucketed on the key (`pmod(hash(user_id), n)`).
    * Driver-side metadata (the foreachBatch loop runs sequentially) maps
    * each bucket to the generation directory that last rewrote it — the
    * same file-granularity copy-on-write Delta/Iceberg MERGE does with a
    * transaction log. Per batch:
    *   1. the batch's touched buckets are computed (≤ `numBuckets` ints —
    *      partition METADATA, not data, so the driver collect is bounded);
    *   2. ONLY those buckets' latest files are read back;
    *   3. (touched-prev ∪ batch) keeps the top row per key by
    *      (ts, event_id) and writes `g<batchId>/_bucket=<b>` dirs;
    *   4. untouched buckets carry forward by pointer — zero bytes copied.
    *
    * Per-batch cost is O(batch + rows in touched buckets), not O(table):
    * at 100 TB with keys arriving concentrated (the real-world shape —
    * recent/hot entities), a batch leaves the cold 99% of the table
    * untouched. The reduction is associative, so the final state is
    * identical for any batching of the input. The source is re-split
    * into `splits` files and streamed with `maxFilesPerTrigger=1` so the
    * merge path actually runs incrementally (several batches), not once.
    */
  def streamingLatestPerKey(spark: SparkSession, eventsPath: String,
      queryName: String = "graft_stream_upsert", splits: Int = 4,
      statePartitions: Option[Int] = None, numBuckets: Int = 16,
      diagnostics: Option[scala.collection.mutable.Buffer[BatchMerge]] = None,
      baseDir: Option[String] = None): DataFrame = {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    import scala.jdk.CollectionConverters._
    import org.apache.spark.sql.expressions.Window
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    // pass `baseDir` to make the table durable across calls: the
    // checkpoint skips already-processed source files and the persisted
    // bucket->generation metadata resumes where the last run committed
    val base = baseDir match {
      case Some(d) => val p = Paths.get(d); Files.createDirectories(p); p
      case None    => Files.createTempDirectory(s"graft_upsert_$queryName")
    }
    val src = base.resolve("src")
    if (!Files.exists(src))
      spark.read.parquet(eventsPath).repartition(splits).write.parquet(src.toString)
    val schema = spark.read.parquet(src.toString).schema
    val stream = graft.sources.Tables.normalizeTs(
      spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(src.toString))
      .select("user_id", "event_id", "ts")
    val genRoot = base.resolve("gen").toString
    def bucketPath(g: Long, b: Int) = s"$genRoot/g$g/_bucket=$b"
    val keyBucket = pmod(hash(col("user_id")), lit(numBuckets))
    val stateSchema = stream.schema
    // bucket -> generation that last rewrote it. This IS the table's
    // transaction log (what Delta/Iceberg keep in _delta_log/metadata):
    // persisted atomically after every batch, reloaded on restart, so a
    // rerun over the same baseDir resumes instead of reprocessing. A
    // replayed half-applied batch overwrites its own generation dir and
    // re-commits the same metadata — idempotent, hence exactly-once.
    Files.createDirectories(Paths.get(genRoot))
    val metaFile = Paths.get(genRoot).resolve("_bucket_gen.tsv")
    val bucketGen = scala.collection.mutable.Map.empty[Int, Long]
    if (Files.exists(metaFile)) {
      val lines = Files.readAllLines(metaFile).asScala.filter(_.nonEmpty)
      // the bucket fn is pinned at table creation; resuming with a
      // different width would route keys to the wrong buckets silently
      val header = lines.headOption.getOrElse("")
      require(header == s"#numBuckets\t$numBuckets",
        s"table at $genRoot was written with '$header', resumed with numBuckets=$numBuckets")
      lines.drop(1).foreach { line =>
        val Array(b, g) = line.split("\t"); bucketGen(b.toInt) = g.toLong
      }
    }
    def commitMeta(): Unit = {
      val tmp = Files.createTempFile(Paths.get(genRoot), "_bucket_gen", ".tmp")
      Files.write(tmp, (s"#numBuckets\t$numBuckets" +:
        bucketGen.toSeq.sorted.map { case (b, g) => s"$b\t$g" }).asJava)
      Files.move(tmp, metaFile, StandardCopyOption.REPLACE_EXISTING,
        StandardCopyOption.ATOMIC_MOVE)
    }
    val writer = stream.writeStream
      .foreachBatch { (batch: DataFrame, id: Long) =>
        // touched buckets in ONE stage (per-partition dedup of <=numBuckets
        // ints, no exchange) — this is the metadata pass every pruning
        // MERGE pays to build its file-pruning predicate
        val touched = batch.select(keyBucket.as("_bucket"))
          .rdd.mapPartitions(it => it.map(_.getInt(0)).toSet.iterator)
          .collect().toSet.toSeq.sorted
        val prevPaths = touched.flatMap(b => bucketGen.get(b).map(bucketPath(_, b)))
        // reading leaf `_bucket=` dirs drops the partition column; the
        // bucket is a pure function of the key, so it is re-derived below.
        // The explicit schema skips per-path footer inference.
        val prev =
          if (prevPaths.isEmpty) batch.select("user_id", "event_id", "ts").limit(0)
          else spark.read.schema(stateSchema).parquet(prevPaths: _*)
        // single shuffle on the bucket; hash-partitioning on _bucket also
        // clusters (_bucket, user_id), so the window runs in place and
        // every bucket dir gets exactly ONE file (no small-file fan-out
        // from each shuffle task writing into each partition dir)
        val w = Window.partitionBy("_bucket", "user_id")
          .orderBy(col("ts").desc, col("event_id").desc)
        prev.unionByName(batch.select("user_id", "event_id", "ts"))
          .withColumn("_bucket", keyBucket)
          .repartition(col("_bucket"))
          .withColumn("_rn", row_number().over(w))
          .where(col("_rn") === 1).drop("_rn")
          .write.mode("overwrite").partitionBy("_bucket")
          .parquet(s"$genRoot/g$id")
        touched.foreach(b => bucketGen(b) = id)
        commitMeta()
        diagnostics.foreach(_ += BatchMerge(id, touched, prevPaths))
      }
    runAvailableNow(spark, writer, base.resolve("ckpt").toString, queryName, statePartitions)
    require(bucketGen.nonEmpty, "no micro-batch ran")
    // final state = union of every bucket's latest generation files
    val latest = bucketGen.toSeq.sortBy(_._1).map { case (b, g) => bucketPath(g, b) }
    spark.read.parquet(latest: _*)
  }

  /** Streaming model inference over binary payloads — the serving shape
    * of a multimodal training-data pipeline: documents stream in,
    * each micro-batch derives its payload column and runs
    * [[graft.operators.MultimodalOps.batchScore]] (one model
    * instantiation per PARTITION, fixed-size micro-batches inside —
    * exactly the cost profile a real GPU scorer has), and only the
    * small (id, score) rows append to the sink. Narrow per batch: no
    * state store, no watermark, no shuffle — scoring cost is O(batch)
    * and model loads are O(partitions per batch), never O(rows).
    *
    * @param modelLoads optional accumulator counting model
    *        instantiations — the spec's proof the per-partition load
    *        discipline survives the streaming topology
    */
  def streamBatchScore(spark: SparkSession, docsPath: String,
      filterPred: Column, textCol: String = "text", idCol: String = "doc_id",
      batchSize: Int = 32, splits: Int = 4,
      queryName: String = "graft_stream_infer",
      statePartitions: Option[Int] = None,
      diagnostics: Option[scala.collection.mutable.Buffer[Long]] = None,
      modelLoads: Option[org.apache.spark.util.LongAccumulator] = None): DataFrame = {
    import java.nio.file.Files
    import graft.operators.MultimodalOps
    val base = Files.createTempDirectory(s"graft_infer_$queryName")
    val src = base.resolve("src")
    spark.read.parquet(docsPath).where(filterPred).repartition(splits)
      .write.parquet(src.toString)
    val schema = spark.read.parquet(src.toString).schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(src.toString)
    val out = base.resolve("scored").toString
    val writer = stream.writeStream
      .foreachBatch { (batch: DataFrame, id: Long) =>
        if (!batch.isEmpty) {
          MultimodalOps.batchScore(
              MultimodalOps.withBinaryPayload(batch, textCol),
              "payload", idCol, batchSize, modelLoads)
            .write.mode("append").parquet(out)
          diagnostics.foreach(_ += id)
        }
      }
    runAvailableNow(spark, writer, base.resolve("ckpt").toString, queryName, statePartitions)
    spark.read.parquet(out)
  }

  /** Streaming sliding-window distinct (q81 run CONTINUOUSLY): per
    * micro-batch, fold per-day KMV sketches into a generation state
    * table — KMV merge is associative (union, keep the k smallest
    * distinct), so ANY micro-batching folds to exactly the batch
    * sketch — then the identical window-merge + estimator tail as the
    * batch op ([[graft.operators.SketchOps.slidingDistinct7d]], shared
    * verbatim). The state is one ≤ 64-value sketch per observed DAY —
    * the smallest table in the topology (days, not users); at 100 TB
    * the generation rewrite bucket-prunes by day exactly like the
    * streaming MERGE (q66), and a dashboard reads the tail off the
    * day-count-sized state without ever re-scanning raw events.
    */
  /** Streaming column-profile monitor (dp28 run CONTINUOUSLY — the
    * data-quality dashboard over an arriving table): per micro-batch
    * the stacked (column, value) stream folds into running per-column
    * counts, null counts, min/max, and a KMV(64) distinct sketch.
    * Every statistic is a streamable monoid — count/min/max natively,
    * distinct via the k-bounded KMV merge (exact `countDistinct` is NOT
    * streamable without corpus-sized state; the sketch IS, which is the
    * whole point of profiling a stream) — so AvailableNow over the
    * bounded source equals the batch profile exactly, which is what the
    * oracle checks. State: |columns| rows × one ≤64-value sketch — the
    * smallest state table in the topology, independent of stream
    * volume. The estimator tail applies AFTER read-back, identical to
    * the batch expression (the q76/tx15 shared-tail discipline).
    */
  def streamColumnProfile(spark: SparkSession, lineitemPath: String,
      queryName: String = "graft_stream_profile",
      statePartitions: Option[Int] = None): DataFrame = {
    import graft.operators.SketchOps
    val srcDir = asSourceDir(lineitemPath)
    val schema = spark.read.parquet(srcDir).schema
    val stream = spark.readStream.schema(schema).parquet(srcDir)
    val stacked = stream.select(explode(array(
        struct(lit("l_orderkey").as("c"),
          col("l_orderkey").cast("string").as("v")),
        struct(lit("l_returnflag").as("c"),
          col("l_returnflag").cast("string").as("v")),
        struct(lit("l_linestatus_n").as("c"),
          expr("nullif(l_linestatus, 'O')").cast("string").as("v"))))
        .as("x"))
      .select(col("x.c").as("c"), col("x.v").as("v"))
      .withColumn("h", when(col("v").isNotNull,
        conv(substring(md5(col("v")), 1, 15), 16, 10).cast("long")))
    val kmv = udaf(new graft.functions.KmvNullableAggregator(64),
      org.apache.spark.sql.Encoders.LONG)
    val agg = stacked.groupBy("c").agg(
      count(lit(1)).as("n_rows"),
      (count(lit(1)) - count(col("v"))).as("n_null"),
      min("v").as("min_val"), max("v").as("max_val"),
      kmv(col("h")).as("ks"))
    runViaFileSink(agg, "complete", queryName,
        statePartitions = statePartitions)
      .select(col("c").as("col_name"), col("n_rows").cast("long").as("n_rows"),
        col("n_null").cast("long").as("n_null"), col("min_val"),
        col("max_val"), SketchOps.kmvEstimate(col("ks"), 64).as("ndv_kmv"))
  }

  /** Streaming count-min frequency monitor (q107's CMS run CONTINUOUSLY
    * — the monitoring plane a 100 TB ingest deploys: per-key exact
    * counts are unbounded streaming state, the depth × width counter
    * matrix is the bounded thing a stream CAN carry forever): events
    * arrive in micro-batches and increment hashed counters through a
    * NATIVE streaming aggregation — groupBy (d, b) count, state =
    * depth × width rows, no per-key state anywhere — snapshotted in
    * complete mode at close. Counter addition is commutative and
    * associative, so the closed counters are identical under ANY
    * micro-batch arrival order and equal the batch
    * [[graft.operators.SketchOps.cmsCounters]] — which is why the
    * oracle is the batch SQL verbatim (the q76/q85 order-independence
    * discipline). At close the monitor grades itself: the exact top-10
    * keys (batch-side — the OFFLINE grading arm; a deployment would
    * sample or window this) are point-probed against the STREAMED
    * counters, publishing overcount = est − exact, never negative.
    *
    * @return [rank, pk, exact, est, overcount] for the exact top-10
    */
  def streamCmsMonitor(spark: SparkSession, eventsPath: String,
      splits: Int = 4, depth: Int = 4, width: Int = 256,
      queryName: String = "graft_stream_cms",
      statePartitions: Option[Int] = None,
      diagnostics: Option[scala.collection.mutable.Buffer[Long]] = None): DataFrame = {
    import java.nio.file.Files
    import graft.operators.SketchOps
    import org.apache.spark.sql.expressions.Window
    val nanosKey = "spark.sql.legacy.parquet.nanosAsLong"
    val prevNanos = spark.conf.getOption(nanosKey)
    spark.conf.set(nanosKey, "true")
    val base = Files.createTempDirectory(s"graft_cms_$queryName")
    val src = base.resolve("src")
    try {
      graft.sources.Tables.normalizeTs(
          spark.read.parquet(asSourceDir(eventsPath)))
        .select(col("user_id")).repartition(splits)
        .write.parquet(src.toString)
    } finally prevNanos match {
      case Some(v) => spark.conf.set(nanosKey, v)
      case None    => spark.conf.unset(nanosKey)
    }
    val schema = spark.read.parquet(src.toString).schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(src.toString)
    val cnt = stream
      .withColumn("d", explode(expr(s"sequence(0, ${depth - 1})")))
      .withColumn("b", SketchOps.cmsBucket(col("d"), col("user_id"), width))
      .groupBy("d", "b").agg(count(lit(1)).as("c"))
    val counters = runViaFileSink(cnt, "complete", queryName,
      statePartitions = statePartitions, diagnostics = diagnostics)
    // grading tail — the q107 expression tree over the closed counters;
    // src stays on disk: the returned (lazy) frame reads it for the
    // exact arm
    val keys = spark.read.parquet(src.toString).select(col("user_id").as("pk"))
    val top = keys.groupBy("pk").agg(count(lit(1)).as("exact"))
      .orderBy(col("exact").desc, col("pk").asc).limit(10)
      .withColumn("rank", row_number().over(
        Window.orderBy(col("exact").desc, col("pk").asc)).cast("long"))
    SketchOps.cmsEstimate(counters, top, "pk", depth, width)
      .select(col("rank"), col("pk").cast("long").as("pk"),
        col("exact").cast("long").as("exact"),
        col("est").cast("long").as("est"),
        (col("est") - col("exact")).cast("long").as("overcount"))
  }

  def streamSlidingDistinct(spark: SparkSession, eventsPath: String,
      splits: Int = 4, queryName: String = "graft_stream_sliding",
      statePartitions: Option[Int] = None,
      diagnostics: Option[scala.collection.mutable.Buffer[Long]] = None): DataFrame = {
    import java.nio.file.Files
    import graft.operators.SketchOps
    // nanosAsLong is only needed while the vintage events file is read
    // and re-written below (both eager) — scope it instead of mutating
    // the session for the rest of its life (ADVICE r12)
    val nanosKey = "spark.sql.legacy.parquet.nanosAsLong"
    val prevNanos = spark.conf.getOption(nanosKey)
    spark.conf.set(nanosKey, "true")
    val base = Files.createTempDirectory(s"graft_sliding_$queryName")
    // normalize the vintage-dependent ts ONCE, then re-split so
    // AvailableNow + maxFilesPerTrigger=1 exercises several
    // micro-batches (the q66/q76 discipline)
    val src = base.resolve("src")
    try {
      graft.sources.Tables.normalizeTs(
          spark.read.parquet(asSourceDir(eventsPath)))
        .select(col("ts"), col("user_id")).repartition(splits)
        .write.parquet(src.toString)
    } finally prevNanos match {
      case Some(v) => spark.conf.set(nanosKey, v)
      case None    => spark.conf.unset(nanosKey)
    }
    val schema = spark.read.parquet(src.toString).schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(src.toString)
    val genRoot = base.resolve("gen"); Files.createDirectories(genRoot)
    def rmTree(p: java.nio.file.Path): Unit =
      if (Files.exists(p)) {
        import scala.jdk.CollectionConverters._
        Files.walk(p).sorted(java.util.Comparator.reverseOrder())
          .iterator().asScala.foreach(Files.deleteIfExists(_))
      }
    @volatile var lastGen = -1L
    val kmv = SketchOps.kmvUdaf(64)
    val writer = stream.writeStream
      .foreachBatch { (batch: DataFrame, id: Long) =>
        val daily = SketchOps.dailyUserSketches(batch)
        val prev =
          if (lastGen >= 0) spark.read.parquet(s"$genRoot/g$lastGen")
          else daily.limit(0)
        prev.unionByName(daily)
          .select(col("day"), explode(col("sk")).as("h"))
          .groupBy("day").agg(kmv(col("h")).as("sk"))
          .write.mode("overwrite").parquet(s"$genRoot/g$id")
        // the new generation is durably written; its predecessor is dead
        // state — delete it so the workspace holds ONE state copy, not
        // one per micro-batch (ADVICE r12)
        if (lastGen >= 0) rmTree(genRoot.resolve(s"g$lastGen"))
        lastGen = id
        diagnostics.foreach(_ += id)
      }
    runAvailableNow(spark, writer, base.resolve("ckpt").toString, queryName, statePartitions)
    require(lastGen >= 0, "no micro-batch ran")
    // the stream is complete: the re-split source copy and checkpoint are
    // dead; only the final generation backs the returned (lazy) frame
    rmTree(src); rmTree(base.resolve("ckpt"))
    SketchOps.slidingDistinct7d(spark.read.parquet(s"$genRoot/g$lastGen"))
  }

  /** Streaming token-bounded shard export (dp24's cut rule run
    * CONTINUOUSLY — the production export is incremental): documents
    * stream in as contiguous-id-range buckets (= input splits); each
    * micro-batch appends its rows with their BUCKET-LOCAL exclusive
    * token cumsum (a per-bucket window — bounded by the split, never
    * the corpus), plus nothing else: the streaming state is per-bucket
    * token totals, implicit in the appended rows. At close, the global
    * cut composes: bucket offsets = the exclusive prefix over the
    * (#splits)-row totals table, shard = (offset + local_cumsum) div
    * budget.
    *
    * The design point is ORDER-INDEPENDENCE: because the cut
    * decomposes as offset + local (the PrefixSumOps two-phase trick
    * applied in TIME instead of space), the result is identical under
    * ANY micro-batch arrival order — no reliance on file-source
    * ordering, no sequential state handoff between batches — and
    * equals the batch [[graft.sinks.ShardExport.assignShards]] over
    * doc_id order (dp25's no-re-cut property, streamed). At 100 TB the
    * appended rows are the shard files themselves (each batch writes
    * its rows once); only the totals composition — one row per input
    * split — runs at close.
    *
    * @return the manifest [shard, n_docs, n_tokens, first_pos,
    *         last_pos, content_md5] with position = doc_id
    */
  def streamShardExport(spark: SparkSession, docsPath: String,
      tokenBudget: Long = 4096L, splits: Int = 4,
      queryName: String = "graft_stream_shards",
      statePartitions: Option[Int] = None,
      diagnostics: Option[scala.collection.mutable.Buffer[Long]] = None): DataFrame = {
    import java.nio.file.Files
    import org.apache.spark.sql.expressions.Window
    val base = Files.createTempDirectory(s"graft_shards_$queryName")
    val docs = spark.read.parquet(asSourceDir(docsPath))
      .select(col("doc_id").cast("long").as("doc_id"),
        graft.operators.TextOps.tokenCount(col("text")).as("tok"))
    val mx = docs.agg(max("doc_id")).head()
    require(!mx.isNullAt(0), "empty documents corpus")
    val width = mx.getLong(0) / splits + 1
    val src = base.resolve("src")
    docs.withColumn("bucket", expr(s"doc_id div ${width}L"))
      .repartition(col("bucket"))
      .write.partitionBy("bucket").parquet(src.toString)
    val schema = spark.read.parquet(src.toString).schema
    val asg = base.resolve("assigned")
    val wLoc = Window.partitionBy("bucket").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val writer = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(src.toString)
      .writeStream
      .foreachBatch { (batch: DataFrame, id: Long) =>
        if (!batch.isEmpty) {
          batch
            .withColumn("local_excl", sum("tok").over(wLoc) - col("tok"))
            .write.mode("append").parquet(asg.toString)
          diagnostics.foreach(_ += id)
        }
      }
    runAvailableNow(spark, writer, base.resolve("ckpt").toString, queryName, statePartitions)
    val assigned = spark.read.parquet(asg.toString)
    // the totals table is one row per input split — the window runs over
    // #splits rows, not data
    val offsets = assigned.groupBy("bucket").agg(sum("tok").as("_bt"))
      .withColumn("_off",
        sum("_bt").over(Window.orderBy("bucket")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)) - col("_bt"))
      .select("bucket", "_off")
    val cut = assigned.join(offsets, Seq("bucket"))
      .withColumn("cum_excl", col("_off") + col("local_excl"))
      .withColumn("shard", expr(s"cum_excl div ${tokenBudget}L"))
    graft.sinks.ShardExport.manifest(cut, "doc_id", "doc_id", "tok")
  }

  /** X1 restated: append a bounded source to a parquet sink in durable
    * micro-batches via foreachBatch (per-chunk flush semantics).
    */
  def chunkedAppend(spark: SparkSession, srcPath: String, dstPath: String,
      checkpoint: String): Unit = {
    val schema = spark.read.parquet(srcPath).schema
    val q = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(srcPath)
      .writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        if (!batch.isEmpty) batch.write.mode("append").parquet(dstPath)
      }
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
  }
}
