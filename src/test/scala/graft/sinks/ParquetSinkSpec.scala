package graft.sinks

import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark

class ParquetSinkSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("K1: write + append roundtrip, empty-guard skips") {
    val dir = Files.createTempDirectory("graft_sink").toString + "/t1"
    val df = Seq((1, "a"), (2, "b")).toDF("k", "v")
    assert(ParquetSink.writeDataset(df, dir, mode = "overwrite") == 2L)
    assert(ParquetSink.writeDataset(df, dir, mode = "append") == 2L)
    assert(spark.read.parquet(dir).count() == 4)
    // reference `s3.py:40`: empty frame -> no write, no error
    val empty = Seq.empty[(Int, String)].toDF("k", "v")
    assert(ParquetSink.writeDataset(empty, dir, mode = "append") == 0L)
    assert(spark.read.parquet(dir).count() == 4)
  }

  test("K1: tableName registers the table and returns the row count") {
    val dir = Files.createTempDirectory("graft_sink").toString + "/t5"
    val df = Seq((1, "a"), (2, "b"), (3, "c")).toDF("k", "v")
    try {
      assert(ParquetSink.writeDataset(df, dir, tableName = Some("graft_sink_k1")) == 3L)
      assert(spark.table("graft_sink_k1").count() == 3)
    } finally spark.sql("DROP TABLE IF EXISTS graft_sink_k1")
  }

  test("K1: partitioned write lands partition directories") {
    val dir = Files.createTempDirectory("graft_sink").toString + "/t2"
    val df = Seq((1, "x", "20240101"), (2, "y", "20240102"))
      .toDF("k", "v", "load_date")
    ParquetSink.writeDataset(df, dir, partitionCols = Seq("load_date"))
    val sub = new java.io.File(dir).list().toSeq
    assert(sub.exists(_.startsWith("load_date=20240101")))
    assert(spark.read.parquet(dir).count() == 2)
  }

  test("K2: single-file write produces exactly one part file") {
    val dir = Files.createTempDirectory("graft_sink").toString + "/t3"
    ParquetSink.writeSingleFile(Seq(1, 2, 3).toDF("x"), dir)
    val parts = new java.io.File(dir).list().count(_.startsWith("part-"))
    assert(parts == 1)
  }

  test("bucketed tables join without a shuffle exchange") {
    val a = (1 to 1000).map(i => (i.toLong, s"a$i")).toDF("k", "va")
    val b = (1 to 1000).map(i => (i.toLong, s"b$i")).toDF("k", "vb")
    // a previous JVM's managed-table location survives the in-memory
    // catalog; clear both the entry and the directory
    for (t <- Seq("graft_bucket_a", "graft_bucket_b")) {
      spark.sql(s"DROP TABLE IF EXISTS $t")
      val loc = new java.io.File(spark.conf.get("spark.sql.warehouse.dir")
        .stripPrefix("file:"), t)
      if (loc.exists()) {
        def rm(f: java.io.File): Unit = {
          if (f.isDirectory) f.listFiles().foreach(rm)
          f.delete()
        }
        rm(loc)
      }
    }
    ParquetSink.writeBucketed(a, "graft_bucket_a", "k", 8)
    ParquetSink.writeBucketed(b, "graft_bucket_b", "k", 8)
    // force the shuffle-join path: a broadcast would also skip the
    // exchange but wouldn't prove bucket co-location
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10485760")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val joined = spark.table("graft_bucket_a")
        .join(spark.table("graft_bucket_b"), "k")
      assert(joined.count() == 1000)
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"), s"expected no shuffle, got:\n$plan")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("K3: deletePath removes the directory") {
    val dir = Files.createTempDirectory("graft_sink").toString + "/t4"
    val df = Seq(1).toDF("x")
    ParquetSink.writeDataset(df, dir)
    assert(ParquetSink.deletePath(df, dir))
    assert(!new java.io.File(dir).exists())
  }
}
