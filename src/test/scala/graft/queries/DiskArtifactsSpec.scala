package graft.queries

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark

/** The persisted-artifact-store contract (VERDICT r13 #3): a SECOND
  * SparkSession serves centroids16 / knnGraph16 / jaccardEdges12 from the
  * bucketed parquet copy WITHOUT rebuilding (build-counter-asserted,
  * value-equal), a stale corpus stamp rebuilds, and the registered
  * serving table is genuinely bucketed — a self-equi-join on the bucket
  * key plans with no shuffle exchange.
  */
class DiskArtifactsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  private val sfDir = "/root/testdata/sf0.001"

  private def sorted(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  test("a second SparkSession serves all three artifacts without rebuilding") {
    val isolated = Files.createTempDirectory("graft_art_spec").toString
    val prior = sys.props.put("graft.artifacts.dir", isolated)
    try {
      SharedArtifacts.clear()
      DiskArtifacts.clear()
      val before = Seq("cent16", "knng16", "jacc12").map(DiskArtifacts.buildCount)

      val s1 = spark.newSession()
      // a second "deployment" session is ACTIVE in its own JVM; the graft
      // SQL functions resolve against the active session's registry
      org.apache.spark.sql.SparkSession.setActiveSession(s1)
      val c1 = sorted(SharedArtifacts.centroids16(s1, sfDir))
      val g1 = sorted(SharedArtifacts.knnGraph16(s1, sfDir))
      val j1 = sorted(SharedArtifacts.jaccardEdges12(s1, sfDir))
      val afterBuild = Seq("cent16", "knng16", "jacc12").map(DiskArtifacts.buildCount)
      assert(afterBuild.zip(before).forall { case (a, b) => a == b + 1 },
        s"first session should build each artifact exactly once: $before -> $afterBuild")

      // drop every session handle so the second session MUST go to disk
      SharedArtifacts.clear()
      val s2 = spark.newSession()
      org.apache.spark.sql.SparkSession.setActiveSession(s2)
      val c2 = sorted(SharedArtifacts.centroids16(s2, sfDir))
      val g2 = sorted(SharedArtifacts.knnGraph16(s2, sfDir))
      val j2 = sorted(SharedArtifacts.jaccardEdges12(s2, sfDir))
      val afterServe = Seq("cent16", "knng16", "jacc12").map(DiskArtifacts.buildCount)
      assert(afterServe == afterBuild,
        s"second session must serve, not rebuild: $afterBuild -> $afterServe")
      assert(c2 == c1 && g2 == g1 && j2 == j1,
        "served artifacts must be value-identical to the built ones")
    } finally {
      org.apache.spark.sql.SparkSession.setActiveSession(spark)
      SharedArtifacts.clear()
      DiskArtifacts.clear()
      prior match {
        case Some(p) => sys.props.put("graft.artifacts.dir", p)
        case None => sys.props.remove("graft.artifacts.dir")
      }
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(isolated))
    }
  }

  test("a stale corpus stamp rebuilds instead of serving") {
    val isolated = Files.createTempDirectory("graft_art_spec2").toString
    val prior = sys.props.put("graft.artifacts.dir", isolated)
    // a private corpus copy whose mtime this test may touch
    val corpus = Files.createTempDirectory("graft_art_corpus")
    Files.copy(java.nio.file.Paths.get(sfDir, "embeddings.parquet"),
      corpus.resolve("embeddings.parquet"))
    try {
      SharedArtifacts.clear()
      DiskArtifacts.clear()
      val s1 = spark.newSession()
      org.apache.spark.sql.SparkSession.setActiveSession(s1)
      SharedArtifacts.centroids16(s1, corpus.toString).count()
      val built = DiskArtifacts.buildCount("cent16")
      // regenerate the corpus (same bytes, new mtime) -> stamp mismatch
      Files.setLastModifiedTime(corpus.resolve("embeddings.parquet"),
        java.nio.file.attribute.FileTime.fromMillis(System.currentTimeMillis() + 5000))
      SharedArtifacts.clear()
      val s2 = spark.newSession()
      org.apache.spark.sql.SparkSession.setActiveSession(s2)
      SharedArtifacts.centroids16(s2, corpus.toString).count()
      assert(DiskArtifacts.buildCount("cent16") == built + 1,
        "a regenerated corpus must rebuild, never serve the stale artifact")
    } finally {
      org.apache.spark.sql.SparkSession.setActiveSession(spark)
      SharedArtifacts.clear()
      DiskArtifacts.clear()
      prior match {
        case Some(p) => sys.props.put("graft.artifacts.dir", p)
        case None => sys.props.remove("graft.artifacts.dir")
      }
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(isolated))
      org.apache.commons.io.FileUtils.deleteQuietly(corpus.toFile)
    }
  }

  test("crash before commit: readers refuse an uncommitted copy and rebuild") {
    val isolated = Files.createTempDirectory("graft_art_spec4").toString
    val prior = sys.props.put("graft.artifacts.dir", isolated)
    try {
      SharedArtifacts.clear()
      DiskArtifacts.clear()
      val s1 = spark.newSession()
      org.apache.spark.sql.SparkSession.setActiveSession(s1)
      SharedArtifacts.centroids16(s1, sfDir).count()
      val built = DiskArtifacts.buildCount("cent16")
      val dst = DiskArtifacts.root.resolve(
        "cent16__" + sfDir.replaceAll("[^A-Za-z0-9._-]", "_"))

      // Crash simulation A — between the data/marker writes and the
      // pointer flip: the version dir is whole (data + _GRAFT_ADONE with
      // the CURRENT stamp) but _GRAFT_CURRENT was never written. The
      // commit-marker protocol says that copy does not exist.
      Files.delete(dst.resolve("_GRAFT_CURRENT"))
      SharedArtifacts.clear()
      val s2 = spark.newSession()
      org.apache.spark.sql.SparkSession.setActiveSession(s2)
      SharedArtifacts.centroids16(s2, sfDir).count()
      assert(DiskArtifacts.buildCount("cent16") == built + 1,
        "an unpointed (uncommitted) version must be refused and rebuilt")

      // Crash simulation B — torn version: the pointer names a version
      // whose _GRAFT_ADONE never landed. Readers must refuse it too.
      val torn = dst.resolve("v-torn")
      Files.createDirectories(torn.resolve("data"))
      val ptr = dst.resolve("_GRAFT_CURRENT")
      Files.writeString(ptr, "v-torn")
      SharedArtifacts.clear()
      val s3 = spark.newSession()
      org.apache.spark.sql.SparkSession.setActiveSession(s3)
      SharedArtifacts.centroids16(s3, sfDir).count()
      assert(DiskArtifacts.buildCount("cent16") == built + 2,
        "a pointed-at version missing its _GRAFT_ADONE must be refused and rebuilt")
    } finally {
      org.apache.spark.sql.SparkSession.setActiveSession(spark)
      SharedArtifacts.clear()
      DiskArtifacts.clear()
      prior match {
        case Some(p) => sys.props.put("graft.artifacts.dir", p)
        case None => sys.props.remove("graft.artifacts.dir")
      }
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(isolated))
    }
  }

  test("registered serving table is bucketed: self-join on the bucket key has no exchange") {
    val isolated = Files.createTempDirectory("graft_art_spec3").toString
    val prior = sys.props.put("graft.artifacts.dir", isolated)
    try {
      SharedArtifacts.clear()
      DiskArtifacts.clear()
      // build + persist, then register the deployment serving form
      SharedArtifacts.knnGraph16(spark, sfDir).count()
      val served = DiskArtifacts.registerServing(spark, "knng16", sfDir, "embeddings")
      assert(served.count() == SharedArtifacts.knnGraph16(spark, sfDir).count())
      val joined = served.as("a").join(served.as("b"), "query_id")
        .groupBy("query_id").count()
      val physical = joined.queryExecution.executedPlan.toString
      assert(!physical.contains("ShuffleExchange") && !physical.contains("Exchange hashpartitioning"),
        s"bucket-keyed join over the registered table must not shuffle:\n$physical")
    } finally {
      org.apache.spark.sql.SparkSession.setActiveSession(spark)
      SharedArtifacts.clear()
      DiskArtifacts.clear()
      prior match {
        case Some(p) => sys.props.put("graft.artifacts.dir", p)
        case None => sys.props.remove("graft.artifacts.dir")
      }
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(isolated))
    }
  }

  test("a failed release is reported on stderr; fatal errors propagate") {
    val buf = new java.io.ByteArrayOutputStream()
    val stderr = System.err
    System.setErr(new java.io.PrintStream(buf, true))
    try DiskArtifacts.releaseOrWarn("cent16|sf")(throw new IllegalStateException("boom"))
    finally System.setErr(stderr)
    assert(buf.toString.contains(
      "[artifacts] release cent16|sf failed: java.lang.IllegalStateException: boom"))
    intercept[LinkageError] {
      DiskArtifacts.releaseOrWarn("cent16|sf")(throw new LinkageError("fatal"))
    }
  }
}
