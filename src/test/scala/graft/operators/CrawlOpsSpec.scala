package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

class CrawlOpsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def canon(url: String): String = {
    val r = Seq(url).toDF("u")
      .select(CrawlOps.canonicalizeUrl(col("u")).as("c")).head()
    if (r.isNullAt(0)) null else r.getString(0)
  }

  test("canonicalizeUrl lowercases scheme and host, not the path") {
    assert(canon("HTTP://WWW.Example.COM/Path/File") ===
      "http://www.example.com/Path/File")
  }

  test("canonicalizeUrl strips default ports per scheme") {
    assert(canon("http://a.com:80/x") === "http://a.com/x")
    assert(canon("https://a.com:443/x") === "https://a.com/x")
    // non-default ports survive; http's default on https does too
    assert(canon("http://a.com:8080/x") === "http://a.com:8080/x")
    assert(canon("https://a.com:80/x") === "https://a.com:80/x")
  }

  test("canonicalizeUrl strips fragments and sorts query keys") {
    assert(canon("http://a.com/x?b=2&a=1#sec") === "http://a.com/x?a=1&b=2")
    assert(canon("http://a.com/x?a=1&b=2") === "http://a.com/x?a=1&b=2")
  }

  test("canonicalizeUrl normalizes an empty path to /") {
    assert(canon("http://a.com") === "http://a.com/")
    assert(canon("http://a.com?z=1&a=2") === "http://a.com/?a=2&z=1")
  }

  test("canonicalizeUrl rejects non-URLs as null") {
    assert(canon("not a url") === null)
    assert(canon("://missing-scheme.com/x") === null)
  }

  test("frontierDedup collapses aliases and keeps the smallest key") {
    val raw = Seq(
      (1L, "HTTP://A.com:80/p?y=2&x=1"),
      (2L, "http://a.com/p?x=1&y=2#frag"),
      (3L, "http://a.com/p?x=1&y=2"),
      (4L, "https://b.com/q"),
      (5L, "junk")).toDF("k", "url")
    val out = CrawlOps.frontierDedup(raw, "url", "k")
      .orderBy("canonical_url").collect()
    assert(out.length === 2)
    assert(out(0).getAs[String]("canonical_url") === "http://a.com/p?x=1&y=2")
    assert(out(0).getAs[Long]("n_variants") === 3L)
    assert(out(0).getAs[Long]("n_distinct_raw") === 3L)
    assert(out(0).getAs[Long]("first_key") === 1L)
    assert(out(0).getAs[String]("host") === "a.com")
    assert(out(1).getAs[String]("canonical_url") === "https://b.com/q")
  }

  test("politenessSchedule ranks per host with delay slots") {
    val f = Seq(
      ("a.com", "u1", 30L), ("a.com", "u2", 10L), ("a.com", "u3", 20L),
      ("b.com", "v1", 5L)).toDF("host", "url", "k")
    val out = CrawlOps.politenessSchedule(f, "host", "k", delayMs = 500L)
      .orderBy("host", "seq").collect()
    assert(out.map(r => (r.getAs[String]("host"), r.getAs[String]("url"),
      r.getAs[Long]("seq"), r.getAs[Long]("fetch_at_ms"))).toSeq === Seq(
      ("a.com", "u2", 1L, 0L), ("a.com", "u3", 2L, 500L),
      ("a.com", "u1", 3L, 1000L), ("b.com", "v1", 1L, 0L)))
  }

  test("frontierSchedule wires clean -> canonical dedup -> schedule") {
    val codes = Seq("99213", "99213", "0001U", " 99213 ").toDF("code")
    val sched = graft.pipeline.ProcedurePipeline
      .frontierSchedule(codes, "https://site.test/codes/")
      .collect()
    // duplicates collapse before any fetch; one host, distinct order keys
    assert(sched.length === 2)
    assert(sched.head.schema.fieldNames.toSeq ===
      Seq("code", "canonical_url", "host", "_ord"))
    assert(sched.map(_.getAs[String]("code")).sorted.toSeq === Seq("0001U", "99213"))
    assert(sched.map(_.getAs[String]("host")).distinct.toSeq === Seq("site.test"))
    val ords = sched.map(_.getAs[Long]("_ord"))
    assert(ords.distinct.length === 2 && ords.forall(_ >= 0L))
  }
}
