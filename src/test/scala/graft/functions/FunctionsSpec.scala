package graft.functions

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark
import graft.operators.SimilarityOps

class FunctionsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("native cosine expression is bit-identical to the composed form") {
    val vecs = Seq(
      (Seq(1.5f, -2.25f, 3.125f, 0.01f), Seq(0.5f, 2.75f, -1.125f, 9.99f)),
      (Seq(0f, 0f, 0f, 0f), Seq(1f, 2f, 3f, 4f)),
      (Seq(1f, 2f, 3f, 4f), Seq(1f, 2f, 3f, 4f)))
      .toDF("a", "b")
    val r = vecs.select(
      SimilarityOps.cosineComposed(col("a"), col("b")).as("composed"),
      graft.functions.CosineSimilarity.cosineNative(spark, col("a"), col("b")).as("native"))
      .as[(Double, Double)].collect()
    r.foreach { case (c, n) =>
      assert(java.lang.Double.doubleToLongBits(c) == java.lang.Double.doubleToLongBits(n))
    }
  }

  test("native cosine is registered for SQL") {
    CosineSimilarity.register(spark)
    val v = spark.sql(
      "SELECT graft_cosine_similarity(array(1.0d, 0.0d), array(1.0d, 0.0d)) AS c")
      .as[Double].head()
    assert(v == 1.0)
  }

  test("native functions register once per session: a second use keeps the entry") {
    import org.apache.spark.sql.catalyst.FunctionIdentifier
    val id = FunctionIdentifier("graft_cosine_similarity")
    val df = Seq((Seq(1.0, 0.0), Seq(1.0, 0.0))).toDF("a", "b")
    df.select(CosineSimilarity.cosineNative(spark, col("a"), col("b"))).collect()
    val first = spark.sessionState.functionRegistry.lookupFunction(id)
    assert(first.isDefined)
    // replacing the entry would build a new ExpressionInfo (and log a
    // "replaced a previously registered function" warning)
    CosineSimilarity.cosineNative(spark, col("a"), col("b"))
    val second = spark.sessionState.functionRegistry.lookupFunction(id)
    assert(second.exists(_ eq first.get))
  }

  test("native long dot product matches the HOF composition; empty is 0") {
    val rows = Seq(
      (Seq(3L, -1L, 4L, 127L), Seq(2L, 5L, -6L, 127L)),
      (Seq(0L, 0L), Seq(9L, -9L)),
      (Seq.empty[Long], Seq.empty[Long]))
      .toDF("a", "b")
    val r = rows.select(
      expr("aggregate(zip_with(a, b, (x, y) -> x * y), 0L, (acc, v) -> acc + v)").as("hof"),
      LongDotProduct.dotNative(spark, col("a"), col("b")).as("native"))
      .as[(Long, Long)].collect()
    r.foreach { case (h, n) => assert(h == n, s"hof $h != native $n") }
    assert(r.last._2 == 0L)
    // and via SQL registration
    LongDotProduct.register(spark)
    val v = spark.sql(
      "SELECT graft_long_dot(array(2L, 3L), array(4L, 5L)) AS d")
      .as[Long].head()
    assert(v == 23L)
  }

  test("composed long dot reads its own arguments and matches the native form") {
    val rows = Seq(
      (Seq(3L, -1L, 4L, 127L), Seq(2L, 5L, -6L, 127L)),
      (Seq(1L << 20, -(1L << 20)), Seq(1L << 20, 7L)),
      (Seq.empty[Long], Seq.empty[Long]))
      .toDF("left_codes", "right_codes")
    val r = rows.select(
      SimilarityOps.longDotComposed(col("left_codes"), col("right_codes")).as("composed"),
      LongDotProduct.dotNative(spark, col("left_codes"), col("right_codes")).as("native"))
      .as[(Long, Long)].collect()
    assert(r.toSeq == Seq((16106L, 16106L),
      ((1L << 40) - (7L << 20), (1L << 40) - (7L << 20)), (0L, 0L)))
  }

  test("TopKAggregator keeps k best with (score desc, id asc) order") {
    val agg = new TopKAggregator(3)
    val items = Seq(
      Scored(5, 0.9), Scored(1, 0.5), Scored(2, 0.9), Scored(7, 0.1),
      Scored(3, 0.7), Scored(9, 0.9))
    val result = items.foldLeft(agg.zero)(agg.reduce)
    assert(result == Seq(Scored(2, 0.9), Scored(5, 0.9), Scored(9, 0.9)))
    // merge from split halves gives the same answer (map-side combine law)
    val (h1, h2) = items.splitAt(3)
    val merged = agg.merge(
      h1.foldLeft(agg.zero)(agg.reduce), h2.foldLeft(agg.zero)(agg.reduce))
    assert(merged == result)
  }

  test("TopKAggregator end-to-end matches a window row_number top-k") {
    import org.apache.spark.sql.expressions.Window
    val scored = (1L to 100L).map(i => (i % 5, Scored(i, (i % 13).toDouble)))
      .toDF("g", "s").as[(Long, Scored)]
    val viaAgg = scored.groupByKey(_._1).mapValues(_._2)
      .agg(new TopKAggregator(4).toColumn.name("topk"))
      .toDF("g", "topk")
      .select(col("g"), explode(col("topk")).as("s"))
      .select(col("g"), col("s.id"), col("s.score"))
      .as[(Long, Long, Double)].collect().toSet
    val w = Window.partitionBy("g").orderBy(col("score").desc, col("id").asc)
    val viaWindow = scored.map { case (g, s) => (g, s.id, s.score) }
      .toDF("g", "id", "score")
      .withColumn("rn", row_number().over(w)).where(col("rn") <= 4)
      .select("g", "id", "score").as[(Long, Long, Double)].collect().toSet
    assert(viaAgg == viaWindow)
  }

  test("KmvAggregator two-level merge equals the direct sketch (q78's claim)") {
    // KMV merge (union, keep k smallest distinct) is exact for the k
    // minima, so sketch-of-sketches == sketch-of-raw under ANY grouping.
    val kmv = udaf(new KmvAggregator(16), org.apache.spark.sql.Encoders.scalaLong)
    val rows = (0 until 2000).map { i =>
      val h = math.abs((i * 2654435761L) % 257) // heavy duplication
      (s"g${i % 3}", s"part${i % 7}", h)
    }.toDF("g", "p", "h")
    val direct = rows.groupBy("g").agg(kmv(col("h")).as("sk"))
      .collect().map(r => r.getString(0) -> r.getSeq[Long](1)).toMap
    val twoLevel = rows.groupBy("g", "p").agg(kmv(col("h")).as("sk"))
      .select(col("g"), explode(col("sk")).as("h"))
      .groupBy("g").agg(kmv(col("h")).as("sk"))
      .collect().map(r => r.getString(0) -> r.getSeq[Long](1)).toMap
    assert(twoLevel == direct)
    direct.values.foreach { sk =>
      assert(sk.length <= 16 && sk == sk.sorted && sk.distinct == sk)
    }
  }

  test("KmvPairAggregator: merge-order independence, collision keeps min v, bounded") {
    val agg = new KmvPairAggregator(8)
    val items = Seq(
      KmvPair(50L, 5.0), KmvPair(10L, 1.0), KmvPair(10L, 0.5), // collision
      KmvPair(90L, 9.0), KmvPair(20L, 2.0), KmvPair(70L, 7.0),
      KmvPair(30L, 3.0), KmvPair(80L, 8.0), KmvPair(40L, 4.0),
      KmvPair(60L, 6.0), KmvPair(95L, 9.5))
    val direct = items.foldLeft(agg.zero)(agg.reduce)
    // every 2-way split, merged both ways, gives the same sketch
    (0 to items.length).foreach { cut =>
      val (a, b) = items.splitAt(cut)
      val sa = a.foldLeft(agg.zero)(agg.reduce)
      val sb = b.foldLeft(agg.zero)(agg.reduce)
      assert(agg.merge(sa, sb) == direct)
      assert(agg.merge(sb, sa) == direct)
    }
    assert(direct.length == 8)
    assert(direct.map(_.h) == direct.map(_.h).sorted)
    assert(direct.find(_.h == 10L).get.v == 0.5) // collision kept min v
    assert(!direct.exists(_.h == 90L) && !direct.exists(_.h == 95L)) // k minima only
  }

  test("KmvPair two-level merge equals direct; k >= n makes sampleQuantile exact") {
    val kmv = graft.operators.SketchOps.kmvPairUdaf(64)
    val rows = (0 until 500).map { i =>
      (s"g${i % 2}", s"m${i % 5}",
        (i * 2654435761L) & 0xFFFFFFFFL, // unique uniform-ish row hash
        ((i * 37) % 1000).toDouble)
    }.toDF("g", "m", "h", "v")
    def pairs(df: org.apache.spark.sql.DataFrame): Map[String, Seq[(Long, Double)]] =
      df.select(col("g"), explode(col("sk")).as("p"))
        .select(col("g"), col("p.h"), col("p.v"))
        .as[(String, Long, Double)].collect().toSeq
        .groupBy(_._1).map { case (g, xs) => g -> xs.map(x => (x._2, x._3)).sortBy(_._1) }
    val direct = pairs(rows.groupBy("g").agg(kmv(col("h"), col("v")).as("sk")))
    val twoLevel = pairs(rows.groupBy("g", "m").agg(kmv(col("h"), col("v")).as("sk"))
      .select(col("g"), explode(col("sk")).as("p"))
      .select(col("g"), col("p.h").as("h"), col("p.v").as("v"))
      .groupBy("g").agg(kmv(col("h"), col("v")).as("sk")))
    assert(twoLevel == direct)
    // with k >= group size the sample IS the group: quantiles are exact
    val kmvBig = graft.operators.SketchOps.kmvPairUdaf(512)
    val est = rows.groupBy("g").agg(kmvBig(col("h"), col("v")).as("sk"))
      .select(col("g"),
        graft.operators.SketchOps.sampleQuantile(col("sk"), 1, 2).as("p50"),
        graft.operators.SketchOps.sampleQuantile(col("sk"), 9, 10).as("p90"))
      .as[(String, Double, Double)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    val exact = (0 until 500).map(i => (s"g${i % 2}", ((i * 37) % 1000).toDouble))
      .groupBy(_._1).map { case (g, xs) =>
        val vs = xs.map(_._2).sorted
        def rk(num: Int, den: Int) = vs((vs.length * num + den - 1) / den - 1)
        g -> (rk(1, 2), rk(9, 10))
      }
    assert(est == exact)
  }
}
