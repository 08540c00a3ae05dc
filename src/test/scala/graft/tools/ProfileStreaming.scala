package graft.tools

import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.streaming.StreamingQueryListener._

/** Profiling harness for the streaming queries' run-to-run variance
  * (VERDICT r3 #1): runs q51 (and optionally siblings) N times at a
  * given SF and prints every micro-batch's duration breakdown from
  * StreamingQueryProgress, so the 2s-vs-14s swing can be attributed.
  *
  * Test-scope main: sbt "Test/runMain graft.tools.ProfileStreaming".
  */
object ProfileStreaming {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.1"
    val names = if (args.length > 1) args(1).split(",").toSeq
                else Seq("q51_stream_join")
    val iters = if (args.length > 2) args(2).toInt else 4
    val shufflePartitions = if (args.length > 3) args(3) else "32"
    val spark = graft.GraftSession.local(32)
    spark.conf.set("spark.sql.shuffle.partitions", shufflePartitions)
    spark.sparkContext.setLogLevel("ERROR")

    spark.streams.addListener(new StreamingQueryListener {
      override def onQueryStarted(e: QueryStartedEvent): Unit =
        println(s"[started] ${e.name} at ${System.nanoTime() / 1000000}ms")
      override def onQueryProgress(e: QueryProgressEvent): Unit = {
        val p = e.progress
        val d = p.durationMs
        println(s"[batch ${p.batchId}] ${p.name} rows=${p.numInputRows} " +
          s"trigger=${d.get("triggerExecution")} addBatch=${d.get("addBatch")} " +
          s"getBatch=${d.get("getBatch")} latestOffset=${d.get("latestOffset")} " +
          s"queryPlanning=${d.get("queryPlanning")} walCommit=${d.get("walCommit")} " +
          s"commitOffsets=${d.get("commitOffsets")} " +
          s"stateRows=${p.stateOperators.map(_.numRowsTotal).mkString(",")} " +
          s"stateCommitMs=${p.stateOperators.map(_.commitTimeMs).mkString(",")}")
      }
      override def onQueryTerminated(e: QueryTerminatedEvent): Unit =
        println(s"[terminated] ${e.id}")
    })

    val catalog = graft.queries.Catalog.all.map(q => q.name -> q).toMap
    for (n <- names; i <- 1 to iters) {
      val t0 = System.nanoTime()
      val cnt = catalog(n).fn(spark, sfDir).count()
      val sec = (System.nanoTime() - t0) / 1e9
      println(f"== $n iter $i: $sec%.2f s ($cnt rows)")
    }
    spark.stop()
  }
}
