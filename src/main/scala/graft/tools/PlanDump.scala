package graft.tools

import org.apache.spark.sql.execution.ExplainMode

/** Dev tool (round-18 optimization evidence): dump `.explain("formatted")`
  * for a list of catalog queries to one file per query, in a single JVM.
  *
  * {{{
  * runMain graft.tools.PlanDump <outDir> <suffix> <q1,q2,...|all>
  * }}}
  *
  * Writes `<outDir>/<query>_<suffix>.txt`. The session comes from
  * `GraftSession.local` at the same cores and corpus as graft.Bench, so
  * the captured plans are the ones the bench runs by construction.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val outDir = args(0)
    val suffix = args(1)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val names: Seq[String] =
      if (args.length < 3 || args(2) == "all")
        graft.SparkEntry.queries.keys.toSeq.sorted
      else args(2).split(",").filter(_.nonEmpty).toSeq
    val spark = graft.GraftSession.local(cpus.toInt,
      graft.GraftSession.dirBytes(sfDir))
    spark.sparkContext.setLogLevel("ERROR")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    // SPARK_GRAFT_PLANDUMP_EXEC=1: execute each query through the noop
    // sink first and dump the FINAL adaptive plan (round 19 — with AQE
    // allowed inside cached plans, the static explain shows
    // EnsureRequirements-inserted exchanges that the runtime
    // re-optimization eliminates once a cached handle's partitioning is
    // known; only the executed plan shows the shape that actually ran)
    val execFirst = sys.env.get("SPARK_GRAFT_PLANDUMP_EXEC").contains("1")
    names.foreach { n =>
      try {
        val df = graft.SparkEntry.queries(n)(spark, sfDir)
        if (execFirst)
          df.write.format("noop").mode("overwrite").save()
        val plan = df.queryExecution.explainString(ExplainMode.fromString("formatted"))
        java.nio.file.Files.write(
          java.nio.file.Paths.get(outDir, s"${n}_$suffix.txt"),
          plan.getBytes("UTF-8"))
        println(s"[plandump] $n ok")
      } catch {
        case e: Throwable => println(s"[plandump] $n FAILED: ${e.getMessage}")
      }
    }
    spark.stop()
  }
}
