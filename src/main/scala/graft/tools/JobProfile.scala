package graft.tools

import org.apache.spark.scheduler._

/** Dev profiler (round 18): run one catalog query and attribute its wall
  * time to Spark JOBS vs the DRIVER GAPS between them (planning,
  * analysis, eager-loop driver logic). The round-18 baseline artifact
  * reads cpu_share 84–350‰ on nearly every heavy query at local[32] —
  * the box is mostly idle while queries run, so the lever is stage/job
  * COUNT and driver latency, not shuffle bytes. This tool shows which.
  *
  * `runMain graft.tools.JobProfile <query> [reps] [sfDir]`
  */
object JobProfile {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val reps = if (args.length > 1) args(1).toInt else 2
    val sfDir = if (args.length > 2) args(2) else "/root/testdata/sf0.1"
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.GraftSession.local(cpus.toInt,
      graft.GraftSession.dirBytes(sfDir))
    spark.sparkContext.setLogLevel("ERROR")

    final case class Job(id: Int, start: Long, var end: Long = -1L,
      var stages: Int = 0, var tasks: Int = 0, var taskMs: Long = 0L)
    val jobs = new scala.collection.mutable.LinkedHashMap[Int, Job]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobs.synchronized {
          jobs(e.jobId) = Job(e.jobId, e.time, stages = e.stageInfos.size)
        }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        jobs.synchronized { jobs.get(e.jobId).foreach(_.end = e.time) }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        jobs.synchronized {
          // attribute to the most recent unfinished job (local mode:
          // queries here run jobs sequentially)
          jobs.values.lastOption.foreach { j =>
            j.tasks += 1
            if (e.taskMetrics != null)
              j.taskMs += e.taskMetrics.executorRunTime
          }
        }
    }
    val q = graft.queries.Catalog.all.find(_.name == name)
      .getOrElse(sys.error(s"unknown query $name"))
    // warm pass: JIT, codegen, shared artifacts
    q.fn(spark, sfDir).write.format("noop").mode("overwrite").save()
    spark.sparkContext.addSparkListener(listener)
    for (r <- 1 to reps) {
      jobs.synchronized(jobs.clear())
      val t0 = System.nanoTime()
      q.fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      val wallMs = (System.nanoTime() - t0) / 1000000L
      Thread.sleep(300) // let the listener bus drain (dev tool)
      val js = jobs.synchronized(jobs.values.toSeq)
      val inJobs = js.map(j => math.max(0L, j.end - j.start)).sum
      val nTasks = js.map(_.tasks).sum
      val taskMs = js.map(_.taskMs).sum
      println(f"[jobprofile] $name rep $r: wall ${wallMs}ms, jobs ${js.size}, " +
        f"in-jobs ${inJobs}ms, driver-gaps ${wallMs - inJobs}ms, " +
        f"stages ${js.map(_.stages).sum}, tasks $nTasks, " +
        f"task-time ${taskMs}ms (parallelism ${if (inJobs > 0) taskMs.toDouble / inJobs else 0}%.1f)")
      if (r == reps) {
        // top jobs by wall
        js.sortBy(j => -(j.end - j.start)).take(12).foreach { j =>
          println(f"  job ${j.id}%4d: ${j.end - j.start}%6dms stages ${j.stages}%2d " +
            f"tasks ${j.tasks}%4d task-time ${j.taskMs}%6dms")
        }
      }
    }
    spark.stop()
  }
}
