package graft

import org.apache.spark.scheduler._

/** Dev-only per-job profiler for one query under the bench session:
  * per-job wall time + summed task metrics (run/cpu/gc) so driver-side
  * gaps are distinguishable from executor compute. Earlier runs warm
  * the JVM; only the last is printed. SCRATCH_STAGES=1 adds one line
  * per stage.
  *
  * Usage: sbt "runMain graft.Scratch <query> [sfDir] [runs]"
  */
object Scratch {
  def main(args: Array[String]): Unit = {
    val q = if (args.nonEmpty) args(0) else "t36_quality_ngram"
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val runs = if (args.length > 2) args(2).toInt else 2
    val spark = Sessions.local(appName = "graft-scratch")

    @volatile var record = false
    val starts = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
    val agg = new java.util.concurrent.ConcurrentHashMap[Int, Array[Long]]()
    val jobOfStage = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
    val nTasks = new java.util.concurrent.ConcurrentHashMap[Int, Integer]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        starts.put(js.jobId, System.nanoTime())
        agg.put(js.jobId, Array(0L, 0L, 0L))
        js.stageIds.foreach(sid => jobOfStage.put(sid, js.jobId))
        nTasks.put(js.jobId, 0)
      }
      override def onTaskEnd(te: SparkListenerTaskEnd): Unit = {
        val jid = jobOfStage.getOrDefault(te.stageId, -1)
        if (jid >= 0 && te.taskMetrics != null) {
          val a = agg.get(jid)
          if (a != null) a.synchronized {
            a(0) += te.taskMetrics.executorRunTime
            a(1) += te.taskMetrics.executorCpuTime / 1000000L
            a(2) += te.taskMetrics.jvmGCTime
          }
          nTasks.compute(jid, (_, v) => if (v == null) 1 else v + 1)
        }
      }
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
        if (record && sys.env.contains("SCRATCH_STAGES")) {
          val si = sc.stageInfo
          println(f"  [stage ${si.stageId}%3d job ${jobOfStage.getOrDefault(si.stageId, -1)}%3d] " +
            f"tasks ${si.numTasks}%4d  ${si.name.take(60)} | " +
            si.rddInfos.map(r => s"${r.id}:${r.name}").mkString(" ").take(200))
        }
      }
      override def onJobEnd(je: SparkListenerJobEnd): Unit = {
        if (record) {
          val t0 = starts.getOrDefault(je.jobId, 0L)
          val a = agg.getOrDefault(je.jobId, Array(0L, 0L, 0L))
          println(f"[job ${je.jobId}%3d] wall ${(System.nanoTime() - t0) / 1e9}%7.3f s" +
            f"  tasks ${nTasks.getOrDefault(je.jobId, 0)}%4d" +
            f"  run ${a(0) / 1e3}%7.2f s  cpu ${a(1) / 1e3}%7.2f s  gc ${a(2) / 1e3}%6.2f s")
        }
        // clear this job's stage→job mappings (ADVICE r14): a stage id
        // registered by job N and then appearing in a LATER job's stage
        // list (shared/reused stages) kept attributing that later job's
        // task metrics to N — per-job numbers fed round evidence, so
        // attribution follows the job whose registration is still live
        val it = jobOfStage.entrySet().iterator()
        while (it.hasNext) if (it.next().getValue == je.jobId) it.remove()
      }
    })

    val fn = SparkEntry.queries(q)
    for (i <- 1 to runs) {
      record = i == runs
      if (record) println(s"=== measured run $i of $q at $sfDir ===")
      val t0 = System.nanoTime()
      fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      println(f"RUN $i TOTAL ${(System.nanoTime() - t0) / 1e9}%7.3f s")
    }
    spark.stop()
  }
}
