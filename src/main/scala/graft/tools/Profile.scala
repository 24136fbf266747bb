package graft.tools

import org.apache.spark.scheduler._

import scala.collection.mutable

/** Stage-level profiler for declared queries (dev tool, guide §1: the
  * empirical loop with the UI disabled). Runs each named key through the
  * SAME session shape as Bench (local[$SPARK_GRAFT_CPUS], noop sink,
  * cold memo caches) and prints, per query, every job and stage with its
  * wall time and aggregated task metrics — executor run/CPU time, shuffle
  * read/write bytes, fetch wait, GC — so a slow query can be blamed on a
  * specific exchange, scan or compute stage without the UI.
  *
  * Usage: runMain graft.tools.Profile <sfDir> <key> [<key> ...]
  */
object Profile {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val keys = args.drop(1).toSeq
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors().toString)
    // identical session shape to Bench by construction (one shared helper)
    val spark = graft.GraftSession.benchLocal(cpus, appName = "graft-profile")
    spark.sparkContext.setLogLevel("WARN")

    case class StageRow(id: Int, attempt: Int, name: String, tasks: Int,
        wallMs: Long, runMs: Long, cpuMs: Long, gcMs: Long,
        shReadMB: Double, fetchWaitMs: Long, shWriteMB: Double,
        inputMB: Double, spillMB: Double)
    val stages = mutable.ArrayBuffer[StageRow]()
    val jobs = mutable.ArrayBuffer[(Int, Long, Long)]() // id, start, end
    val listener = new SparkListener {
      private val jobStart = mutable.Map[Int, Long]()
      override def onJobStart(js: SparkListenerJobStart): Unit =
        jobStart(js.jobId) = js.time
      override def onJobEnd(je: SparkListenerJobEnd): Unit =
        jobs += ((je.jobId, jobStart.getOrElse(je.jobId, je.time), je.time))
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
        val si = sc.stageInfo
        val m = si.taskMetrics
        val wall = (for (a <- si.completionTime; b <- si.submissionTime)
          yield a - b).getOrElse(0L)
        // operator attribution: the async broadcast/subquery stages all
        // share one CompletableFuture callsite, so the name is useless —
        // the RDD operator scopes (Exchange/BroadcastExchange/Generate/
        // HashAggregate...) say what the stage actually computed
        val scopes = si.rddInfos.flatMap(_.scope).map(_.name).distinct
        val label = if (scopes.isEmpty) si.name
          else scopes.take(8).mkString(">")
        stages += StageRow(si.stageId, si.attemptNumber(), label,
          si.numTasks, wall,
          m.executorRunTime, m.executorCpuTime / 1000000,
          m.jvmGCTime,
          m.shuffleReadMetrics.totalBytesRead / 1e6,
          m.shuffleReadMetrics.fetchWaitTime,
          m.shuffleWriteMetrics.bytesWritten / 1e6,
          m.inputMetrics.bytesRead / 1e6,
          m.diskBytesSpilled / 1e6)
      }
    }
    spark.sparkContext.addSparkListener(listener)

    // JVM/codegen warm-up through the same sink the measured runs use
    try graft.SparkEntry.entry(spark).count() catch { case _: Throwable => }
    for (name <- graft.SparkEntry.queries.keys.toSeq.sorted.take(1);
         fn <- graft.SparkEntry.queries.get(name))
      try fn(spark, dir).write.format("noop").mode("overwrite").save()
      catch { case _: Throwable => }

    for (k <- keys; fn <- graft.SparkEntry.queries.get(k)) {
      graft.Memo.clearAll()
      stages.clear(); jobs.clear()
      spark.sparkContext.setJobDescription(k)
      val t0 = System.nanoTime()
      fn(spark, dir).write.format("noop").mode("overwrite").save()
      val wall = (System.nanoTime() - t0) / 1e9
      Thread.sleep(200) // let listener events drain
      println(f"%n==== $k: total ${wall}%.2f s, ${jobs.size} jobs, ${stages.size} stages ====")
      val jobWall = jobs.map(j => j._3 - j._2).sum / 1e3
      println(f"  sum of job walls: $jobWall%.2f s (gap to total = driver/planning time)")
      println("  stage  att tasks  wall_ms   run_ms   cpu_ms  gc_ms  shR_MB fetch_ms  shW_MB  in_MB spill_MB  name")
      for (s <- stages.sortBy(-_.wallMs).take(25))
        println(f"  ${s.id}%5d ${s.attempt}%4d ${s.tasks}%5d ${s.wallMs}%8d ${s.runMs}%8d ${s.cpuMs}%8d ${s.gcMs}%6d ${s.shReadMB}%7.1f ${s.fetchWaitMs}%8d ${s.shWriteMB}%7.1f ${s.inputMB}%6.1f ${s.spillMB}%8.1f  ${s.name.take(80)}")
    }
    spark.stop()
  }
}
