package graft.tools

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.streaming.Trigger

/** Dev tool (not shipped surface): grow streaming keyed state to a size
  * where the heap-vs-disk choice MATTERS and measure both providers —
  * the evidence behind `Pipeline.useRocksDbStateStore` that a sandbox
  * spec with 3 keys cannot give. A rate-micro-batch source feeds a
  * stateful count with monotonically NEW keys every batch (worst case:
  * state only ever grows, nothing expires), until the state operator
  * holds `nKeys` rows; prints one JSON line with wall time, the last
  * batch's durationMs (the steady-state cost of touching a store this
  * size), the operator's own memory accounting, and JVM heap in use.
  *
  * Usage: StateVolume <provider: hdfs|rocksdb> [nKeys] [rowsPerBatch]
  * (defaults 20M keys, 2M rows/batch → 10 batches).
  */
object StateVolume {
  def main(args: Array[String]): Unit = {
    val provider = args.headOption.getOrElse("rocksdb")
    val nKeys = args.drop(1).headOption.map(_.toLong).getOrElse(20000000L)
    val rowsPerBatch = args.drop(2).headOption.map(_.toLong).getOrElse(2000000L)
    val spark = graft.GraftSession.local(graft.GraftSession.envCores)
    spark.sparkContext.setLogLevel("WARN")
    // root-at-WARN arms rocksdbjni's native WARN-level JNI log callback,
    // which segfaulted this tool twice at 100M×4M (PERF.md adjudication);
    // pin the state-store class logger to ERROR before the query starts
    if (provider == "rocksdb") {
      graft.streaming.Pipeline.useRocksDbStateStore(spark)
      val cl = org.slf4j.LoggerFactory.getLogger(
        "org.apache.spark.sql.execution.streaming.state.RocksDB")
      println(s"rocksdb class logger: warnEnabled=${cl.isWarnEnabled} " +
        s"errorEnabled=${cl.isErrorEnabled} (native level = first enabled of WARN/INFO/DEBUG, else ERROR)")
    }

    val t0 = System.nanoTime()
    val q = spark.readStream.format("rate-micro-batch")
      .option("rowsPerBatch", rowsPerBatch)
      .load()
      .selectExpr("value AS k")
      .groupBy("k").count()
      .writeStream
      .outputMode("update")
      .trigger(Trigger.ProcessingTime(0))
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        df.write.format("noop").mode("overwrite").save()
      }
      .start()

    var total = 0L
    var lastBatchMs = -1L
    var mem = -1L
    while (total < nKeys) {
      q.exception.foreach(throw _)
      Thread.sleep(500)
      val p = q.lastProgress
      if (p != null && p.stateOperators.nonEmpty) {
        total = p.stateOperators(0).numRowsTotal
        lastBatchMs = p.durationMs.values().asScala.map(_.longValue).sum
        mem = p.stateOperators(0).memoryUsedBytes
      }
    }
    q.stop()
    // teardown discipline, not just hygiene: letting the JVM exit while
    // state-store RocksDB instances are still loaded leaves their NATIVE
    // compaction threads running into DestroyJavaVM — any late native log
    // line then calls the JNI logger callback on a dying VM, AttachCurrent
    // Thread fails, and rocksdbjni dereferences the null env (the two
    // round-13 SIGSEGVs in LoggerJniCallback::Logv; PERF.md adjudication).
    // Unloading every provider here closes each RocksDB and joins its
    // background work BEFORE the VM starts dying.
    org.apache.spark.sql.execution.streaming.state.StateStore.stop()
    val wallSec = (System.nanoTime() - t0) / 1e9
    val rt = Runtime.getRuntime
    val heapMb = (rt.totalMemory() - rt.freeMemory()) / (1024 * 1024)
    println(f"""STATEVOLUME {"provider":"$provider","state_rows":$total,""" +
      f""""wall_sec":$wallSec%.1f,"last_batch_ms":$lastBatchMs,""" +
      f""""state_mem_bytes":$mem,"jvm_heap_used_mb":$heapMb}""")
    spark.stop()
  }
}
