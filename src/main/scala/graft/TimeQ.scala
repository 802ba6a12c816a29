package graft

/** Dev tool: time individual catalog queries warm (3 runs each) at a given
  * scale dir — `runMain graft.TimeQ <sfDir> <query> [<query> ...]`. The
  * per-query numbers in Bench are a full-catalog sweep; this isolates one
  * query for optimization work without the 2-minute sweep. */
object TimeQ {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val names = args.drop(1).toSeq
    val spark = Graft.session()
    spark.sparkContext.setLogLevel("WARN")
    // task-metric listener: spill + peak-execution-memory evidence for the
    // constrained-heap rehearsals (spills log at INFO, invisible at WARN —
    // the metrics are the ground truth anyway)
    val memSpilled = new java.util.concurrent.atomic.AtomicLong
    val diskSpilled = new java.util.concurrent.atomic.AtomicLong
    val peakExec = new java.util.concurrent.atomic.AtomicLong
    // shuffle bytes + task count (r16): the formatted explain of an executed
    // AQE plan re-renders shared cached stages many times, so "how many
    // shuffles actually ran / how many bytes moved" needs task metrics, not
    // plan text — these two counters are the per-query shuffle ground truth
    // the optimization A/Bs diff.
    val shufWrite = new java.util.concurrent.atomic.AtomicLong
    val shufRead = new java.util.concurrent.atomic.AtomicLong
    val nTasks = new java.util.concurrent.atomic.AtomicLong
    spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onTaskEnd(
            e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
          val m = e.taskMetrics
          if (m != null) {
            memSpilled.addAndGet(m.memoryBytesSpilled)
            diskSpilled.addAndGet(m.diskBytesSpilled)
            peakExec.accumulateAndGet(m.peakExecutionMemory, Math.max(_, _))
            shufWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
            shufRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
            nTasks.incrementAndGet()
          }
        }
      })
    SparkEntry.queries("d9_scalar_count")(spark, dir).count() // warm session
    for (n <- names) {
      memSpilled.set(0); diskSpilled.set(0); peakExec.set(0)
      var lastW = 0L; var lastR = 0L; var lastT = 0L
      val times = (1 to 3).map { _ =>
        shufWrite.set(0); shufRead.set(0); nTasks.set(0)
        val t0 = System.nanoTime()
        SparkEntry.queries(n)(spark, dir).count()
        val dt = (System.nanoTime() - t0) / 1e9
        spark.catalog.clearCache()
        // onTaskEnd events arrive asynchronously on the listener bus, so
        // trailing events would be missed if the counters were read right
        // after count() returns (ADVICE r16) — drain the bus first
        org.apache.spark.GraftListenerBridge
          .waitUntilListenerBusEmpty(spark.sparkContext)
        lastW = shufWrite.get; lastR = shufRead.get; lastT = nTasks.get
        dt
      }
      // shufMB/tasks are the LAST run's metrics while the headline time is
      // min-of-3 — labelled so A/B notes can't conflate the two (ADVICE r16)
      println(f"TIMEQ $n%-28s ${times.min}%6.3f min  " +
        times.map(t => f"$t%.3f").mkString(" ") +
        f"  spillMB=${memSpilled.get / 1048576}%d/${diskSpilled.get / 1048576}%d" +
        f" peakTaskMB=${peakExec.get / 1048576}%d" +
        f" lastRun: shufMB=${lastW / 1048576}%d/${lastR / 1048576}%d tasks=$lastT%d")
    }
    spark.stop()
  }
}
