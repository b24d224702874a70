package graft.tools

/** Ad-hoc stage timer for optimization work: runs a query twice on a
  * fresh `GraftSession` (cold + warm) and prints per-run wall clock, with the
  * noop sink so the timing covers every column of every row (guide
  * §1.4). Usage: runMain graft.tools.StageProbe <query>[,query…] [sfDir]
  * [runs]. */
object StageProbe {
  def main(args: Array[String]): Unit = {
    val names = args(0).split(",").map(_.trim).filter(_.nonEmpty)
    val dir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val runs = if (args.length > 2) args(2).toInt else 3
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.GraftSession.builder(s"local[$cpus]", cpus.toInt).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val stages = new java.util.concurrent.atomic.AtomicInteger
    val taskMs = new java.util.concurrent.atomic.AtomicLong
    val peakMem = new java.util.concurrent.atomic.AtomicLong // max over stages
    spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
      override def onStageCompleted(s: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
        stages.incrementAndGet()
        taskMs.addAndGet(s.stageInfo.taskMetrics.executorRunTime)
        peakMem.getAndAccumulate(s.stageInfo.taskMetrics.peakExecutionMemory,
          math.max(_, _))
      }
    })
    names.foreach { name =>
      val fn = graft.SparkEntry.queries(name)
      for (i <- 1 to runs) {
        jobs.set(0); stages.set(0); taskMs.set(0); peakMem.set(0)
        spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
        System.gc()
        def heapUsed = Runtime.getRuntime.totalMemory - Runtime.getRuntime.freeMemory
        val heap0 = heapUsed
        val t0 = System.nanoTime()
        fn(spark, dir).write.format("noop").mode("overwrite").save()
        val secs = (System.nanoTime() - t0) / 1e9
        System.gc() // heapDelta = retained heap, not uncollected garbage
        println(f"[probe] $name run$i: $secs%.2f s " +
          f"jobs=${jobs.get} stages=${stages.get} taskTime=${taskMs.get / 1e3}%.2f s " +
          f"peakExecMem=${peakMem.get / 1048576.0}%.0f MB " +
          f"heapDelta=${(heapUsed - heap0) / 1048576.0}%.0f MB")
      }
    }
    spark.stop()
  }

  /** Times a thunk and prints the label — for inline stage probes. */
  def time[T](label: String)(f: => T): T = {
    val t0 = System.nanoTime()
    val r = f
    println(f"[probe] $label: ${(System.nanoTime() - t0) / 1e9}%.2f s")
    r
  }
}
