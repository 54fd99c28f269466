package graft.tools

/** Per-gate execution statistics through a SparkListener: jobs,
  * stages, tasks, summed task time, input bytes, shuffle read/write
  * bytes, and the Janino compiles of generated code. Structural counts
  * (jobs/stages/shuffle bytes/compiles) are load-independent, so they
  * A/B an optimization honestly on a noisy host where wall-clock
  * can't. The first rep's compile count is the gate's generated-code
  * footprint; a later rep that still compiles lost classes from Spark's
  * generated-code cache. Development tool, not driver surface.
  *
  * Usage: runMain graft.tools.GateStats gate1,gate2[,...] [reps]
  */
object GateStats {
  def main(args: Array[String]): Unit = {
    val gates = args.headOption.map(_.split(",").toSeq).getOrElse(Seq.empty)
    val reps = if (args.length > 1) args(1).toInt else 1
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.SparkFactory.session()
    spark.sparkContext.setLogLevel("ERROR")
    val jobs = new java.util.concurrent.atomic.AtomicLong(0)
    val stages = new java.util.concurrent.atomic.AtomicLong(0)
    val tasks = new java.util.concurrent.atomic.AtomicLong(0)
    val taskMs = new java.util.concurrent.atomic.AtomicLong(0)
    val inputB = new java.util.concurrent.atomic.AtomicLong(0)
    val shufR = new java.util.concurrent.atomic.AtomicLong(0)
    val shufW = new java.util.concurrent.atomic.AtomicLong(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
      override def onStageCompleted(s: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
        stages.incrementAndGet()
        tasks.addAndGet(s.stageInfo.numTasks.toLong)
        taskMs.addAndGet(s.stageInfo.taskMetrics.executorRunTime)
        inputB.addAndGet(s.stageInfo.taskMetrics.inputMetrics.bytesRead)
        shufR.addAndGet(s.stageInfo.taskMetrics.shuffleReadMetrics.totalBytesRead)
        shufW.addAndGet(s.stageInfo.taskMetrics.shuffleWriteMetrics.bytesWritten)
        ()
      }
    }
    // one histogram update per Janino compile, driver and local executors alike
    def compiles(): Long = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    def snap(): Seq[Long] =
      Seq(jobs.get, stages.get, tasks.get, taskMs.get, inputB.get, shufR.get, shufW.get)
    graft.SparkEntry.gateQueries.filter(q => gates.contains(q.name)).foreach { q =>
      (1 to reps).foreach { rep =>
        spark.sparkContext.addSparkListener(listener)
        Seq(jobs, stages, tasks, taskMs, inputB, shufR, shufW).foreach(_.set(0))
        val compiles0 = compiles()
        val t0 = System.nanoTime()
        try q.fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        catch { case e: Throwable => System.err.println(s"[stats] ${q.name} FAILED: $e") }
        val wall = (System.nanoTime() - t0) / 1e9
        Thread.sleep(400) // drain the async listener bus
        spark.sparkContext.removeSparkListener(listener)
        val Seq(j, st, tk, tm, ib, sr, sw) = snap()
        val cc = compiles() - compiles0
        println(f"[stats] ${q.name}%-28s rep$rep wall=$wall%7.2fs jobs=$j%3d stages=$st%4d tasks=$tk%5d compiles=$cc%4d taskTime=${tm / 1000.0}%8.1fs input=${ib / 1e6}%8.1fMB shufR=${sr / 1e6}%8.1fMB shufW=${sw / 1e6}%8.1fMB")
      }
    }
    spark.stop()
  }
}
