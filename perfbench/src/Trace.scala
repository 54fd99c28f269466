package graftbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import scala.jdk.CollectionConverters._

/** Spark work counted by [[BenchListener]]. */
final class Counters {
  val jobs, stages, tasks = new AtomicLong
  val runMs, cpuNs, gcMs = new AtomicLong
  val inputBytes, inputRecords, shuffleRead, shuffleWrite, shuffleRecords = new AtomicLong
  val spillBytes = new AtomicLong

  def snapshot: Snap = Snap(jobs.get, stages.get, tasks.get, runMs.get / 1e3, cpuNs.get / 1e9,
    gcMs.get / 1e3, inputBytes.get, inputRecords.get, shuffleRead.get, shuffleWrite.get,
    shuffleRecords.get, spillBytes.get)
}

/** Immutable counter values; `-` gives the work between two snapshots. */
final case class Snap(jobs: Long, stages: Long, tasks: Long, taskS: Double, cpuS: Double,
    gcS: Double, inputBytes: Long, inputRecords: Long, shuffleRead: Long, shuffleWrite: Long,
    shuffleRecords: Long, spillBytes: Long, scanBytes: Long = 0L) {
  def -(o: Snap): Snap = Snap(jobs - o.jobs, stages - o.stages, tasks - o.tasks,
    taskS - o.taskS, cpuS - o.cpuS, gcS - o.gcS, inputBytes - o.inputBytes,
    inputRecords - o.inputRecords, shuffleRead - o.shuffleRead, shuffleWrite - o.shuffleWrite,
    shuffleRecords - o.shuffleRecords, spillBytes - o.spillBytes, scanBytes - o.scanBytes)
  def +(o: Snap): Snap = Snap(jobs + o.jobs, stages + o.stages, tasks + o.tasks,
    taskS + o.taskS, cpuS + o.cpuS, gcS + o.gcS, inputBytes + o.inputBytes,
    inputRecords + o.inputRecords, shuffleRead + o.shuffleRead, shuffleWrite + o.shuffleWrite,
    shuffleRecords + o.shuffleRecords, spillBytes + o.spillBytes, scanBytes + o.scanBytes)
  /** Task time over (wall × cores): how busy the cores were. */
  def coreBusy(wallS: Double, cores: Int): Double = if (wallS <= 0) 0 else taskS / (wallS * cores)
}

object Snap {
  val zero: Snap = Snap(0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0)

}

/** Bytes of the files that finished queries' scans selected: the
  * `filesSize` metric of every scan node in the executed plan.
  * Spark's per-task `bytesRead`, and Hadoop's file-system statistics,
  * miss parquet column reads here (the self-test shows a few KB for a
  * 200 KB file), so input is measured from the plans instead.
  */
final class ScanBytes extends org.apache.spark.sql.util.QueryExecutionListener {
  import org.apache.spark.sql.execution.SparkPlan
  import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
  import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
  val bytes = new AtomicLong

  private def walk(p: SparkPlan): Unit = {
    p.metrics.get("filesSize").foreach(m => bytes.addAndGet(m.value))
    p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case q: QueryStageExec => walk(q.plan)
      case _: ReusedExchangeExec => // counted where it first ran
      case _ => p.children.foreach(walk)
    }
    p.subqueries.foreach(walk)
  }

  override def onSuccess(funcName: String, qe: org.apache.spark.sql.execution.QueryExecution,
      durationNs: Long): Unit = walk(qe.executedPlan)
  override def onFailure(funcName: String, qe: org.apache.spark.sql.execution.QueryExecution,
      exception: Exception): Unit = ()
}

/** Counts jobs, completed stages and task metrics for the whole
  * application, and per span: a job submitted from a thread whose
  * Spark local property [[BenchListener.SpanKey]] names a span is
  * charged to that span.
  */
final class BenchListener extends SparkListener {
  val total = new Counters
  private val bySpan = new ConcurrentHashMap[Long, Counters]()
  private val stageSpan = new ConcurrentHashMap[Int, Long]()

  private def spanCounters(id: Long): Counters = bySpan.computeIfAbsent(id, _ => new Counters)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    total.jobs.incrementAndGet()
    Option(e.properties).flatMap(p => Option(p.getProperty(BenchListener.SpanKey))).foreach { s =>
      val id = s.toLong
      spanCounters(id).jobs.incrementAndGet()
      e.stageIds.foreach(stageSpan.put(_, id))
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    total.stages.incrementAndGet()
    Option(stageSpan.get(e.stageInfo.stageId)).foreach(id => spanCounters(id).stages.incrementAndGet())
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val targets = total +: Option(stageSpan.get(e.stageId)).map(spanCounters).toSeq
    val m = e.taskMetrics
    targets.foreach { c =>
      c.tasks.incrementAndGet()
      if (m != null) {
        c.runMs.addAndGet(m.executorRunTime)
        c.cpuNs.addAndGet(m.executorCpuTime)
        c.gcMs.addAndGet(m.jvmGCTime)
        c.inputBytes.addAndGet(m.inputMetrics.bytesRead)
        c.inputRecords.addAndGet(m.inputMetrics.recordsRead)
        c.shuffleRead.addAndGet(m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead)
        c.shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        c.shuffleRecords.addAndGet(m.shuffleWriteMetrics.recordsWritten)
        c.spillBytes.addAndGet(m.diskBytesSpilled)
      }
    }
  }

  def forSpan(id: Long): Snap = Option(bySpan.get(id)).map(_.snapshot).getOrElse(Snap.zero)
}

object BenchListener {
  val SpanKey = "graftbench.span"
}

/** One timed call into a layer. `req` groups the spans of one request. */
final case class Span(id: Long, parent: Long, req: Long, name: String, thread: String,
    startNs: Long, endNs: Long)

/** In-memory span recorder, off unless the run is traced. */
final class Tracer(sc: SparkContext, val enabled: Boolean) {
  private val nextId = new AtomicLong(1)
  private val nextReq = new AtomicLong(1)
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val stack = ThreadLocal.withInitial[List[Long]](() => Nil)
  private val request = new ThreadLocal[java.lang.Long]

  def all: Seq[Span] = spans.asScala.toSeq

  /** Seconds one span costs the calling thread: the median of five
    * timings of 2000 empty spans, recorded and then discarded.
    */
  lazy val costPerSpanS: Double = {
    val n = 2000
    val before = spans.size
    val times = (1 to 5).map { _ =>
      val t0 = System.nanoTime()
      (1 to n).foreach(_ => span("trace.calibration")(()))
      (System.nanoTime() - t0) / 1e9 / n
    }
    spans.removeIf(_.name == "trace.calibration")
    require(spans.size == before)
    times.sorted.apply(2)
  }

  /** Runs `body` as a new request: spans inside share one request id. */
  def request[A](body: => A): A =
    if (!enabled) body else {
      val prev = request.get
      request.set(nextReq.getAndIncrement())
      try body finally request.set(prev)
    }

  def span[A](name: String)(body: => A): A =
    if (!enabled) body else {
      val id = nextId.getAndIncrement()
      val parents = stack.get
      val prevProp = sc.getLocalProperty(BenchListener.SpanKey)
      stack.set(id :: parents)
      sc.setLocalProperty(BenchListener.SpanKey, id.toString)
      val t0 = System.nanoTime()
      try body finally {
        val t1 = System.nanoTime()
        sc.setLocalProperty(BenchListener.SpanKey, prevProp)
        stack.set(parents)
        val req = Option(request.get).map(_.longValue).getOrElse(0L)
        spans.add(Span(id, parents.headOption.getOrElse(0L), req, name,
          Thread.currentThread.getName, t0, t1))
      }
    }
}

object Tracer {
  /** Length of the union of the intervals. */
  def covered(iv: Seq[(Long, Long)]): Long = {
    var total = 0L; var curS = Long.MinValue; var curE = Long.MinValue
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }

  /** Span time minus the time its direct children cover, summed by name. */
  def selfSeconds(spans: Seq[Span]): Map[String, Double] = {
    val kids = spans.groupBy(_.parent)
    spans.groupBy(_.name).map { case (n, ss) =>
      n -> ss.map { s =>
        val c = kids.getOrElse(s.id, Nil).map(k => (math.max(k.startNs, s.startNs), math.min(k.endNs, s.endNs)))
        (s.endNs - s.startNs - covered(c)) / 1e9
      }.sum
    }
  }

  /** Wall time in [t0, t1] that no root span covers. */
  def unattributedS(spans: Seq[Span], t0: Long, t1: Long): Double = {
    val roots = spans.filter(_.parent == 0L)
      .map(s => (math.max(s.startNs, t0), math.min(s.endNs, t1))).filter(x => x._2 > x._1)
    (t1 - t0 - covered(roots)) / 1e9
  }

  def toJson(spans: Seq[Span], listener: BenchListener): String =
    spans.sortBy(_.startNs).map { s =>
      val c = listener.forSpan(s.id)
      s"""{"id":${s.id},"parent":${s.parent},"req":${s.req},"name":${Out.str(s.name)},""" +
        s""""thread":${Out.str(s.thread)},"start_ns":${s.startNs},"end_ns":${s.endNs},""" +
        s""""jobs":${c.jobs},"stages":${c.stages},"tasks":${c.tasks},"task_s":${c.taskS}}"""
    }.mkString("[\n", ",\n", "\n]\n")
}
