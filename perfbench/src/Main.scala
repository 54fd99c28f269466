package graftbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.ListenerDrain
import org.apache.spark.sql.SparkSession
import scala.jdk.CollectionConverters._

object Out {
  def str(s: String): String = graft.Json.str(s)
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.lang.Double.toString(v)
  def metric(name: String, value: Double, unit: String): String =
    s"${str(name)}: {${str("value")}: ${num(value)}, ${str("unit")}: ${str(unit)}}"
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
  /** Linear interpolation between closest ranks. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = pos.toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
}

/** Attempted and failed operations; a call fails if it throws or if
  * one of its output checks does not hold.
  */
final class Ops {
  val attempted = new AtomicLong
  val failed = new AtomicLong
  private val latencies = new java.util.concurrent.ConcurrentHashMap[String, ConcurrentLinkedQueue[Double]]()

  def log(kind: String, ms: Double): Unit =
    System.err.println(f"[perfbench] $kind%s $ms%.1f ms")

  def fail(what: String): Unit = {
    failed.incrementAndGet()
    System.err.println(s"[perfbench] FAILED: $what")
  }

  /** Runs and times one call; its latency is recorded under `kind`
    * unless it throws, which counts as a failure. Output checks run
    * after the timed call, through [[verify]].
    */
  def call[A](kind: String)(body: => A): Option[(A, Double)] = {
    attempted.incrementAndGet()
    val t0 = System.nanoTime()
    try {
      val a = body
      val ms = (System.nanoTime() - t0) / 1e6
      latencies.computeIfAbsent(kind, _ => new ConcurrentLinkedQueue[Double]()).add(ms)
      log(kind, ms)
      Some((a, ms))
    } catch {
      case e: Exception =>
        fail(s"$kind threw ${e.getClass.getName}: ${e.getMessage}")
        None
    }
  }

  /** Output problems found for a call already counted as attempted. */
  def verify(problems: Seq[String]): Unit = problems.foreach(fail)

  /** A check outside any timed call (set-up, self-test). */
  def check(what: String, ok: Boolean): Unit = {
    attempted.incrementAndGet()
    if (!ok) fail(what)
  }

  def ms(kind: String): Seq[Double] =
    Option(latencies.get(kind)).map(_.asScala.toSeq).getOrElse(Nil)
  def clear(): Unit = latencies.clear()
}

/** What one workload run hands back to [[Main]]. */
final case class Measured(
    jobS: Seq[Double], callMs: Seq[Double],
    named: Seq[(String, Double, String)], notes: Seq[(String, String)] = Nil)

trait Workload {
  /** Generates the inputs into the work directory and prepares them. */
  def prepare(): Unit
  /** Runs the calls once before timing starts, so the measured calls
    * find the JVM and Spark warm.
    */
  def warmup(): Unit
  def inputProps: Seq[(String, String)]
  /** Runs the workload's clients until `seconds` have passed. */
  def measure(seconds: Double): Measured
  /** Serial, traced calls into each layer; returns per-layer metrics. */
  def layers(): Seq[(String, Double)]
  def close(): Unit = ()
}

final class Ctx(val spark: SparkSession, val work: String, val seed: Long,
    val tracer: Tracer, val listener: BenchListener, val cores: Int) {
  val ops = new Ops
  private val scans = new ScanBytes
  spark.listenerManager.register(scans)
  def drain(): Unit = ListenerDrain(spark.sparkContext)
  def snap: Snap = { drain(); listener.total.snapshot.copy(scanBytes = scans.bytes.get) }

  /** Times `body` alone on the engine: wall seconds and the Spark work
    * it caused (exact because nothing else runs meanwhile).
    */
  def alone[A](name: String)(body: => A): (A, Double, Snap) = {
    val s0 = snap
    val t0 = System.nanoTime()
    val a = tracer.request(tracer.span(name)(body))
    val dt = (System.nanoTime() - t0) / 1e9
    (a, dt, snap - s0)
  }

  def dir(name: String): String = {
    val f = new java.io.File(work, name)
    f.mkdirs()
    f.getPath
  }
}

object Files {
  def rm(f: java.io.File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(rm))
    f.delete(): Unit
  }
  def rm(path: String): Unit = rm(new java.io.File(path))

  /** (parquet files, bytes) under a directory tree. */
  def parquetFiles(path: String): (Int, Long) = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk) else Seq(f)
    val fs = walk(new java.io.File(path)).filter(_.getName.endsWith(".parquet"))
    (fs.size, fs.map(_.length()).sum)
  }

  /** Row count per table directory, read from the parquet footers. */
  def rowCounts(path: String): Map[String, Long] = {
    val conf = new org.apache.hadoop.conf.Configuration()
    Option(new java.io.File(path).listFiles()).toSeq.flatten.filter(_.isDirectory).map { d =>
      val rows = Option(d.listFiles()).toSeq.flatten.filter(_.getName.endsWith(".parquet")).map { f =>
        val r = org.apache.parquet.hadoop.ParquetFileReader.open(
          org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
            new org.apache.hadoop.fs.Path(f.getPath), conf))
        try r.getRecordCount finally r.close()
      }.sum
      d.getName -> rows
    }.toMap
  }
}

/** Checks an export against the dump's generator counts. */
object ExportCheck {
  def apply(dir: String, facts: DumpFacts, mode: String): Seq[String] = {
    val rows = Files.rowCounts(dir)
    def classRows(cls: String): Long = rows.collect {
      case (t, n) if t.startsWith(cls + "_") && t.substring(cls.length + 1).forall(_.isDigit) => n
    }.sum
    val system = Seq(
      "_object_index" -> facts.objectIndexRows, "_object_arrays" -> facts.objectArrays,
      "_primitive_arrays_byte" -> facts.byteArrays, "_gc_roots" -> facts.gcRoots,
      "_class_hierarchy" -> facts.classesDefined.toLong)
    system.collect { case (t, want) if !rows.get(t).contains(want) =>
      s"$mode export $t rows ${rows.get(t)} != $want"
    } ++ facts.instancesByClass.toSeq.collect { case (c, want) if classRows(c) != want =>
      s"$mode export class $c rows ${classRows(c)} != $want"
    }
  }
}

/** Pins the listener's counters on plans whose answers are known. */
object ListenerSelfTest {
  def run(ctx: Ctx): Seq[String] = {
    val sc = ctx.spark.sparkContext
    val problems = Seq.newBuilder[String]
    def expect(what: String, ok: Boolean, got: Any): Unit =
      if (!ok) problems += s"listener self-test: $what (got $got)"

    // 1 job, a 4-task map stage and a 3-task reduce stage
    val (_, _, rep) = ctx.alone("selftest.repartition") {
      sc.parallelize(1 to 1000, 4).map(i => (i % 7, i))
        .partitionBy(new org.apache.spark.HashPartitioner(3)).count()
    }
    expect("repartition jobs == 1", rep.jobs == 1, rep.jobs)
    expect("repartition stages == 2", rep.stages == 2, rep.stages)
    expect("repartition tasks == 7", rep.tasks == 7, rep.tasks)
    expect("shuffle records written == 1000", rep.shuffleRecords == 1000, rep.shuffleRecords)
    expect("shuffle bytes read == written > 0",
      rep.shuffleWrite > 0 && rep.shuffleRead == rep.shuffleWrite,
      s"${rep.shuffleRead}/${rep.shuffleWrite}")

    // a parquet scan reads every row of the file and reports its size
    val path = ctx.dir("selftest") + "/ints"
    ctx.spark.range(0, 50000, 1, 1).selectExpr("id * 3 AS x")
      .write.mode("overwrite").parquet(path)
    val (_, fileBytes) = Files.parquetFiles(path)
    val (_, _, scan) = ctx.alone("selftest.scan") {
      ctx.spark.read.parquet(path).selectExpr("sum(x)").collect()
    }
    expect("scan records == 50000", scan.inputRecords == 50000, scan.inputRecords)
    expect("scan input bytes == file bytes", scan.scanBytes == fileBytes,
      s"${scan.scanBytes} vs file $fileBytes")
    System.err.println(s"[perfbench] self-test scan: file $fileBytes B, scan input ${scan.scanBytes} B, " +
      s"Spark task bytesRead ${scan.inputBytes} B")
    Files.rm(path)
    problems.result()
  }
}

/** Phase timings on stderr, for reading a slow run. */
object Log {
  def time[A](what: String)(body: => A): A = {
    val t0 = System.nanoTime()
    try body finally System.err.println(f"[perfbench] $what%s took ${(System.nanoTime() - t0) / 1e9}%.2f s")
  }
}

object Units {
  def of(name: String): String =
    if (name.endsWith("_mb_s")) "MB/s" else if (name.endsWith("_per_s")) "1/s"
    else if (name.endsWith("_ms")) "ms" else if (name.endsWith("_s")) "s"
    else if (name.endsWith("_mb")) "MB"
    else if (name.endsWith("core_busy") || name.endsWith("_frac") || name.endsWith("_ratio")) "ratio"
    else "count"
}

object Host {
  private def read(p: String): String =
    try new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(p)), "UTF-8")
    catch { case _: java.io.IOException => "" }

  def loadavg: Double = read("/proc/loadavg").split(" ").headOption
    .flatMap(_.toDoubleOption).getOrElse(Double.NaN)

  def peakRssMb: Double = read("/proc/self/status").linesIterator
    .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(Double.NaN)

  /** Milliseconds for a fixed single-thread integer loop; a slow
    * reading marks a loaded or throttled host.
    */
  def calibrationMs: Double = {
    def spin(): Long = {
      var x = 1L; var i = 0
      while (i < 50000000) { x = x * 6364136223846793005L + 1442695040888963407L; i += 1 }
      x
    }
    spin()
    val t0 = System.nanoTime()
    val x = spin()
    val ms = (System.nanoTime() - t0) / 1e6
    if (x == 42) ms + 1 else ms
  }
}

object Main {
  private val usage =
    "usage: Main --workload <serve|corpus> --seed <n> --seconds <s> --trace <0|1> --work <dir> [--spans <file>]"

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val workload = args.getOrElse("workload", sys.error(usage))
    val seed = args.get("seed").flatMap(_.toLongOption).getOrElse(sys.error(usage))
    val seconds = args.get("seconds").flatMap(_.toDoubleOption).getOrElse(sys.error(usage))
    val trace = args.get("trace") match {
      case Some("0") => false
      case Some("1") => true
      case _ => sys.error(usage)
    }
    val work = args.getOrElse("work", sys.error(usage))
    require(Set("serve", "corpus").contains(workload), s"unknown workload $workload")
    val code = try run(workload, seed, seconds, trace, work, args.get("spans")) catch {
      case e: Throwable =>
        e.printStackTrace()
        1
    }
    System.exit(code)
  }

  def session(work: String, cores: Int): SparkSession = {
    // the settings HeapServer.main and HeapMcp.main use, at nproc
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", new java.io.File(work, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new java.io.File(work, "warehouse").getPath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  private def run(workload: String, seed: Long, seconds: Double, trace: Boolean,
      work: String, spansFile: Option[String]): Int = {
    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val load0 = Host.loadavg
    val cores = Runtime.getRuntime.availableProcessors
    val spark = session(work, cores)
    val listener = new BenchListener
    spark.sparkContext.addSparkListener(listener)
    val sessionS = (System.currentTimeMillis() - jvmStart) / 1e3
    val calib = Host.calibrationMs
    val tracer = new Tracer(spark.sparkContext, trace)
    val ctx = new Ctx(spark, work, seed, tracer, listener, cores)
    val wl: Workload = workload match {
      case "serve" => new ServeWorkload(ctx)
      case "corpus" => new CorpusWorkload(ctx)
    }
    try {
      // input preparation is repeated and its median reported, so that
      // work moved into set-up shows as a change of setup_s
      def secs(what: String)(body: => Unit): Double = {
        val t0 = System.nanoTime()
        Log.time(what)(body)
        (System.nanoTime() - t0) / 1e9
      }
      val setups = (1 to 3).map(_ => secs("prepare")(wl.prepare()))
      val warmS = secs("warm-up")(wl.warmup())
      val setupS = sessionS + Stats.median(setups) + warmS
      // a traced run measures half a window with spans on; its serial
      // replays in layers() take the rest of the run's time
      val before = ctx.snap
      val t0 = System.nanoTime()
      val m = tracer.request(wl.measure(if (trace) seconds / 2 else seconds))
      val t1 = System.nanoTime()
      val metrics: Seq[(String, Double, String)] =
        if (!trace) Seq(
          ("setup_s", setupS, "s"),
          ("job_s", Stats.median(m.jobS), "s"),
          ("call_p50_ms", Stats.median(m.callMs), "ms"))
        else {
          val eng = ctx.snap - before
          val jobs = math.max(1, m.jobS.size).toDouble
          val wall = (t1 - t0) / 1e9
          val loopSpans = tracer.all
          val layer = wl.layers()
          val selfTest = ListenerSelfTest.run(ctx)
          selfTest.foreach(ctx.ops.fail)
          ctx.ops.attempted.incrementAndGet()
          spansFile.foreach { f =>
            java.nio.file.Files.write(java.nio.file.Paths.get(f),
              Tracer.toJson(tracer.all, listener).getBytes("UTF-8"))
          }
          layer.map { case (n, v) => (n, v, Units.of(n)) } ++ Seq(
            ("spark.jobs", eng.jobs / jobs, "count"),
            ("spark.stages", eng.stages / jobs, "count"),
            ("spark.tasks", eng.tasks / jobs, "count"),
            ("spark.task_s", eng.taskS / jobs, "s"),
            ("spark.gc_s", eng.gcS / jobs, "s"),
            ("spark.input_mb", eng.scanBytes / 1e6 / jobs, "MB"),
            ("spark.shuffle_read_mb", eng.shuffleRead / 1e6 / jobs, "MB"),
            ("spark.shuffle_write_mb", eng.shuffleWrite / 1e6 / jobs, "MB"),
            ("spark.spill_mb", eng.spillBytes / 1e6 / jobs, "MB"),
            ("spark.core_busy", eng.coreBusy(wall, cores), "ratio"),
            ("jvm.peak_rss_mb", Host.peakRssMb, "MB"),
            ("trace.overhead_frac", loopSpans.size / jobs * tracer.costPerSpanS / Stats.median(m.jobS), "ratio"),
            ("trace.unattributed_s", Tracer.unattributedS(loopSpans, t0, t1) / jobs, "s"),
            ("trace.spans", loopSpans.size.toDouble, "count"))
        }
      val selfS = if (trace) Tracer.selfSeconds(tracer.all).toSeq.sortBy(_._1)
        .map { case (n, v) => s"${Out.str(n)}: ${Out.num(v)}" }.mkString("{", ", ", "}") else "{}"
      val record = Seq(
        "workload" -> Out.str(workload), "seed" -> seed.toString,
        "trace" -> trace.toString, "nproc" -> cores.toString,
        "loadavg_start" -> Out.num(load0), "loadavg_end" -> Out.num(Host.loadavg),
        "calibration_ms" -> Out.num(calib), "peak_rss_mb" -> Out.num(Host.peakRssMb), "session_s" -> Out.num(sessionS),
        "prepare_runs_s" -> setups.map(Out.num).mkString("[", ", ", "]"), "warmup_s" -> Out.num(warmS),
        "jobs" -> m.jobS.size.toString, "calls" -> m.callMs.size.toString,
        "failed_frac" -> Out.num(ctx.ops.failed.get.toDouble / math.max(1, ctx.ops.attempted.get)),
        "input" -> wl.inputProps.map { case (k, v) => s"${Out.str(k)}: ${Out.str(v)}" }.mkString("{", ", ", "}"),
        "span_self_s" -> selfS,
        "named" -> m.named.map { case (n, v, u) => Out.metric(n, v, u) }.mkString("{", ", ", "}")) ++
        m.notes.map { case (k, v) => k -> Out.str(v) }
      println("RECORD " + record.map { case (k, v) => s"${Out.str(k)}: $v" }.mkString("{", ", ", "}"))
      val attempted = ctx.ops.attempted.get
      val failed = ctx.ops.failed.get
      println(s"""{"correct": ${failed == 0 && attempted > 0}, "attempted": $attempted, """ +
        s""""failed": $failed, "metrics": ${metrics.map { case (n, v, u) => Out.metric(n, v, u) }
          .mkString("{", ", ", "}")}}""")
      0
    } finally {
      wl.close()
      spark.stop()
    }
  }
}
