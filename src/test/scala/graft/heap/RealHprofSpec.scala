package graft.heap

import graft.SparkTestSession
import HprofModel.Tag
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The ultimate format check: dump a REAL HotSpot JVM with jmap and
  * run the full distributed ingestion over it — real class dumps,
  * compact strings, every GC-root flavor, thousands of classes.
  * Skips cleanly if jmap can't produce a dump in this environment.
  */
class RealHprofSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private def export(hd: HeapDump): HeapTables = {
    val out = java.nio.file.Files.createTempDirectory("realheap_pq").toString
    hd.writeParquet(out)
    new HeapTables(spark, out)
  }

  private def makeRealDump(jvmFlags: Seq[String] = Seq.empty): Option[String] = {
    val dir = java.nio.file.Files.createTempDirectory("realheap")
    val src = dir.resolve("Tiny.java")
    java.nio.file.Files.writeString(src,
      """public class Tiny {
        |  public static void main(String[] a) throws Exception {
        |    java.util.Map<String, String> m = new java.util.HashMap<>();
        |    for (int i = 0; i < 1000; i++) m.put("key" + i, "val" + i);
        |    System.out.println("READY " + m.size());
        |    Thread.sleep(120000);
        |  }
        |}""".stripMargin)
    if (new ProcessBuilder("javac", src.toString).inheritIO().start().waitFor() != 0) return None
    val cmd = Seq("java", "-Xmx64m") ++ jvmFlags ++ Seq("-cp", dir.toString, "Tiny")
    val proc = new ProcessBuilder(cmd: _*).start()
    try {
      val reader = new java.io.BufferedReader(new java.io.InputStreamReader(proc.getInputStream))
      val line = reader.readLine() // wait for READY
      if (line == null || !line.startsWith("READY")) return None
      val hprof = dir.resolve("real.hprof").toString
      val jmap = new ProcessBuilder("jmap", s"-dump:live,format=b,file=$hprof",
        proc.pid().toString).start()
      if (jmap.waitFor() != 0) return None
      Some(hprof)
    } finally proc.destroyForcibly()
  }

  test("real jmap heap dump ingests end to end") {
    makeRealDump() match {
      case None => cancel("jmap dump unavailable in this environment")
      case Some(hprof) =>
        info(f"dump size: ${new java.io.File(hprof).length() / 1e6}%.1f MB")
        val hd = new HeapDump(spark, hprof)
        assert(hd.header.formatName === "JAVA PROFILE 1.0.2")
        assert(hd.records.exists(r => Tag.isHeapSegment(r.tag)))

        // thousands of real classes resolve
        assert(hd.index.classes.size > 500)
        val hm = hd.index.classes.values.find(_.name == "java.util.HashMap")
        assert(hm.isDefined)
        assert(hm.get.layout.map(_.name).contains("size"))

        // object index sees real strings
        val tables = export(hd)
        val idx = tables.system("_object_index").get
        val nStrings = idx.filter(col("type_name") === "java.lang.String").count()
        assert(nStrings > 1000)

        // typed decode of real String instances + content via byte[]
        val strs = tables.byClass("java.lang.String").get
        assert(strs.columns.contains("value"))
        val bytes = tables.system("_primitive_arrays_byte").get
        val decode = udf((v: scala.collection.Seq[Byte]) =>
          new String(v.toArray, java.nio.charset.StandardCharsets.ISO_8859_1))
        val contents = strs.select(col("value").as("bid"))
          .join(bytes.withColumnRenamed("obj_id", "bid"), "bid")
          .select(decode(col("values")).as("text"))
          .filter(col("text").isin("key999", "val999", "READY "))
        assert(contents.count() >= 2)

        // real GC roots of several kinds
        val rootKinds = tables.system("_gc_roots").get.select("root_type").distinct().count()
        assert(rootKinds >= 3)

        // hierarchy: HashMap extends AbstractMap
        val hier = hd.classHierarchy
          .filter(col("class_name") === "java.util.HashMap")
          .select("super_class_name").collect().map(_.getString(0))
        assert(hier.contains("java.util.AbstractMap"))
    }
  }

  /** Layout-drift hardening: the SAME workload dumped from a JVM with
    * compact strings DISABLED and class-data sharing off — String
    * backing flips from byte[] to char[], the CDS-mapped metadata
    * layout disappears, object addresses shift. The parser must not
    * care.
    */
  test("real jmap dump from a -XX:-CompactStrings -Xshare:off JVM ingests too") {
    makeRealDump(Seq("-XX:-CompactStrings", "-Xshare:off")) match {
      case None => cancel("jmap dump unavailable in this environment")
      case Some(hprof) =>
        info(f"dump size: ${new java.io.File(hprof).length() / 1e6}%.1f MB")
        val hd = new HeapDump(spark, hprof)
        assert(hd.header.formatName === "JAVA PROFILE 1.0.2")
        assert(hd.index.classes.size > 500)

        // with compact strings DISABLED every String's byte[] holds
        // UTF-16 code units (2 bytes/char, platform order) instead of
        // Latin-1 — the payload layout the first fixture never shows
        val tables = export(hd)
        val strs = tables.byClass("java.lang.String").get
        val bytes = tables.system("_primitive_arrays_byte").get
        val decodeUtf16 = udf((v: scala.collection.Seq[Byte]) =>
          new String(v.toArray, java.nio.charset.StandardCharsets.UTF_16LE))
        val contents = strs.select(col("value").as("bid"))
          .join(bytes.withColumnRenamed("obj_id", "bid"), "bid")
          .select(decodeUtf16(col("values")).as("text"))
          .filter(col("text").isin("key999", "val999"))
        assert(contents.count() >= 2,
          "UTF-16 strings must decode on a -XX:-CompactStrings dump")

        // record tallies sane: class dumps, instances, prim arrays all seen
        val counts = hd.countRecords.collect()
          .map(r => r.getString(0) -> r.getLong(1)).toMap
        assert(counts.getOrElse("HeapDumpSegment", 0L) + counts.getOrElse("HeapDump", 0L) >= 1L)
        val rootKinds = tables.system("_gc_roots").get.select("root_type").distinct().count()
        assert(rootKinds >= 3)
    }
  }

  /** Tool-path + content variation: `jcmd GC.heap_dump -all` dumps
    * WITHOUT the live filter — no forced GC, unreachable objects
    * included — a dump state neither jmap `-dump:live` fixture ever
    * shows (dead objects whose referents may already be gone). The
    * parser must treat reachability as an analysis question, never a
    * format assumption.
    */
  test("real jcmd GC.heap_dump -all (unreachable objects included) ingests too") {
    val dir = java.nio.file.Files.createTempDirectory("realheap_all")
    val src = dir.resolve("Churn.java")
    java.nio.file.Files.writeString(src,
      """public class Churn {
        |  public static void main(String[] a) throws Exception {
        |    java.util.Map<String, String> m = new java.util.HashMap<>();
        |    for (int i = 0; i < 500; i++) m.put("live" + i, "val" + i);
        |    for (int i = 0; i < 20000; i++) { String s = "dead" + i; if (s.length() == 0) System.out.print(s); }
        |    System.out.println("READY " + m.size());
        |    Thread.sleep(120000);
        |  }
        |}""".stripMargin)
    if (new ProcessBuilder("javac", src.toString).inheritIO().start().waitFor() != 0)
      cancel("javac unavailable")
    val proc = new ProcessBuilder("java", "-Xmx128m", "-cp", dir.toString, "Churn").start()
    try {
      val reader = new java.io.BufferedReader(new java.io.InputStreamReader(proc.getInputStream))
      val line = reader.readLine()
      if (line == null || !line.startsWith("READY")) cancel("fixture JVM failed to start")
      val hprof = dir.resolve("all.hprof").toString
      val jcmd = new ProcessBuilder("jcmd", proc.pid().toString,
        "GC.heap_dump", "-all", hprof).start()
      if (jcmd.waitFor() != 0) cancel("jcmd heap dump unavailable in this environment")
      info(f"dump size: ${new java.io.File(hprof).length() / 1e6}%.1f MB")
      val hd = new HeapDump(spark, hprof)
      assert(hd.header.formatName === "JAVA PROFILE 1.0.2")
      assert(hd.index.classes.size > 500)
      // the -all dump carries the garbage the live fixtures never
      // show; the live keys are still present among it
      val tables = export(hd)
      val strs = tables.byClass("java.lang.String").get
      val bytes = tables.system("_primitive_arrays_byte").get
      val decode = udf((v: scala.collection.Seq[Byte]) =>
        new String(v.toArray, java.nio.charset.StandardCharsets.ISO_8859_1))
      val contents = strs.select(col("value").as("bid"))
        .join(bytes.withColumnRenamed("obj_id", "bid"), "bid")
        .select(decode(col("values")).as("text"))
      assert(contents.filter(col("text") === "live499").count() >= 1)
      val rootKinds = tables.system("_gc_roots").get.select("root_type").distinct().count()
      assert(rootKinds >= 3)
    } finally proc.destroyForcibly()
  }

  /** Scale + content variation the Tiny fixtures cannot produce: dump
    * THIS JVM — the one running Spark and the whole test suite — via
    * HotSpotDiagnosticMXBean (the in-process face of jcmd
    * GC.heap_dump). Thousands of loaded classes, JDK-17 hidden
    * classes (lambdas — names the synthetic writer never emits), live
    * platform threads with deep stacks, every reference flavor. The
    * closest in-sandbox stand-in for "a dump from a different real
    * application".
    */
  test("self-dump of the running Spark test JVM ingests end to end") {
    val dir = java.nio.file.Files.createTempDirectory("realheap_self")
    val hprof = dir.resolve("self.hprof").toString
    try {
      val mx = java.lang.management.ManagementFactory.getPlatformMXBean(
        classOf[com.sun.management.HotSpotDiagnosticMXBean])
      mx.dumpHeap(hprof, true) // live=true bounds the file to the live set
    } catch { case e: Exception => cancel(s"self-dump unavailable: ${e.getMessage}") }
    info(f"dump size: ${new java.io.File(hprof).length() / 1e6}%.1f MB")
    val hd = new HeapDump(spark, hprof)
    assert(hd.header.formatName === "JAVA PROFILE 1.0.2")
    // real-application scale: thousands of classes, including hidden
    // ones (lambda/method-handle forms carry a /0x… suffix)
    assert(hd.index.classes.size > 2000, s"classes: ${hd.index.classes.size}")
    // "$$Lambda" without the trailing "$": JDK 21 dropped the numeric
    // counter from lambda proxy names (Foo$$Lambda/0x… vs 17's
    // Foo$$Lambda$123/0x…), and this spec must survive a JDK bump
    assert(hd.index.classes.values.exists(_.name.contains("$$Lambda")),
      "a real JVM dump must contain lambda classes — names the synthetic writer never emits")
    // Spark itself is in the dump
    assert(hd.index.classes.values.exists(_.name.startsWith("org.apache.spark.")))
    // live threads with real stacks
    assert(hd.stackTraces.count() > 5)
    val tables = export(hd)
    val rootKinds = tables.system("_gc_roots").get.select("root_type").distinct().count()
    assert(rootKinds >= 4, s"root kinds: $rootKinds")
    // the census machinery holds at real heterogeneity
    assert(tables.system("_object_index").get.count() > 50000L)
  }
}
