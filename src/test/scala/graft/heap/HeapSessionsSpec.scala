package graft.heap

import graft.SparkTestSession
import HprofModel.BasicType
import org.scalatest.funsuite.AnyFunSuite

/** Session registry parity with the reference MCP surface: open /
  * list / query / close keep files; cleanup deletes them and demands
  * confirmation.
  */
class HeapSessionsSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private def export(tag: String, n: Int): String = {
    val dir = java.nio.file.Files.createTempDirectory(s"sess_$tag")
    exportTo(dir.resolve("pq").toString, n)
  }

  /** A dump of `n` Integers exported to `out`, replacing what is there. */
  private def exportTo(out: String, n: Int): String = {
    val w = new HprofWriter()
    val obj = w.defineClass("java.lang.Object")
    val box = w.defineClass("java.lang.Integer", obj,
      instanceFields = Seq("value" -> BasicType.Int))
    (1 to n).foreach(i => w.instance(box, Seq(BasicType.Int -> i)))
    val hp = java.nio.file.Files.createTempFile("sess", ".hprof").toString
    w.writeTo(hp)
    new HeapDump(spark, hp).writeParquet(out)
    out
  }

  /** A dump with a finding for every tier-1 check, exported to a fresh
    * directory: duplicate strings, empty and single-element
    * collections, wasteful object and byte arrays, boxed numbers.
    */
  private def wasteExport(tag: String): String = {
    val w = new HprofWriter()
    val obj = w.defineClass("java.lang.Object")
    val str = w.defineClass("java.lang.String", obj,
      instanceFields = Seq("value" -> BasicType.Object, "hash" -> BasicType.Int))
    val al = w.defineClass("java.util.ArrayList", obj,
      instanceFields = Seq("size" -> BasicType.Int, "elementData" -> BasicType.Object))
    val hm = w.defineClass("java.util.HashMap", obj,
      instanceFields = Seq("size" -> BasicType.Int, "table" -> BasicType.Object))
    val int = w.defineClass("java.lang.Integer", obj, instanceFields = Seq("value" -> BasicType.Int))
    val long = w.defineClass("java.lang.Long", obj, instanceFields = Seq("value" -> BasicType.Long))
    val arr = w.defineClass("[Ljava.lang.Object;", obj)
    Seq("hello", "hello", "world").foreach(t => w.instance(str, Seq(BasicType.Object -> w.byteArray(t), BasicType.Int -> 0)))
    // byte[] only: every other primitive-array table is empty
    w.primArray(BasicType.Byte, Seq.fill(2000)(1.toByte))
    w.primArray(BasicType.Byte, Seq.empty)
    w.primArray(BasicType.Byte, Seq(0.toByte, 0.toByte, 0.toByte))
    Seq(0, 1, 3).foreach(n => w.instance(al, Seq(BasicType.Int -> n, BasicType.Object -> 0L)))
    Seq(0, 1).foreach(n => w.instance(hm, Seq(BasicType.Int -> n, BasicType.Object -> 0L)))
    (1 to 3).foreach(i => w.instance(int, Seq(BasicType.Int -> i)))
    w.instance(long, Seq(BasicType.Long -> 9L))
    w.objArray(arr, Seq.empty)
    w.objArray(arr, Seq(0L, 0L))
    w.objArray(arr, Seq(0L, 0L, 0L, 0L, 0L, 7L))
    val dir = java.nio.file.Files.createTempDirectory(s"sess_$tag")
    val hp = dir.resolve("waste.hprof").toString
    w.writeTo(hp)
    val out = dir.resolve("pq").toString
    new HeapDump(spark, hp).writeParquet(out)
    out
  }

  /** Names of the first stage of every job `body` starts; a parquet
    * read's schema inference shows up as `parquet at <file>:<line>`.
    */
  private def jobNames(body: => Unit): Seq[String] = {
    val names = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        names.add(js.stageInfos.map(_.name).headOption.getOrElse(""))
    }
    val sc = spark.sparkContext
    org.apache.spark.ListenerDrain(sc)
    sc.addSparkListener(listener)
    try { body; org.apache.spark.ListenerDrain(sc) } finally sc.removeSparkListener(listener)
    names.toArray(Array.empty[String]).toSeq
  }

  test("open/list/query/close across two concurrent sessions") {
    val hs = new HeapSessions(spark)
    val a = hs.open(export("a", 3), "dump_a")
    val b = hs.open(export("b", 5), "dump_b")
    assert(hs.list.map(_.id) === Seq("dump_a", "dump_b"))
    assert(a.tables.contains("_object_index"))

    // prefixed views disambiguate concurrent sessions
    val na = spark.sql("SELECT COUNT(*) FROM dump_a___object_index WHERE type_name = 'java.lang.Integer'")
      .collect()(0).getLong(0)
    val nb = spark.sql("SELECT COUNT(*) FROM dump_b___object_index WHERE type_name = 'java.lang.Integer'")
      .collect()(0).getLong(0)
    assert(na === 3L && nb === 5L)

    // bare-name query binds to the addressed session
    assert(hs.query("dump_a", "SELECT SUM(value) FROM java_lang_Integer")
      .collect()(0).getLong(0) === 6L)
    assert(hs.query("dump_b", "SELECT SUM(value) FROM java_lang_Integer")
      .collect()(0).getLong(0) === 15L)

    assert(hs.listTables("dump_a").count() > 0)

    val dirA = a.dir
    hs.close("dump_a")
    assert(hs.list.map(_.id) === Seq("dump_b"))
    assert(new java.io.File(dirA).exists, "close must keep files")
    intercept[NoSuchElementException](hs.query("dump_a", "SELECT 1"))
  }

  test("queryPage walks a result three pages with has_more/next_offset") {
    val hs = new HeapSessions(spark)
    hs.open(export("p", 7), "dump_p")
    val sql = "SELECT value FROM java_lang_Integer ORDER BY value"
    val p1 = hs.queryPage("dump_p", sql, limit = 3)
    assert(p1.rows.map(_.getInt(0)).toSeq === Seq(1, 2, 3))
    assert(p1.hasMore && p1.nextOffset === 3L)
    assert(p1.columns === Seq("value"))
    val p2 = hs.queryPage("dump_p", sql, limit = 3, offset = p1.nextOffset)
    assert(p2.rows.map(_.getInt(0)).toSeq === Seq(4, 5, 6))
    assert(p2.hasMore && p2.nextOffset === 6L)
    val p3 = hs.queryPage("dump_p", sql, limit = 3, offset = p2.nextOffset)
    assert(p3.rows.map(_.getInt(0)).toSeq === Seq(7))
    assert(!p3.hasMore && p3.nextOffset === 7L)
    intercept[IllegalArgumentException](hs.queryPage("dump_p", sql, limit = 0))
    hs.close("dump_p")
  }

  test("bare-view ownership is shared across registry instances") {
    // instance A's bare views must not survive instance B's switch:
    // ownership lives in the companion, keyed by SparkSession
    val hsA = new HeapSessions(spark)
    val hsB = new HeapSessions(spark)
    hsA.open(export("xa", 2), "dump_xa")
    assert(hsA.query("dump_xa", "SELECT COUNT(*) FROM java_lang_Integer")
      .collect()(0).getLong(0) === 2L)
    hsB.open(export("xb", 4), "dump_xb")
    // the bare name now belongs to dump_xb, even though A registered it
    assert(spark.sql("SELECT COUNT(*) FROM java_lang_Integer")
      .collect()(0).getLong(0) === 4L)
    hsB.close("dump_xb")
    // B's close dropped the bare views entirely; no stale resolution
    intercept[Exception](spark.sql("SELECT COUNT(*) FROM java_lang_Integer"))
    hsA.close("dump_xa")
  }

  test("analyzeJson emits the reference result shape as valid JSON") {
    import spark.implicits._
    val dir = export("j", 4)
    val json = new HeapAnalysis(new HeapTables(spark, dir))
      .analyzeJson(maxTier = 3, sessionId = "dump_j")
    // must round-trip through a real JSON parser
    val parsed = spark.read.json(Seq(json).toDS)
    val fields = parsed.schema.fieldNames.toSet
    assert(Set("session_id", "parquet_dir", "summary", "top_types", "categories",
      "byte_array_distribution", "waste_findings",
      "referrer_stats", "ownership", "retained", "path_exemplars",
      "classloaders", "top_retained", "references",
      "total_estimated_waste_bytes").subsetOf(fields), fields)
    assert(!parsed.schema.fieldNames.contains("_corrupt_record"), json.take(400))
    // reference shape: summary is ONE object (not a row array) with
    // session/dir metadata alongside
    assert(parsed.schema("summary").dataType.typeName === "struct")
    val head = parsed.select("session_id", "parquet_dir").collect()(0)
    assert(head.getString(0) === "dump_j")
    assert(head.getString(1) === dir)
  }

  test("cleanup requires confirm and deletes the directory") {
    val hs = new HeapSessions(spark)
    val s = hs.open(export("c", 2), "dump_c")
    intercept[IllegalArgumentException](hs.cleanup("dump_c"))
    assert(new java.io.File(s.dir).exists)
    hs.cleanup("dump_c", confirm = true)
    assert(!new java.io.File(s.dir).exists)
    assert(hs.list.isEmpty)
  }

  test("a session resolves each table once, from any thread") {
    val hs = new HeapSessions(spark)
    val dir = export("memo", 3)
    hs.open(dir, "dump_memo")
    val t = hs.heapTables("dump_memo")
    assert(hs.heapTables("dump_memo") eq t)
    assert(t.system("_object_index").get eq t.system("_object_index").get)
    assert(t.byClass("java.lang.Integer").get eq t.byClass("java.lang.Integer").get)
    // a fresh instance asked by 8 threads at once still reads once
    val fresh = new HeapTables(spark, dir)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
    try {
      val fs = (1 to 8).map(_ => pool.submit(() => fresh.system("_object_index").get))
      val dfs = fs.map(_.get())
      assert(dfs.forall(_ eq dfs.head))
    } finally pool.shutdown()
    hs.close("dump_memo")
  }

  test("analyze on an open session reads no parquet footer; open reads each table once") {
    val hs = new HeapSessions(spark)
    val dir = wasteExport("jobs")
    var sess: HeapSessions#Session = null
    val openJobs = jobNames { sess = hs.open(dir, "dump_jobs") }
    // each table's footer is read on the driver: open runs no Spark job
    assert(openJobs.isEmpty, openJobs)
    val first = jobNames(hs.analyze("dump_jobs", maxTier = 1, graph = false))
    assert(!first.exists(_.startsWith("parquet at")), first)
    // one _object_index census, footer row counts, driver-sorted small results
    assert(first.size <= 15, first)
    val second = jobNames(hs.analyze("dump_jobs", maxTier = 1, graph = false))
    assert(second.size <= first.size, (first, second))
    assert(!second.exists(_.startsWith("parquet at")), second)
    hs.close(sess.id)
  }

  test("a repeated tier-1 analyze compiles no generated class") {
    // Spark's cache of compiled classes keeps its default 100 entries
    // here, as in any session the program did not build: a report whose
    // classes do not fit recompiles part of them on every request
    val hs = new HeapSessions(spark)
    val sess = hs.open(wasteExport("codegen"), "dump_codegen")
    val first = hs.analyze(sess.id, maxTier = 1, graph = false)
    val before = org.apache.spark.CodegenCompiles()
    val second = hs.analyze(sess.id, maxTier = 1, graph = false)
    assert(org.apache.spark.CodegenCompiles() - before === 0L)
    assert(second === first)
    hs.close(sess.id)
  }

  test("a reopen after a re-export sees the new dump through query and analyze") {
    val hs = new HeapSessions(spark)
    val dir = export("reexp", 3)
    def boxed(json: String): Long = graft.Json.parse(json).asInstanceOf[Map[String, Any]]("waste_findings")
      .asInstanceOf[Seq[Map[String, Any]]].find(_("check_name") == "Boxed Primitives")
      .map(_("affected_count").toString.toDouble.toLong).getOrElse(0L)
    def count(): Long = hs.query("dump_reexp", "SELECT COUNT(*) FROM java_lang_Integer")
      .collect()(0).getLong(0)
    hs.open(dir, "dump_reexp")
    assert(count() === 3L)
    assert(boxed(hs.analyze("dump_reexp", maxTier = 1, graph = false)) === 3L)
    exportTo(dir, 6)
    hs.open(dir, "dump_reexp")
    assert(count() === 6L)
    assert(boxed(hs.analyze("dump_reexp", maxTier = 1, graph = false)) === 6L)
    hs.close("dump_reexp")
  }
}
