package graft.queries

import graft.GateQuery
import graft.heap._
import graft.heap.HprofModel.{BasicType, Sub}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Heap-module gate queries (SURVEY.md §2.A/B surfaced to the
  * driver): each builds a deterministic synthetic HPROF dump with the
  * A14 generator, runs the full distributed ingestion + analysis
  * path, and returns a DataFrame.
  *
  * The export lands at a FIXED path so the analysis gates can carry
  * real DuckDB oracles: for every waste check (the reference's
  * analyze_heap_parquet.py:234-1120 suite) DuckDB independently
  * re-derives the check's aggregate from the exported parquet and the
  * driver hash-compares. The synthetic heap is seeded so every
  * pattern each check looks for actually occurs (ingestion itself is
  * value-asserted against known heaps in HeapDumpSpec).
  */
object Heap {

  /** Export location embedded in the static oracle SQL. Scoped by pid
    * so concurrent JVMs (a test run beside a Verify run) can't clobber
    * each other's export mid-read; the oracle_sql.json a given Verify
    * run emits always points at that same run's directory.
    */
  val exportDir: String = {
    val pid = ProcessHandle.current().pid()
    s"${System.getProperty("java.io.tmpdir")}/graft_heap_gate_demo_$pid/parquet"
  }

  /** The same dump exported in the reference's non-robo DEFAULT mode:
    * ref fields materialized as STRUCT{id,type}. Gates over this
    * directory prove ref_field-dispatch parity (the analysis suite
    * reads `.id` from struct refs) AND the resolved export itself.
    */
  val exportDirResolved: String = s"${new java.io.File(exportDir).getParent}/parquet_resolved"

  /** One synthetic heap + parquet export per JVM, built lazily. The
    * heap is seeded with every waste pattern the B-checks detect:
    * duplicate strings/arrays, bad collections, bad object/primitive
    * arrays, boxed primitives, sparse/oversized backing arrays,
    * DirectByteBuffers, thread statuses, stack traces, statics.
    */
  private val cache = new java.util.concurrent.ConcurrentHashMap[String, String]()

  private def demoDir(spark: SparkSession): String =
    cache.computeIfAbsent("demo", _ => {
      val w = new HprofWriter()
      val obj = w.defineClass("java.lang.Object")
      val str = w.defineClass("java.lang.String", obj,
        instanceFields = Seq("value" -> BasicType.Object, "hash" -> BasicType.Int))
      val hm = w.defineClass("java.util.HashMap", obj,
        instanceFields = Seq("size" -> BasicType.Int, "table" -> BasicType.Object))
      val al = w.defineClass("java.util.ArrayList", obj,
        instanceFields = Seq("size" -> BasicType.Int, "elementData" -> BasicType.Object))
      val integerCls = w.defineClass("java.lang.Integer", obj,
        instanceFields = Seq("value" -> BasicType.Int))
      val longCls = w.defineClass("java.lang.Long", obj,
        instanceFields = Seq("value" -> BasicType.Long))
      val threadCls = w.defineClass("java.lang.Thread", obj,
        instanceFields = Seq("threadStatus" -> BasicType.Int))
      val dbbCls = w.defineClass("java.nio.DirectByteBuffer", obj,
        instanceFields = Seq("capacity" -> BasicType.Int, "position" -> BasicType.Int,
          "limit" -> BasicType.Int))
      val oaCls = w.defineClass("[Ljava.lang.Object;", obj)

      // B6/B12: 4 copies each of 10 unique payloads behind Strings
      val bs = (0 until 40).map(i => w.byteArray(s"payload-${i % 10}"))
      val strs = bs.map(b => w.instance(str, Seq(BasicType.Object -> b, BasicType.Int -> b.toInt)))
      // B4/B5: large byte arrays across the histogram buckets
      Seq(150, 2500, 15000, 150000).foreach { n =>
        w.primArray(BasicType.Byte, Array.tabulate(n)(i => ((i % 101) + 1).toByte).toSeq)
      }

      // B9: primitive-array patterns across all 8 element types
      w.primArray(BasicType.Int, Seq.fill(16)(0))            // all_zero
      w.primArray(BasicType.Int, Seq.empty)                  // zero_length
      w.primArray(BasicType.Int, Seq(7))                     // single
      w.primArray(BasicType.Int, Seq(1, 2, 3))
      w.primArray(BasicType.Long, Seq.fill(4)(0L))           // all_zero
      w.primArray(BasicType.Long, Seq(1L, 2L))
      w.primArray(BasicType.Boolean, Seq(false, false, false)) // all_zero
      w.primArray(BasicType.Boolean, Seq(true, false))
      w.primArray(BasicType.Char, Seq('a'.toInt))            // single
      w.primArray(BasicType.Char, Seq('h'.toInt, 'i'.toInt))
      w.primArray(BasicType.Short, Seq.empty)                // zero_length
      w.primArray(BasicType.Short, Seq(3.toShort, 4.toShort))
      w.primArray(BasicType.Float, Seq(1.5f))                // single
      w.primArray(BasicType.Float, Seq(0.5f, 2.5f))
      w.primArray(BasicType.Double, Seq(0.0, 0.0))           // all_zero
      w.primArray(BasicType.Double, Seq(1.25, 2.5))

      // B8/B17: object-array patterns + one duplicate pair
      w.objArray(oaCls, Seq.empty)                           // zero_length
      w.objArray(oaCls, Seq.fill(5)(0L))                     // all_null
      w.objArray(oaCls, strs.take(3))
      w.objArray(oaCls, Seq(strs(3)))                        // single_element
      w.objArray(oaCls, strs.take(2) ++ Seq.fill(8)(0L))     // sparse
      w.objArray(oaCls, Seq(strs(4), strs(5)))               // dup pair a
      w.objArray(oaCls, Seq(strs(4), strs(5)))               // dup pair b
      val hmTable = w.objArray(oaCls, Seq(strs(6)) ++ Seq.fill(31)(0L))
      val alBacking = w.objArray(oaCls, strs.slice(7, 10) ++ Seq.fill(17)(0L))

      // B7/B11: empty/single/sparse HashMaps, empty/single/oversized ArrayLists
      (0 until 8).foreach(_ => w.instance(hm, Seq(BasicType.Int -> 0, BasicType.Object -> 0L)))
      w.instance(hm, Seq(BasicType.Int -> 1, BasicType.Object -> 0L))
      w.instance(hm, Seq(BasicType.Int -> 2, BasicType.Object -> hmTable))
      w.instance(al, Seq(BasicType.Int -> 0, BasicType.Object -> 0L))
      w.instance(al, Seq(BasicType.Int -> 1, BasicType.Object -> 0L))
      val alBig = w.instance(al, Seq(BasicType.Int -> 3, BasicType.Object -> alBacking))

      // B10: boxed primitives
      (1 to 5).foreach(i => w.instance(integerCls, Seq(BasicType.Int -> i)))
      (1 to 3).foreach(i => w.instance(longCls, Seq(BasicType.Long -> i.toLong)))

      // B16: thread statuses (3 RUNNABLE, 2 TIMED_WAITING, 1 TERMINATED, 1 NEW)
      Seq(0x05, 0x05, 0x05, 0x21, 0x21, 0x02, 0x00).foreach { st =>
        w.instance(threadCls, Seq(BasicType.Int -> st))
      }

      // B15: DirectByteBuffers (2 untouched, 1 empty, 1 in use)
      Seq((4096, 0, 4096), (8192, 0, 8192), (0, 0, 0), (1024, 100, 512)).foreach {
        case (cap, pos, lim) => w.instance(dbbCls,
          Seq(BasicType.Int -> cap, BasicType.Int -> pos, BasicType.Int -> lim))
      }

      // A8/B14: one root per encoding family
      w.gcRoot(Sub.RootStickyClass, str)
      w.gcRoot(Sub.RootThreadObject, strs.head, threadSerial = 1)
      w.gcRoot(Sub.RootJniGlobal, strs(1))
      w.gcRoot(Sub.RootJavaFrame, strs(2), threadSerial = 1, frameIdx = 0)
      w.gcRoot(Sub.RootMonitorUsed, strs(3))

      // B22: dominator-shape structures. Diamond: A -> {B, C} -> D -> E
      // (D is shared but both referrers collapse to A, so A retains the
      // whole diamond); contested: two root Nodes both reference Z, so
      // Z stays its own root (kept alive by multiple).
      val nodeCls = w.defineClass("com.example.Node", obj,
        instanceFields = Seq("left" -> BasicType.Object,
          "right" -> BasicType.Object, "payload" -> BasicType.Int))
      val nE = w.instance(nodeCls, Seq(BasicType.Object -> 0L, BasicType.Object -> 0L, BasicType.Int -> 5))
      val nD = w.instance(nodeCls, Seq(BasicType.Object -> nE, BasicType.Object -> 0L, BasicType.Int -> 4))
      val nB = w.instance(nodeCls, Seq(BasicType.Object -> nD, BasicType.Object -> 0L, BasicType.Int -> 2))
      val nC = w.instance(nodeCls, Seq(BasicType.Object -> nD, BasicType.Object -> 0L, BasicType.Int -> 3))
      val nA = w.instance(nodeCls, Seq(BasicType.Object -> nB, BasicType.Object -> nC, BasicType.Int -> 1))
      // B23: roots with DEPTH — the diamond head (Node chain reaches
      // hop 3: A -> B/C -> D -> E) and the populated ArrayList
      // (al -> backing Object[] -> strings -> byte[]s, also hop 3) —
      // so the reachability census has real multi-hop structure, not
      // just root-adjacent strings
      w.gcRoot(Sub.RootJavaFrame, nA, threadSerial = 1, frameIdx = 0)
      w.gcRoot(Sub.RootThreadObject, alBig, threadSerial = 1)
      val nZ = w.instance(nodeCls, Seq(BasicType.Object -> 0L, BasicType.Object -> 0L, BasicType.Int -> 26))
      w.instance(nodeCls, Seq(BasicType.Object -> nZ, BasicType.Object -> 0L, BasicType.Int -> 24))
      w.instance(nodeCls, Seq(BasicType.Object -> nZ, BasicType.Object -> 0L, BasicType.Int -> 25))

      // A7: static fields (object ref, primitive, null ref). The
      // class object is sticky-rooted — the realistic liveness shape
      // (class roots are HOW statics stay alive), so the B23 census
      // sees the class → static → instance chain.
      val registryCls = w.defineClass("com.example.Registry", obj, staticFields = Seq(
        ("CACHE", BasicType.Object, strs.head),
        ("LIMIT", BasicType.Int, 42),
        ("EMPTY_REF", BasicType.Object, 0L)))
      w.gcRoot(Sub.RootStickyClass, registryCls)

      // B26: ONE class name defined by TWO loaders (the hot-redeploy
      // leak shape). Loader ids are real objects (URLClassLoader
      // instances), and both definitions carry instances so the
      // per-class `_<id>`-suffixed table split is exercised too.
      val uclCls = w.defineClass("java.net.URLClassLoader", obj)
      val loader1 = w.instance(uclCls, Nil)
      val loader2 = w.instance(uclCls, Nil)
      val svcA = w.defineClass("com.example.PluginService", obj,
        instanceFields = Seq("gen" -> BasicType.Int), loaderId = loader1)
      val svcB = w.defineClass("com.example.PluginService", obj,
        instanceFields = Seq("gen" -> BasicType.Int), loaderId = loader2)
      w.instance(svcA, Seq(BasicType.Int -> 1))
      w.instance(svcB, Seq(BasicType.Int -> 2))

      // B28: reference objects — WeakReference (2 live -> strings,
      // 1 cleared) and SoftReference (1 live -> byte[], 1 cleared),
      // both inheriting `referent` from java.lang.ref.Reference. Their
      // referent edges must NOT enter the liveness graph (refEdges
      // excludes them), so B20-B24 answers stay strong-reference-only.
      val refCls = w.defineClass("java.lang.ref.Reference", obj,
        instanceFields = Seq("referent" -> BasicType.Object))
      val weakCls = w.defineClass("java.lang.ref.WeakReference", refCls)
      val softCls = w.defineClass("java.lang.ref.SoftReference", refCls)
      w.instance(weakCls, Seq(BasicType.Object -> strs(0)))
      w.instance(weakCls, Seq(BasicType.Object -> strs(1)))
      w.instance(weakCls, Seq(BasicType.Object -> 0L))
      w.instance(softCls, Seq(BasicType.Object -> bs(0)))
      w.instance(softCls, Seq(BasicType.Object -> 0L))

      // A10: stack frames + traces with depths 1 / 3 / 0
      val f1 = w.stackFrame("main", "()V", "Main.java", "java.lang.String", 1)
      val f2 = w.stackFrame("run", "()V", "Worker.java", "java.lang.Thread", 42)
      val f3 = w.stackFrame("poll", "()Ljava/lang/Object;", "Queue.java", "java.util.HashMap", 17)
      w.stackTrace(1, 1, Seq(f1))
      w.stackTrace(2, 1, Seq(f2, f3, f1))
      w.stackTrace(3, 2, Seq.empty)

      val dir = java.nio.file.Files.createDirectories(
        java.nio.file.Paths.get(exportDir).getParent)
      val hprof = dir.resolve("demo.hprof").toString
      w.writeTo(hprof, segments = 4)
      val hd = new HeapDump(spark, hprof)
      hd.writeParquet(exportDir)
      hd.writeParquet(exportDirResolved, resolveRefs = true)
      exportDir
    })

  // one HeapAnalysis per (JVM, export dir): refEdges is derived and
  // checkpointed per instance, so sharing the instance lets the whole
  // graph-gate family (referrers/ownership/retained/top/reachability/
  // exemplars/diff) reuse ONE edge derivation — each timed gate then
  // measures its own increment (the jaccardPairsCache precedent)
  private val analysisCache =
    new java.util.concurrent.ConcurrentHashMap[String, HeapAnalysis]()

  private def analysisFor(spark: SparkSession, dir: String): HeapAnalysis =
    analysisCache.computeIfAbsent(dir,
      _ => new HeapAnalysis(new HeapTables(spark, dir)))

  private def analysis(spark: SparkSession) =
    analysisFor(spark, demoDir(spark))

  private def resolvedAnalysis(spark: SparkSession) = {
    demoDir(spark)
    analysisFor(spark, exportDirResolved)
  }

  /** Build every per-JVM lazy heap fixture OUTSIDE any timed gate:
    * both demo exports (robo + resolved + the "later" dump) and the
    * shared checkpointed ref-edge derivations. Whichever q_heap_* gate
    * runs first otherwise pays fixture CONSTRUCTION inside its own
    * wall-clock — the r10 bench read q_heap_object_index at 1.9× and
    * q_heap_referrers at 4× their r9 times for exactly that reason
    * (two dumps + `_fields` + loader parsing landed in the export).
    * Bench calls this before the timing loops; Verify correctness is
    * unaffected either way.
    */
  def warmDemoFixtures(spark: SparkSession): Unit = {
    demoDir(spark)
    demoDirB(spark)
    bigDir(spark)
    analysis(spark).refEdges.foreach(_ => ())
    resolvedAnalysis(spark).refEdges.foreach(_ => ())
  }

  /** The demo process "ten minutes later", for the B25 growth diff:
    * the string/byte[] population grew, a brand-new CacheEntry type
    * appeared, and the boxed-Integer/HashMap populations from the
    * first dump are gone — births, deaths, and growth all present.
    * All 8 primitive-array tables are seeded so the diff oracle's
    * globs resolve on both exports.
    */
  val exportDirB: String = s"${new java.io.File(exportDir).getParent}/parquet_later"

  private def demoDirB(spark: SparkSession): String =
    cache.computeIfAbsent("demoB", _ => {
      val w = new HprofWriter()
      val obj = w.defineClass("java.lang.Object")
      val str = w.defineClass("java.lang.String", obj,
        instanceFields = Seq("value" -> BasicType.Object, "hash" -> BasicType.Int))
      val al = w.defineClass("java.util.ArrayList", obj,
        instanceFields = Seq("size" -> BasicType.Int, "elementData" -> BasicType.Object))
      val cacheCls = w.defineClass("com.example.CacheEntry", obj,
        instanceFields = Seq("key" -> BasicType.Object, "hits" -> BasicType.Long))
      val oaCls = w.defineClass("[Ljava.lang.Object;", obj)
      val bs = (0 until 70).map(i => w.byteArray(s"payload-${i % 10}"))
      val strs = bs.map(b => w.instance(str, Seq(BasicType.Object -> b, BasicType.Int -> b.toInt)))
      w.primArray(BasicType.Int, Seq(1, 2, 3))
      w.primArray(BasicType.Long, Seq(1L))
      w.primArray(BasicType.Boolean, Seq(true))
      w.primArray(BasicType.Char, Seq('a'.toInt))
      w.primArray(BasicType.Short, Seq(1.toShort))
      w.primArray(BasicType.Float, Seq(1.5f))
      w.primArray(BasicType.Double, Seq(2.5))
      val backing = w.objArray(oaCls, strs.take(5))
      val alist = w.instance(al, Seq(BasicType.Int -> 5, BasicType.Object -> backing))
      (0 until 12).foreach(i =>
        w.instance(cacheCls, Seq(BasicType.Object -> strs(i), BasicType.Long -> i.toLong)))
      w.gcRoot(Sub.RootThreadObject, alist, threadSerial = 1)
      val dir = java.nio.file.Files.createDirectories(
        java.nio.file.Paths.get(exportDirB).getParent)
      val hprof = dir.resolve("demo_later.hprof").toString
      w.writeTo(hprof, segments = 2)
      new HeapDump(spark, hprof).writeParquet(exportDirB)
      exportDirB
    })

  /** BENCH-SCALE dominator fixture (round 14): a ~3.03M-object dump
    * with PLANTED dominator structure, so the exact-dominator tier is
    * gate-checked at the bench dump's scale (the r13 verdict's #3:
    * the previous 2M bound refused at 1.5× demo scale). 25 GC-rooted
    * clusters: head → object array → F_c 4-node chains (F_c = 24000 +
    * 500·c, so every cluster's retained differs); per cluster 1000
    * `bench.Shared` leaves each referenced by TWO sibling chain
    * starts (immediate dominator = the ARRAY, not either referrer —
    * the diamond case B21/B22 under-collapse); 500 `bench.XShared`
    * leaves each referenced from chains of clusters 3 AND 7
    * (dominated by the super-root alone — retained by nobody). The
    * topology is tree + leaf-diamonds, so the DuckDB oracle can
    * compute EXACT dominators analytically (single-referrer node →
    * dominated by its referrer; multi-referrer leaf → by its
    * referrers' LCA) in linear-ish SQL — no quadratic
    * removal-reachability replay at 3M nodes.
    */
  val bigExportDir: String = {
    val pid = ProcessHandle.current().pid()
    s"${System.getProperty("java.io.tmpdir")}/graft_heap_gate_big_$pid/parquet"
  }

  private[graft] def bigDir(spark: SparkSession): String =
    cache.computeIfAbsent("big", _ => {
      val w = new HprofWriter()
      val obj = w.defineClass("java.lang.Object")
      val headCls = w.defineClass("bench.Head", obj,
        instanceFields = Seq("kids" -> BasicType.Object, "tag" -> BasicType.Int))
      val nodeCls = w.defineClass("bench.Node", obj,
        instanceFields = Seq("next" -> BasicType.Object,
          "extra" -> BasicType.Object, "payload" -> BasicType.Long))
      val sharedCls = w.defineClass("bench.Shared", obj,
        instanceFields = Seq("payload" -> BasicType.Int))
      val oaCls = w.defineClass("[Ljava.lang.Object;", obj)
      // one tiny array per primitive type so the oracle's shallow-size
      // CTE globs resolve (unreachable — excluded from the analysis)
      w.primArray(BasicType.Boolean, Seq(true))
      w.primArray(BasicType.Byte, Seq(1.toByte))
      w.primArray(BasicType.Char, Seq('a'.toInt))
      w.primArray(BasicType.Short, Seq(1.toShort))
      w.primArray(BasicType.Int, Seq(1))
      w.primArray(BasicType.Long, Seq(1L))
      w.primArray(BasicType.Float, Seq(1.5f))
      w.primArray(BasicType.Double, Seq(2.5))
      // cross-cluster diamonds, created up front
      val xshared = Array.tabulate(500)(k =>
        w.instance(sharedCls, Seq(BasicType.Int -> (100000 + k))))
      for (c <- 0 until 25) {
        val f = 24000 + 500 * c
        val shared = Array.tabulate(1000)(k =>
          w.instance(sharedCls, Seq(BasicType.Int -> (c * 1000 + k))))
        val starts = new Array[Long](f)
        var j = 0
        while (j < f) {
          val tailExtra =
            if ((c == 3 || c == 7) && j < 500) xshared(j) else 0L
          val n3 = w.instance(nodeCls, Seq(BasicType.Object -> 0L,
            BasicType.Object -> tailExtra, BasicType.Long -> (j * 3L)))
          val n2 = w.instance(nodeCls, Seq(BasicType.Object -> n3,
            BasicType.Object -> 0L, BasicType.Long -> (j * 3L + 1)))
          val n1 = w.instance(nodeCls, Seq(BasicType.Object -> n2,
            BasicType.Object -> 0L, BasicType.Long -> (j * 3L + 2)))
          val startExtra = if (j < 2000) shared(j / 2) else 0L
          starts(j) = w.instance(nodeCls, Seq(BasicType.Object -> n1,
            BasicType.Object -> startExtra, BasicType.Long -> j.toLong))
          j += 1
        }
        val arr = w.objArray(oaCls, starts.toSeq)
        val head = w.instance(headCls, Seq(BasicType.Object -> arr, BasicType.Int -> c))
        w.gcRoot(Sub.RootJniGlobal, head)
      }
      val dir = java.nio.file.Files.createDirectories(
        java.nio.file.Paths.get(bigExportDir).getParent)
      val hprof = dir.resolve("big.hprof").toString
      w.writeTo(hprof, segments = 64)
      new HeapDump(spark, hprof).writeParquet(bigExportDir)
      bigExportDir
    })

  /** Shared oracle restatement of `HeapAnalysis.refEdges` over the
    * demo export: every instance ref field the demo classes carry
    * (stated explicitly — a field mis-typed in `_fields` changes edge
    * counts), object-array elements, and static ref fields
    * (class object → target). The `e` CTE keeps ROW MULTIPLICITY
    * (in-degree counts every edge occurrence); consumers needing the
    * distinct relation derive it themselves.
    */
  private lazy val refEdgeSql: String =
    s"""e AS (
       |  SELECT s.obj_id AS src, s.value AS dst
       |  FROM read_parquet('$exportDir/java.lang.String_*/*.parquet') s
       |  WHERE s.value <> 0
       |  UNION ALL
       |  SELECT h.obj_id, h."table" FROM read_parquet('$exportDir/java.util.HashMap_*/*.parquet') h
       |  WHERE h."table" <> 0
       |  UNION ALL
       |  SELECT a.obj_id, a.elementData FROM read_parquet('$exportDir/java.util.ArrayList_*/*.parquet') a
       |  WHERE a.elementData <> 0
       |  UNION ALL
       |  SELECT n.obj_id, n."left" FROM read_parquet('$exportDir/com.example.Node_*/*.parquet') n
       |  WHERE n."left" <> 0
       |  UNION ALL
       |  SELECT n2.obj_id, n2."right" FROM read_parquet('$exportDir/com.example.Node_*/*.parquet') n2
       |  WHERE n2."right" <> 0
       |  UNION ALL
       |  SELECT src, dst FROM (
       |    SELECT o.obj_id AS src, unnest(o.elements) AS dst
       |    FROM read_parquet('$exportDir/_object_arrays/*.parquet') o)
       |  WHERE dst <> 0
       |  UNION ALL
       |  SELECT sf.class_obj_id, sf.ref_id
       |  FROM read_parquet('$exportDir/_static_fields/*.parquet') sf
       |  WHERE sf.field_type = 'object' AND sf.ref_id <> 0)""".stripMargin

  private def table(spark: SparkSession, name: String): DataFrame =
    spark.read.parquet(s"${demoDir(spark)}/$name")

  /** A1-A11: ingestion round-trip — the robo object index. DuckDB
    * re-aggregates the same exported parquet.
    */
  val qHeapObjectIndex: GateQuery = GateQuery(
    "q_heap_object_index",
    s"""SELECT type_name, COUNT(*) AS n
       |FROM read_parquet('$exportDir/_object_index/*.parquet')
       |GROUP BY type_name
       |ORDER BY n DESC, type_name""".stripMargin) { (s, _) =>
    table(s, "_object_index")
      .groupBy("type_name").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("type_name"))
  }

  /** B1/B2: summary + top types over the exported tables. */
  val qHeapTopTypes: GateQuery = GateQuery(
    "q_heap_top_types",
    s"""SELECT type_name, COUNT(*) AS obj_count
       |FROM read_parquet('$exportDir/_object_index/*.parquet')
       |GROUP BY type_name
       |ORDER BY obj_count DESC, type_name
       |LIMIT 10""".stripMargin) { (s, _) =>
    analysis(s).topTypes(10).get
  }

  /** B4: byte-array size histogram. */
  val qHeapHistogram: GateQuery = GateQuery(
    "q_heap_byte_histogram",
    s"""SELECT CASE WHEN len("values") < 100 THEN '0-99'
       |            WHEN len("values") < 1000 THEN '100-999'
       |            WHEN len("values") < 10000 THEN '1K-10K'
       |            WHEN len("values") < 100000 THEN '10K-100K'
       |            ELSE '100K+' END AS bucket,
       |  COUNT(*) AS count,
       |  round(CAST(SUM(len("values")) AS DOUBLE) / 1048576.0, 2) AS total_mb
       |FROM read_parquet('$exportDir/_primitive_arrays_byte/*.parquet')
       |GROUP BY 1
       |ORDER BY total_mb DESC, bucket""".stripMargin) { (s, _) =>
    analysis(s).byteArrayDistribution.get
  }

  /** B5: large byte arrays (reference check `large_byte_arrays`). */
  val qHeapLargeArrays: GateQuery = GateQuery(
    "q_heap_large_arrays",
    s"""SELECT obj_id, len("values") AS size_bytes,
       |  round(len("values") / 1024.0, 1) AS size_kb
       |FROM read_parquet('$exportDir/_primitive_arrays_byte/*.parquet')
       |WHERE len("values") > 1000
       |ORDER BY size_bytes DESC, obj_id
       |LIMIT 20""".stripMargin) { (s, _) =>
    analysis(s).largeByteArrays(minBytes = 1000, limit = 20).get
  }

  /** B6: duplicate-string rollup (analyze_heap_parquet.py:234). DuckDB
    * re-joins String→byte[] and groups by content independently.
    */
  val qHeapDupStrings: GateQuery = GateQuery(
    "q_heap_dup_strings",
    s"""WITH j AS (
       |  SELECT b."values" AS v, len(b."values") AS l
       |  FROM read_parquet('$exportDir/java.lang.String_*/*.parquet') s
       |  JOIN read_parquet('$exportDir/_primitive_arrays_byte/*.parquet') b
       |    ON s.value = b.obj_id
       |  WHERE s.value <> 0),
       |g AS (SELECT COUNT(*) AS dc, MIN(l) AS l FROM j GROUP BY v HAVING COUNT(*) > 1)
       |SELECT COALESCE(CAST(SUM(dc) AS BIGINT), 0) AS total_dups,
       |  COUNT(*) AS unique_vals,
       |  COALESCE(CAST(MAX(dc) AS BIGINT), 0) AS worst,
       |  CAST(COALESCE(SUM((dc - 1) * l), 0)
       |    + (COALESCE(SUM(dc), 0) - COUNT(*)) * 40 AS BIGINT) AS wasted_bytes
       |FROM g""".stripMargin) { (s, _) =>
    analysis(s).dupStringStats().get
  }

  /** B7: empty/single-element collections per type. */
  val qHeapBadCollections: GateQuery = GateQuery(
    "q_heap_bad_collections",
    s"""SELECT * FROM (
       |  SELECT 'ArrayList' AS coll_type,
       |    COUNT(CASE WHEN "size" = 0 THEN 1 END) AS empty_count,
       |    COUNT(CASE WHEN "size" = 1 THEN 1 END) AS single_count,
       |    COUNT(CASE WHEN "size" = 0 THEN 1 END) * 96
       |      + COUNT(CASE WHEN "size" = 1 THEN 1 END) * 92 AS waste_bytes
       |  FROM read_parquet('$exportDir/java.util.ArrayList_*/*.parquet')
       |  UNION ALL
       |  SELECT 'HashMap',
       |    COUNT(CASE WHEN "size" = 0 THEN 1 END),
       |    COUNT(CASE WHEN "size" = 1 THEN 1 END),
       |    COUNT(CASE WHEN "size" = 0 THEN 1 END) * 128
       |      + COUNT(CASE WHEN "size" = 1 THEN 1 END) * 152
       |  FROM read_parquet('$exportDir/java.util.HashMap_*/*.parquet'))
       |WHERE empty_count + single_count > 0
       |ORDER BY coll_type""".stripMargin) { (s, _) =>
    analysis(s).badCollectionStats.get
  }

  /** B8: wasteful object-array patterns. */
  val qHeapBadObjectArrays: GateQuery = GateQuery(
    "q_heap_bad_object_arrays",
    s"""WITH p AS (
       |  SELECT CASE WHEN len(elements) = 0 THEN 'zero_length'
       |    WHEN len(list_filter(elements, x -> x = 0)) = len(elements) THEN 'all_null'
       |    WHEN len(elements) = 1 THEN 'single_element'
       |    WHEN len(elements) > 3 AND
       |      CAST(len(list_filter(elements, x -> x = 0)) AS DOUBLE) / len(elements) > 0.7
       |      THEN 'sparse' END AS pattern,
       |    len(elements) AS n
       |  FROM read_parquet('$exportDir/_object_arrays/*.parquet'))
       |SELECT pattern, COUNT(*) AS n_arrays, CAST(SUM(n) AS BIGINT) AS total_slots
       |FROM p WHERE pattern IS NOT NULL
       |GROUP BY pattern ORDER BY pattern""".stripMargin) { (s, _) =>
    analysis(s).badObjectArrayPatterns.get
  }

  /** B9: wasteful primitive-array patterns across all 8 element types. */
  val qHeapBadPrimArrays: GateQuery = {
    val types = Seq(("boolean", 1), ("byte", 1), ("char", 2), ("short", 2),
      ("int", 4), ("long", 8), ("float", 4), ("double", 8))
    val branches = types.map { case (pt, es) =>
      val allZero =
        if (pt == "boolean") s"""NOT list_contains("values", true)"""
        else s"""list_min("values") = 0 AND list_max("values") = 0"""
      s"""  SELECT '$pt' AS prim_type, $es AS es,
         |    CASE WHEN len("values") = 0 THEN 'zero_length'
         |      WHEN len("values") = 1 THEN 'single'
         |      WHEN len("values") > 1 AND $allZero THEN 'all_zero' END AS pattern,
         |    len("values") * $es AS bytes
         |  FROM read_parquet('$exportDir/_primitive_arrays_$pt/*.parquet')""".stripMargin
    }.mkString("\nUNION ALL\n")
    GateQuery(
      "q_heap_bad_prim_arrays",
      s"""WITH all_p AS (
         |$branches)
         |SELECT prim_type, pattern, COUNT(*) AS n_arrays,
         |  CAST(SUM(bytes) AS BIGINT) AS data_bytes,
         |  CAST(CASE WHEN pattern = 'zero_length' THEN COUNT(*) * 16
         |    WHEN pattern = 'all_zero' THEN SUM(bytes) + COUNT(*) * 16
         |    ELSE COUNT(*) * (16 - MIN(es)) END AS BIGINT) AS waste_bytes
         |FROM all_p WHERE pattern IS NOT NULL
         |GROUP BY prim_type, pattern
         |ORDER BY prim_type, pattern""".stripMargin) { (s, _) =>
      analysis(s).badPrimitiveArrayPatterns.get
    }
  }

  /** B10: boxed-primitive counts (demo heap has Integer + Long). */
  val qHeapBoxed: GateQuery = GateQuery(
    "q_heap_boxed",
    s"""SELECT * FROM (
       |  SELECT 'Integer' AS wrapper, COUNT(*) AS n_objs, COUNT(*) * 16 AS waste_bytes
       |  FROM read_parquet('$exportDir/java.lang.Integer_*/*.parquet')
       |  UNION ALL
       |  SELECT 'Long', COUNT(*), COUNT(*) * 16
       |  FROM read_parquet('$exportDir/java.lang.Long_*/*.parquet'))
       |WHERE n_objs > 0
       |ORDER BY wrapper""".stripMargin) { (s, _) =>
    analysis(s).boxedCounts.get
  }

  /** B11: sparse HashMaps + oversized ArrayList backing arrays. */
  val qHeapCollectionSizing: GateQuery = GateQuery(
    "q_heap_collection_sizing",
    s"""WITH oa AS (
       |  SELECT obj_id, len(elements) AS cap
       |  FROM read_parquet('$exportDir/_object_arrays/*.parquet')),
       |sh AS (
       |  SELECT COUNT(*) AS n, COALESCE(CAST(SUM(cap * 4) AS BIGINT), 0) AS w
       |  FROM read_parquet('$exportDir/java.util.HashMap_*/*.parquet') h
       |  JOIN oa ON h."table" = oa.obj_id
       |  WHERE h."size" >= 2 AND h."table" <> 0 AND cap >= 16
       |    AND CAST(h."size" AS DOUBLE) / CAST(cap AS DOUBLE) < 0.33),
       |oal AS (
       |  SELECT COUNT(*) AS n, COALESCE(CAST(SUM((cap - a."size") * 4) AS BIGINT), 0) AS w
       |  FROM read_parquet('$exportDir/java.util.ArrayList_*/*.parquet') a
       |  JOIN oa ON a.elementData = oa.obj_id
       |  WHERE a."size" >= 1 AND a.elementData <> 0
       |    AND cap > a."size" * 2 AND cap - a."size" > 8)
       |SELECT * FROM (
       |  SELECT 'oversized_arraylist' AS kind, n AS n_colls, w AS wasted_bytes FROM oal
       |  UNION ALL
       |  SELECT 'sparse_hashmap', n, w FROM sh)
       |WHERE n_colls > 0
       |ORDER BY kind""".stripMargin) { (s, _) =>
    analysis(s).collectionSizingStats.get
  }

  /** B12: duplicate byte[] rollup (arrays <=10KB). */
  val qHeapDupByteArrays: GateQuery = GateQuery(
    "q_heap_dup_byte_arrays",
    s"""WITH g AS (
       |  SELECT COUNT(*) AS dc, MIN(len("values")) AS l
       |  FROM read_parquet('$exportDir/_primitive_arrays_byte/*.parquet')
       |  WHERE len("values") > 0 AND len("values") <= 10240
       |  GROUP BY "values" HAVING COUNT(*) > 1)
       |SELECT COALESCE(CAST(SUM(dc) AS BIGINT), 0) AS total_dups,
       |  COUNT(*) AS unique_vals,
       |  COALESCE(CAST(MAX(dc) AS BIGINT), 0) AS worst,
       |  CAST(COALESCE(SUM((dc - 1) * l), 0)
       |    + (COALESCE(SUM(dc), 0) - COUNT(*)) * 16 AS BIGINT) AS wasted_bytes
       |FROM g""".stripMargin) { (s, _) =>
    analysis(s).dupByteArrayStats.get
  }

  /** B17: duplicate object-array rollup (1-100 elements). */
  val qHeapDupObjArrays: GateQuery = GateQuery(
    "q_heap_dup_obj_arrays",
    s"""WITH g AS (
       |  SELECT COUNT(*) AS dc, MIN(len(elements)) AS l
       |  FROM read_parquet('$exportDir/_object_arrays/*.parquet')
       |  WHERE len(elements) BETWEEN 1 AND 100
       |  GROUP BY elements HAVING COUNT(*) > 1)
       |SELECT COALESCE(CAST(SUM(dc) AS BIGINT), 0) AS total_dups,
       |  COUNT(*) AS unique_vals,
       |  COALESCE(CAST(MAX(dc) AS BIGINT), 0) AS worst,
       |  CAST(COALESCE(SUM((dc - 1) * l * 4), 0)
       |    + (COALESCE(SUM(dc), 0) - COUNT(*)) * 16 AS BIGINT) AS wasted_bytes
       |FROM g""".stripMargin) { (s, _) =>
    analysis(s).dupObjectArrayStats.get
  }

  /** B13: distinct class count. */
  val qHeapClassCount: GateQuery = GateQuery(
    "q_heap_class_count",
    s"""SELECT COUNT(DISTINCT type_name) AS n_classes
       |FROM read_parquet('$exportDir/_object_index/*.parquet')""".stripMargin) { (s, _) =>
    analysis(s).classCountStats.get
  }

  /** A8/B14: GC-root breakdown. */
  val qHeapGcRoots: GateQuery = GateQuery(
    "q_heap_gc_roots",
    s"""SELECT root_type, COUNT(*) AS n_roots
       |FROM read_parquet('$exportDir/_gc_roots/*.parquet')
       |GROUP BY root_type
       |ORDER BY n_roots DESC, root_type""".stripMargin) { (s, _) =>
    analysis(s).gcRootBreakdown.get
  }

  /** B15: DirectByteBuffer rollup. */
  val qHeapDbb: GateQuery = GateQuery(
    "q_heap_dbb",
    s"""SELECT COUNT(*) AS n_buffers,
       |  COALESCE(CAST(SUM(capacity) AS BIGINT), 0) AS total_cap,
       |  COALESCE(CAST(SUM(CASE WHEN "position" = 0 AND "limit" = capacity
       |    THEN capacity ELSE 0 END) AS BIGINT), 0) AS untouched,
       |  COUNT(CASE WHEN capacity = 0 THEN 1 END) AS n_empty,
       |  COALESCE(CAST(MAX(capacity) AS BIGINT), 0) AS max_cap
       |FROM read_parquet('$exportDir/java.nio.DirectByteBuffer_*/*.parquet')""".stripMargin) { (s, _) =>
    analysis(s).directByteBufferStats.get
  }

  /** B16: thread-status breakdown. */
  val qHeapThreadStatus: GateQuery = GateQuery(
    "q_heap_thread_status",
    s"""SELECT CAST(threadStatus AS INTEGER) AS thread_status, COUNT(*) AS n_threads
       |FROM read_parquet('$exportDir/java.lang.Thread_*/*.parquet')
       |GROUP BY 1
       |ORDER BY n_threads DESC, thread_status""".stripMargin) { (s, _) =>
    analysis(s).threadStatusBreakdown.get
  }

  /** B16: stack-depth histogram. */
  val qHeapStackDepth: GateQuery = GateQuery(
    "q_heap_stack_depth",
    s"""SELECT CASE WHEN len(frame_ids) = 0 THEN '0 (empty)'
       |  WHEN len(frame_ids) <= 5 THEN '1-5'
       |  WHEN len(frame_ids) <= 20 THEN '6-20'
       |  WHEN len(frame_ids) <= 50 THEN '21-50'
       |  ELSE '50+' END AS depth_bucket,
       |  COUNT(*) AS n_traces
       |FROM read_parquet('$exportDir/_stack_traces/*.parquet')
       |GROUP BY 1
       |ORDER BY n_traces DESC, depth_bucket""".stripMargin) { (s, _) =>
    analysis(s).stackDepthDistribution.get
  }

  /** B18: estimated shallow size of the top types. */
  val qHeapShallowSize: GateQuery = GateQuery(
    "q_heap_shallow_size",
    s"""SELECT type_name, COUNT(*) AS n_objs, COUNT(*) * 48 AS est_bytes
       |FROM read_parquet('$exportDir/_object_index/*.parquet')
       |GROUP BY type_name
       |ORDER BY n_objs DESC, type_name
       |LIMIT 50""".stripMargin) { (s, _) =>
    analysis(s).shallowSizeTop(50).get
  }

  /** A7: static-field table round-trip. */
  val qHeapStaticFields: GateQuery = GateQuery(
    "q_heap_static_fields",
    s"""SELECT class_name, field_name, field_type, primitive_value, ref_id
       |FROM read_parquet('$exportDir/_static_fields/*.parquet')
       |ORDER BY class_name, field_name""".stripMargin) { (s, _) =>
    table(s, "_static_fields")
      .select("class_name", "field_name", "field_type", "primitive_value", "ref_id")
      .orderBy("class_name", "field_name")
  }

  /** A10: trace→frame join (unnest on the oracle side). */
  val qHeapStackFrames: GateQuery = GateQuery(
    "q_heap_stack_frames",
    s"""SELECT t.stack_trace_serial, f.class_name, f.method_name, f.line_num
       |FROM (SELECT stack_trace_serial, unnest(frame_ids) AS frame_id
       |      FROM read_parquet('$exportDir/_stack_traces/*.parquet')) t
       |JOIN read_parquet('$exportDir/_stack_frames/*.parquet') f USING (frame_id)
       |ORDER BY stack_trace_serial, class_name, method_name, line_num""".stripMargin) { (s, _) =>
    table(s, "_stack_traces")
      .select(col("stack_trace_serial"), explode_outer(col("frame_ids")).as("frame_id"))
      .filter(col("frame_id").isNotNull)
      .join(table(s, "_stack_frames"), "frame_id")
      .select("stack_trace_serial", "class_name", "method_name", "line_num")
      .orderBy("stack_trace_serial", "class_name", "method_name", "line_num")
  }

  /** A9: class hierarchy via id self-join (checks id↔name consistency). */
  val qHeapClassHierarchy: GateQuery = GateQuery(
    "q_heap_class_hierarchy",
    s"""SELECT c.class_name, p.class_name AS super_name
       |FROM read_parquet('$exportDir/_class_hierarchy/*.parquet') c
       |JOIN read_parquet('$exportDir/_class_hierarchy/*.parquet') p
       |  ON c.super_class_obj_id = p.class_obj_id
       |ORDER BY c.class_name, super_name""".stripMargin) { (s, _) =>
    val h = table(s, "_class_hierarchy")
    h.as("c").join(h.as("p"), col("c.super_class_obj_id") === col("p.class_obj_id"))
      .select(col("c.class_name").as("class_name"), col("p.class_name").as("super_name"))
      .orderBy("class_name", "super_name")
  }

  /** B26: duplicate-class / classloader-leak census — class names
    * defined by MULTIPLE loaders (the demo heap defines
    * com.example.PluginService under two URLClassLoader instances).
    * The oracle re-derives copy counts, distinct-loader counts, and
    * the sorted loader-id CSV from the exported hierarchy table — a
    * loader id dropped or mis-parsed by the ETL breaks the hash.
    */
  val qHeapClassloaders: GateQuery = GateQuery(
    "q_heap_classloaders",
    s"""SELECT class_name, n_copies, n_loaders, loader_ids FROM (
       |  SELECT class_name, COUNT(*) AS n_copies,
       |    COUNT(DISTINCT loader_obj_id) AS n_loaders,
       |    string_agg(CAST(loader_obj_id AS VARCHAR), ',' ORDER BY loader_obj_id) AS loader_ids
       |  FROM read_parquet('$exportDir/_class_hierarchy/*.parquet')
       |  GROUP BY class_name HAVING COUNT(*) > 1)
       |ORDER BY n_copies DESC, class_name""".stripMargin) { (s, _) =>
    analysis(s).classloaderCensus.get
  }

  /** B28: weak/soft reference census — per Reference-subtype class,
    * total / cleared (referent = 0) / live counts. The oracle replays
    * both per-class table scans explicitly; an ETL that dropped the
    * inherited referent slot, mis-typed it, or a census that counted
    * the wrong table breaks the hash. (The exclusion of these same
    * referent edges from the liveness graph is pinned by the B20-B24
    * gates staying green with reference objects present in the demo
    * heap — their oracles enumerate strong edges only.)
    */
  val qHeapRefs: GateQuery = GateQuery(
    "q_heap_refs",
    s"""SELECT ref_class, COUNT(*) AS n_total,
       |  CAST(SUM(CASE WHEN referent = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_cleared,
       |  CAST(SUM(CASE WHEN referent <> 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_live
       |FROM (
       |  SELECT 'java.lang.ref.WeakReference' AS ref_class, referent
       |  FROM read_parquet('$exportDir/java.lang.ref.WeakReference_*/*.parquet')
       |  UNION ALL
       |  SELECT 'java.lang.ref.SoftReference', referent
       |  FROM read_parquet('$exportDir/java.lang.ref.SoftReference_*/*.parquet'))
       |GROUP BY ref_class
       |ORDER BY ref_class""".stripMargin) { (s, _) =>
    analysis(s).referenceCensus.get
  }

  /** B6-B19: the FULL waste suite — every finding's (name, tier,
    * severity, affected, waste) re-derived by DuckDB from the same
    * export: per-check aggregates, the severity tiering, the
    * emit-only-if-found guards, everything the driver-side assembly
    * does. Branches only reference class tables that exist in the
    * demo export (read_parquet on a missing glob errors), exactly like
    * the per-check gates above.
    */
  val qHeapWaste: GateQuery = {
    // classifySeverity thresholds (HeapAnalysis.classifySeverity)
    def sev(e: String) =
      s"""CASE WHEN $e > 104857600 THEN 'CRITICAL' WHEN $e > 10485760 THEN 'HIGH'
         |WHEN $e > 1048576 THEN 'MEDIUM' WHEN $e > 102400 THEN 'LOW'
         |ELSE 'INFO' END""".stripMargin.replace("\n", " ")
    def dupRollup(src: String, overhead: Int, elemSize: Int) =
      s"""SELECT COALESCE(CAST(SUM(dc) AS BIGINT), 0) AS total,
         |  CAST(COALESCE(SUM((dc - 1) * l * $elemSize), 0)
         |    + (COALESCE(SUM(dc), 0) - COUNT(*)) * $overhead AS BIGINT) AS waste
         |FROM ($src)""".stripMargin
    val oracle =
      s"""WITH ds AS (
         |  ${dupRollup(
        s"""SELECT COUNT(*) AS dc, MIN(l) AS l FROM (
           |    SELECT b."values" AS v, len(b."values") AS l
           |    FROM read_parquet('$exportDir/java.lang.String_*/*.parquet') s
           |    JOIN read_parquet('$exportDir/_primitive_arrays_byte/*.parquet') b
           |      ON s.value = b.obj_id
           |    WHERE s.value <> 0) GROUP BY v HAVING COUNT(*) > 1""".stripMargin, 40, 1)}),
         |bc AS (
         |  SELECT COALESCE(CAST(SUM(e + si) AS BIGINT), 0) AS aff,
         |    COALESCE(CAST(SUM(w) AS BIGINT), 0) AS waste FROM (
         |    SELECT COUNT(CASE WHEN "size" = 0 THEN 1 END) AS e,
         |      COUNT(CASE WHEN "size" = 1 THEN 1 END) AS si,
         |      COUNT(CASE WHEN "size" = 0 THEN 1 END) * 96
         |        + COUNT(CASE WHEN "size" = 1 THEN 1 END) * 92 AS w
         |    FROM read_parquet('$exportDir/java.util.ArrayList_*/*.parquet')
         |    UNION ALL
         |    SELECT COUNT(CASE WHEN "size" = 0 THEN 1 END),
         |      COUNT(CASE WHEN "size" = 1 THEN 1 END),
         |      COUNT(CASE WHEN "size" = 0 THEN 1 END) * 128
         |        + COUNT(CASE WHEN "size" = 1 THEN 1 END) * 152
         |    FROM read_parquet('$exportDir/java.util.HashMap_*/*.parquet'))),
         |boa AS (
         |  SELECT COALESCE(CAST(SUM(n_arrays) AS BIGINT), 0) AS aff,
         |    COALESCE(CAST(SUM(w) AS BIGINT), 0) AS waste FROM (
         |    SELECT pattern, COUNT(*) AS n_arrays,
         |      CASE pattern WHEN 'zero_length' THEN COUNT(*) * 16
         |        WHEN 'all_null' THEN COUNT(*) * 16 + CAST(SUM(n) AS BIGINT) * 4
         |        WHEN 'single_element' THEN COUNT(*) * 12
         |        ELSE CAST(FLOOR(SUM(n) * 0.7) AS BIGINT) * 4 END AS w
         |    FROM (
         |      SELECT CASE WHEN len(elements) = 0 THEN 'zero_length'
         |        WHEN len(list_filter(elements, x -> x = 0)) = len(elements) THEN 'all_null'
         |        WHEN len(elements) = 1 THEN 'single_element'
         |        WHEN len(elements) > 3 AND
         |          CAST(len(list_filter(elements, x -> x = 0)) AS DOUBLE) / len(elements) > 0.7
         |          THEN 'sparse' END AS pattern,
         |        len(elements) AS n
         |      FROM read_parquet('$exportDir/_object_arrays/*.parquet'))
         |    WHERE pattern IS NOT NULL GROUP BY pattern)),
         |bpa AS (
         |  SELECT COALESCE(CAST(SUM(n_arrays) AS BIGINT), 0) AS aff,
         |    COALESCE(CAST(SUM(w) AS BIGINT), 0) AS waste FROM (
         |    SELECT COUNT(*) AS n_arrays,
         |      CASE WHEN pattern = 'zero_length' THEN COUNT(*) * 16
         |        WHEN pattern = 'all_zero' THEN SUM(bytes) + COUNT(*) * 16
         |        ELSE COUNT(*) * (16 - MIN(es)) END AS w
         |    FROM (${Seq(("boolean", 1), ("byte", 1), ("char", 2), ("short", 2),
        ("int", 4), ("long", 8), ("float", 4), ("double", 8)).map { case (pt, es) =>
        val allZero =
          if (pt == "boolean") s"""NOT list_contains("values", true)"""
          else s"""list_min("values") = 0 AND list_max("values") = 0"""
        s"""SELECT '$pt' AS prim_type, $es AS es,
           |      CASE WHEN len("values") = 0 THEN 'zero_length'
           |        WHEN len("values") = 1 THEN 'single'
           |        WHEN len("values") > 1 AND $allZero THEN 'all_zero' END AS pattern,
           |      len("values") * $es AS bytes
           |      FROM read_parquet('$exportDir/_primitive_arrays_$pt/*.parquet')""".stripMargin
      }.mkString("\n    UNION ALL\n    ")})
         |    WHERE pattern IS NOT NULL GROUP BY prim_type, pattern)),
         |bx AS (
         |  SELECT COALESCE(CAST(SUM(n) AS BIGINT), 0) AS aff,
         |    COALESCE(CAST(SUM(n) * 16 AS BIGINT), 0) AS waste FROM (
         |    SELECT COUNT(*) AS n FROM read_parquet('$exportDir/java.lang.Integer_*/*.parquet')
         |    UNION ALL
         |    SELECT COUNT(*) FROM read_parquet('$exportDir/java.lang.Long_*/*.parquet'))),
         |oa_cap AS (
         |  SELECT obj_id, len(elements) AS cap
         |  FROM read_parquet('$exportDir/_object_arrays/*.parquet')),
         |cs AS (
         |  SELECT COALESCE(CAST(SUM(n) AS BIGINT), 0) AS aff,
         |    COALESCE(CAST(SUM(w) AS BIGINT), 0) AS waste FROM (
         |    SELECT COUNT(*) AS n, COALESCE(CAST(SUM(cap * 4) AS BIGINT), 0) AS w
         |    FROM read_parquet('$exportDir/java.util.HashMap_*/*.parquet') h
         |    JOIN oa_cap ON h."table" = oa_cap.obj_id
         |    WHERE h."size" >= 2 AND h."table" <> 0 AND cap >= 16
         |      AND CAST(h."size" AS DOUBLE) / CAST(cap AS DOUBLE) < 0.33
         |    UNION ALL
         |    SELECT COUNT(*), COALESCE(CAST(SUM((cap - a."size") * 4) AS BIGINT), 0)
         |    FROM read_parquet('$exportDir/java.util.ArrayList_*/*.parquet') a
         |    JOIN oa_cap ON a.elementData = oa_cap.obj_id
         |    WHERE a."size" >= 1 AND a.elementData <> 0
         |      AND cap > a."size" * 2 AND cap - a."size" > 8)),
         |db AS (
         |  ${dupRollup(
        s"""SELECT COUNT(*) AS dc, MIN(len("values")) AS l
           |    FROM read_parquet('$exportDir/_primitive_arrays_byte/*.parquet')
           |    WHERE len("values") > 0 AND len("values") <= 10240
           |    GROUP BY "values" HAVING COUNT(*) > 1""".stripMargin, 16, 1)}),
         |cc AS (
         |  SELECT COUNT(DISTINCT type_name) AS n
         |  FROM read_parquet('$exportDir/_object_index/*.parquet')),
         |gcr AS (
         |  SELECT COUNT(*) AS total
         |  FROM read_parquet('$exportDir/_gc_roots/*.parquet')),
         |dbb AS (
         |  SELECT COUNT(*) AS cnt,
         |    COALESCE(CAST(SUM(capacity) AS BIGINT), 0) AS cap,
         |    COALESCE(CAST(SUM(CASE WHEN "position" = 0 AND "limit" = capacity
         |      THEN capacity ELSE 0 END) AS BIGINT), 0) AS untouched,
         |    COUNT(CASE WHEN capacity = 0 THEN 1 END) AS n_empty
         |  FROM read_parquet('$exportDir/java.nio.DirectByteBuffer_*/*.parquet')),
         |th AS (
         |  SELECT COALESCE(CAST(SUM(CASE WHEN threadStatus <> 0
         |      AND (threadStatus & 1) = 1 AND (threadStatus & 2) = 0
         |      THEN 1 ELSE 0 END) AS BIGINT), 0) AS alive
         |  FROM read_parquet('$exportDir/java.lang.Thread_*/*.parquet')),
         |tc AS (
         |  SELECT COUNT(*) AS n
         |  FROM read_parquet('$exportDir/_stack_traces/*.parquet')),
         |doa AS (
         |  ${dupRollup(
        s"""SELECT COUNT(*) AS dc, MIN(len(elements)) AS l
           |    FROM read_parquet('$exportDir/_object_arrays/*.parquet')
           |    WHERE len(elements) BETWEEN 1 AND 100
           |    GROUP BY elements HAVING COUNT(*) > 1""".stripMargin, 16, 4)}),
         |ss AS (
         |  SELECT COALESCE(CAST(SUM(n) AS BIGINT), 0) AS aff FROM (
         |    SELECT COUNT(*) AS n
         |    FROM read_parquet('$exportDir/_object_index/*.parquet')
         |    GROUP BY type_name ORDER BY n DESC LIMIT 50))
         |SELECT * FROM (
         |  SELECT 'Duplicate Strings' AS check_name, 1 AS tier,
         |    ${sev("waste")} AS severity, total AS affected_count,
         |    waste AS estimated_waste_bytes FROM ds
         |  UNION ALL
         |  SELECT 'Bad Collections (empty/single-element)', 1, ${sev("waste")}, aff, waste
         |  FROM bc WHERE aff > 0
         |  UNION ALL
         |  SELECT 'Bad Object Arrays', 1, ${sev("waste")}, aff, waste FROM boa WHERE aff > 0
         |  UNION ALL
         |  SELECT 'Bad Primitive Arrays', 1, ${sev("waste")}, aff, waste FROM bpa WHERE aff > 0
         |  UNION ALL
         |  SELECT 'Boxed Primitives', 1, ${sev("waste")}, aff, waste FROM bx WHERE aff > 0
         |  UNION ALL
         |  SELECT 'Collection Sizing Issues', 2, ${sev("waste")}, aff, waste FROM cs WHERE aff > 0
         |  UNION ALL
         |  SELECT 'Duplicate byte[] Arrays', 2, ${sev("waste")}, total, waste FROM db WHERE total > 0
         |  UNION ALL
         |  SELECT 'Class Count / Leak Detection', 2,
         |    CASE WHEN n > 50000 THEN 'HIGH' WHEN n > 20000 THEN 'MEDIUM' ELSE 'INFO' END,
         |    CAST(n AS BIGINT), CAST(n AS BIGINT) * 8192 FROM cc WHERE n >= 10000
         |  UNION ALL
         |  SELECT 'GC Roots Breakdown', 2,
         |    CASE WHEN total > 100000 THEN 'MEDIUM' WHEN total > 50000 THEN 'LOW' ELSE 'INFO' END,
         |    CAST(total AS BIGINT), CAST(0 AS BIGINT) FROM gcr WHERE total > 0
         |  UNION ALL
         |  SELECT 'DirectByteBuffer Off-Heap', 2,
         |    CASE WHEN cap > 10485760 THEN ${sev("cap")} ELSE 'INFO' END,
         |    CAST(cnt AS BIGINT), n_empty * 64 + untouched FROM dbb WHERE cnt > 0
         |  UNION ALL
         |  SELECT 'Thread Stacks', 2,
         |    CASE WHEN eff > 5000 THEN 'CRITICAL' WHEN eff > 2000 THEN 'HIGH'
         |      WHEN eff > 1000 THEN 'MEDIUM' ELSE 'INFO' END,
         |    eff, eff * 524288 FROM (
         |    SELECT CASE WHEN th.alive > 0 THEN th.alive ELSE CAST(tc.n AS BIGINT) END AS eff,
         |      tc.n AS tn FROM th, tc) WHERE tn > 0
         |  UNION ALL
         |  SELECT 'Duplicate Object Arrays', 3, ${sev("waste")}, total, waste
         |  FROM doa WHERE total > 0
         |  UNION ALL
         |  SELECT 'Estimated Shallow Size (top 50 types)', 3, 'INFO', aff, CAST(0 AS BIGINT)
         |  FROM ss WHERE aff > 0)
         |ORDER BY check_name""".stripMargin
    GateQuery("q_heap_waste", oracle) { (s, _) =>
      import s.implicits._
      analysis(s).runWasteAnalysis(maxTier = 3)
        .map(f => (f.checkName, f.tier, f.severity, f.affectedCount, f.estimatedWasteBytes))
        .toDF("check_name", "tier", "severity", "affected_count", "estimated_waste_bytes")
        .orderBy("check_name")
    }
  }

  /** A12 — `count-records`: the sequential header walk's per-tag
    * record tally, cross-checked against what actually LANDED in the
    * export — DuckDB independently re-counts classes, stack frames,
    * and stack traces from the parquet tables, so a parse that drops
    * or double-reads a record can't hash-match.
    */
  val qHeapCountRecords: GateQuery = GateQuery(
    "q_heap_count_records",
    s"""SELECT * FROM (
       |  SELECT 'LoadClass' AS record_type, COUNT(*) AS count
       |  FROM read_parquet('$exportDir/_class_hierarchy/*.parquet')
       |  UNION ALL
       |  SELECT 'StackFrame', COUNT(*)
       |  FROM read_parquet('$exportDir/_stack_frames/*.parquet')
       |  UNION ALL
       |  SELECT 'StackTrace', COUNT(*)
       |  FROM read_parquet('$exportDir/_stack_traces/*.parquet'))
       |ORDER BY record_type""".stripMargin) { (s, _) =>
    demoDir(s)
    val hprof = s"${new java.io.File(exportDir).getParent}/demo.hprof"
    new HeapDump(s, hprof).countRecords
      .filter(col("record_type").isin("LoadClass", "StackFrame", "StackTrace"))
      .orderBy("record_type")
  }

  /** A11/ref_field parity gate #1: the duplicate-strings rollup over
    * the RESOLVED export — String.value is STRUCT{id,type}, so both
    * engines must reach through `.id` (reference ref_field,
    * analyze_heap_parquet.py:129-133). Numbers must equal the robo
    * gate's by construction.
    */
  val qHeapResolvedStrings: GateQuery = GateQuery(
    "q_heap_resolved_strings",
    s"""WITH j AS (
       |  SELECT b."values" AS v, len(b."values") AS l
       |  FROM read_parquet('$exportDirResolved/java.lang.String_*/*.parquet') s
       |  JOIN read_parquet('$exportDirResolved/_primitive_arrays_byte/*.parquet') b
       |    ON struct_extract(s."value", 'id') = b.obj_id
       |  WHERE struct_extract(s."value", 'id') <> 0),
       |g AS (SELECT COUNT(*) AS dc, MIN(l) AS l FROM j GROUP BY v HAVING COUNT(*) > 1)
       |SELECT COALESCE(CAST(SUM(dc) AS BIGINT), 0) AS total_dups,
       |  COUNT(*) AS unique_vals,
       |  COALESCE(CAST(MAX(dc) AS BIGINT), 0) AS worst,
       |  CAST(COALESCE(SUM((dc - 1) * l), 0)
       |    + (COALESCE(SUM(dc), 0) - COUNT(*)) * 40 AS BIGINT) AS wasted_bytes
       |FROM g""".stripMargin) { (s, _) =>
    resolvedAnalysis(s).dupStringStats().get
  }

  /** A11/ref_field parity gate #2: collection sizing over the resolved
    * export — HashMap.table and ArrayList.elementData are struct refs.
    */
  val qHeapResolvedSizing: GateQuery = GateQuery(
    "q_heap_resolved_sizing",
    s"""WITH oa AS (
       |  SELECT obj_id, len(elements) AS cap
       |  FROM read_parquet('$exportDirResolved/_object_arrays/*.parquet')),
       |sh AS (
       |  SELECT COUNT(*) AS n, COALESCE(CAST(SUM(cap * 4) AS BIGINT), 0) AS w
       |  FROM read_parquet('$exportDirResolved/java.util.HashMap_*/*.parquet') h
       |  JOIN oa ON struct_extract(h."table", 'id') = oa.obj_id
       |  WHERE h."size" >= 2 AND struct_extract(h."table", 'id') <> 0 AND cap >= 16
       |    AND CAST(h."size" AS DOUBLE) / CAST(cap AS DOUBLE) < 0.33),
       |oal AS (
       |  SELECT COUNT(*) AS n, COALESCE(CAST(SUM((cap - a."size") * 4) AS BIGINT), 0) AS w
       |  FROM read_parquet('$exportDirResolved/java.util.ArrayList_*/*.parquet') a
       |  JOIN oa ON struct_extract(a.elementData, 'id') = oa.obj_id
       |  WHERE a."size" >= 1 AND struct_extract(a.elementData, 'id') <> 0
       |    AND cap > a."size" * 2 AND cap - a."size" > 8)
       |SELECT * FROM (
       |  SELECT 'oversized_arraylist' AS kind, n AS n_colls, w AS wasted_bytes FROM oal
       |  UNION ALL
       |  SELECT 'sparse_hashmap', n, w FROM sh)
       |WHERE n_colls > 0
       |ORDER BY kind""".stripMargin) { (s, _) =>
    resolvedAnalysis(s).collectionSizingStats.get
  }

  /** A15: the DataSource V2 binary scan vs the export. Both read the
    * dump through one path — the same metadata read, segment split,
    * scan loop and (kind, type_name) naming rule — but end in different
    * consumers: the DSv2 partition reader streams `format("hprof")`
    * rows into a Spark aggregation, and the SystemTableWriter writes
    * the `_object_index` parquet that DuckDB reads. The gate checks
    * that their object counts agree per (kind, type_name), so a reader
    * that drops, duplicates or misnames objects, or an index writer
    * that encodes them wrongly, fails it. The oracle reconstructs the
    * DSv2 view from the index's naming convention (classes carry a
    * `class ` prefix there; the 8 primitive `<t>[]` names are the
    * primitive arrays; other `[]` names are object arrays).
    */
  val qHeapDsv2: GateQuery = GateQuery(
    "q_heap_dsv2",
    s"""WITH oi AS (
       |  SELECT type_name FROM read_parquet('$exportDir/_object_index/*.parquet'))
       |SELECT
       |  CASE WHEN type_name LIKE 'class %' THEN 'class'
       |       WHEN type_name IN ('boolean[]','byte[]','char[]','short[]',
       |                          'int[]','long[]','float[]','double[]')
       |         THEN 'primitive_array'
       |       WHEN type_name LIKE '%[]' THEN 'object_array'
       |       ELSE 'instance' END AS kind,
       |  CASE WHEN type_name LIKE 'class %' THEN substr(type_name, 7)
       |       ELSE type_name END AS type_name,
       |  COUNT(*) AS n
       |FROM oi
       |GROUP BY 1, 2
       |ORDER BY kind, type_name""".stripMargin) { (s, _) =>
    demoDir(s)
    val hprof = s"${new java.io.File(exportDir).getParent}/demo.hprof"
    s.read.format("hprof").load(hprof)
      .groupBy("kind", "type_name").agg(count(lit(1)).as("n"))
      .orderBy("kind", "type_name")
  }

  /** B20 — shared-object census off the reference graph: edges come
    * from `_fields`-driven ref columns (String.value, HashMap.table,
    * ArrayList.elementData in the demo heap) plus object-array
    * elements, rolled up by referenced type with in-degree stats. The
    * oracle re-derives every edge from the exported parquet with the
    * demo classes' ref fields stated explicitly — a field wrongly
    * typed in `_fields` (value field counted as a ref, or a ref
    * missed) changes edge counts and breaks the hash.
    */
  val qHeapReferrers: GateQuery = GateQuery(
    "q_heap_referrers",
    s"""WITH $refEdgeSql,
       |d AS (SELECT dst, COUNT(*) AS in_deg FROM e GROUP BY dst),
       |j AS (SELECT oi.type_name, d.in_deg
       |      FROM d JOIN read_parquet('$exportDir/_object_index/*.parquet') oi
       |        ON oi.obj_id = d.dst)
       |SELECT type_name, CAST(COUNT(*) AS BIGINT) AS n_referenced,
       |  CAST(SUM(in_deg) AS BIGINT) AS n_refs,
       |  CAST(MAX(in_deg) AS BIGINT) AS max_in_deg
       |FROM j GROUP BY type_name
       |ORDER BY type_name""".stripMargin) { (s, _) =>
    analysis(s).referrerStats.get.orderBy("type_name")
  }

  /** B21 — unique-owner ownership collapse (first-order retained
    * size): deg-1 targets chase their owner chain for 8 unrolled
    * steps, every object lands on an owner root, and the rollup
    * reports roots/owned/max per root type. The oracle restates the
    * edge union WITH sources, the unique-owner aggregate, all 8
    * chase steps as LEFT JOINs, and the final rollup — a chase step
    * skipped, a non-unique owner kept, or a root typed off the wrong
    * side all break the hash.
    */
  val qHeapOwnership: GateQuery = {
    val rounds = 8
    val chase = (1 until rounds).map { k =>
      s"""p$k AS (SELECT q.o, COALESCE(w.owner, q.p) AS p
         |       FROM p${k - 1} q LEFT JOIN own w ON w.o = q.p)""".stripMargin
    }.mkString(",\n")
    GateQuery(
      "q_heap_ownership",
      s"""WITH $refEdgeSql,
         |own AS (SELECT dst AS o, MIN(src) AS owner FROM e
         |        GROUP BY dst HAVING COUNT(*) = 1),
         |oi AS (SELECT obj_id, type_name
         |       FROM read_parquet('$exportDir/_object_index/*.parquet')),
         |p0 AS (SELECT oi.obj_id AS o, COALESCE(w.owner, oi.obj_id) AS p
         |       FROM oi LEFT JOIN own w ON w.o = oi.obj_id),
         |$chase,
         |sz AS (SELECT p AS root, COUNT(*) AS owned FROM p${rounds - 1} GROUP BY p)
         |SELECT oi.type_name, CAST(COUNT(*) AS BIGINT) AS n_roots,
         |  CAST(SUM(sz.owned) AS BIGINT) AS total_owned,
         |  CAST(MAX(sz.owned) AS BIGINT) AS max_owned
         |FROM sz JOIN oi ON oi.obj_id = sz.root
         |GROUP BY oi.type_name
         |ORDER BY oi.type_name""".stripMargin) { (s, _) =>
      analysis(s).ownershipCollapse(rounds).get.orderBy("type_name")
    }
  }

  /** B22 — dominator-approximate retained size: unique-referrer
    * ownership (B21) tightened by one diamond-adoption pass — a
    * shared object whose referrers ALL collapse to one root belongs
    * to that root; referrers with differing roots keep it a root of
    * its own. Per-object shallow bytes (arrays by element count,
    * instances by the `_fields` slot layout) roll up to final roots.
    * The oracle replays the WHOLE program: the stated edge union,
    * distinct-referrer degrees, both 4-step chases, the adoption
    * aggregate, the three size derivations, and the rollup — a wrong
    * width, a skipped chase step, or an over-eager adoption all
    * break the hash.
    */
  private val retainedRounds = 4
  /** Shared CTE preamble for the B22/B27 gates: edges, degrees, both
    * ownership chases, the adoption pass, per-object shallow sizes,
    * and the per-root `rt(root, owned, retained)` frame.
    */
  private lazy val retainedCtesSql: String =
    retainedCtesFor(exportDir, refEdgeSql)

  /** The same preamble parameterized by (export dir, edge enumeration)
    * — the B29 retained-growth oracle runs it once per dump side as a
    * nested WITH subquery.
    */
  /** The pw/arr/cs/inst/sz CTE block: per-object shallow bytes from
    * the export, shared by the retained replays and the root-kind
    * census. Requires an `oi` (obj_id, type_name) CTE upstream.
    */
  private def sizeCtesFor(exportDir: String): String = {
    val primWidths = Seq(("boolean", 1), ("byte", 1), ("char", 2), ("short", 2),
      ("int", 4), ("float", 4), ("long", 8), ("double", 8))
    val pwSql = primWidths.map { case (pt, w) =>
      s"""  SELECT obj_id, CAST(16 + len("values") * $w AS BIGINT) AS bytes
         |  FROM read_parquet('$exportDir/_primitive_arrays_$pt/*.parquet')""".stripMargin
    }.mkString("\n  UNION ALL\n")
    s"""pw AS (
         |$pwSql),
         |arr AS (
         |  SELECT obj_id, bytes FROM pw
         |  UNION ALL
         |  SELECT obj_id, CAST(16 + len(elements) * 4 AS BIGINT) AS bytes
         |  FROM read_parquet('$exportDir/_object_arrays/*.parquet')),
         |cs AS (SELECT class_name AS type_name,
         |         CAST(16 + SUM(CASE WHEN field_type IN ('boolean','byte') THEN 1
         |                            WHEN field_type IN ('char','short') THEN 2
         |                            WHEN field_type IN ('long','double') THEN 8
         |                            ELSE 4 END) AS BIGINT) AS bytes
         |       FROM read_parquet('$exportDir/_fields/*.parquet')
         |       GROUP BY class_name),
         |inst AS (SELECT oi.obj_id, CAST(COALESCE(cs.bytes, 16) AS BIGINT) AS bytes
         |         FROM oi LEFT JOIN cs ON cs.type_name = oi.type_name
         |         WHERE oi.obj_id NOT IN (SELECT obj_id FROM arr)),
         |sz AS (SELECT obj_id, bytes FROM inst UNION ALL SELECT obj_id, bytes FROM arr)""".stripMargin
  }

  private def retainedCtesFor(exportDir: String, refEdgeSql: String): String = {
    val rounds = retainedRounds
    def chaseSql(prefix: String, own: String) = (1 until rounds).map { k =>
      s"""$prefix$k AS (SELECT q.o, COALESCE(w.p, q.r) AS r
         |       FROM $prefix${k - 1} q LEFT JOIN $own w ON w.o = q.r)""".stripMargin
    }.mkString(",\n")
    s"""$refEdgeSql,
         |ed AS (SELECT DISTINCT src, dst FROM e),
         |dg AS (SELECT dst, COUNT(*) AS deg, MIN(src) AS only_src FROM ed GROUP BY dst),
         |own1 AS (SELECT dst AS o, only_src AS p FROM dg WHERE deg = 1),
         |oi AS (SELECT obj_id, type_name
         |       FROM read_parquet('$exportDir/_object_index/*.parquet')),
         |q0 AS (SELECT oi.obj_id AS o, COALESCE(w.p, oi.obj_id) AS r
         |       FROM oi LEFT JOIN own1 w ON w.o = oi.obj_id),
         |${chaseSql("q", "own1")},
         |adopt AS (
         |  SELECT ed.dst AS o, MIN(r0.r) AS p
         |  FROM dg JOIN ed ON ed.dst = dg.dst AND dg.deg >= 2
         |  JOIN q${rounds - 1} r0 ON r0.o = ed.src
         |  GROUP BY ed.dst
         |  HAVING COUNT(DISTINCT r0.r) = 1 AND MIN(r0.r) <> ed.dst),
         |own2 AS (SELECT o, p FROM own1 UNION ALL SELECT o, p FROM adopt),
         |p0 AS (SELECT oi.obj_id AS o, COALESCE(w.p, oi.obj_id) AS r
         |       FROM oi LEFT JOIN own2 w ON w.o = oi.obj_id),
         |${chaseSql("p", "own2")},
         |${sizeCtesFor(exportDir)},
         |rt AS (SELECT f.r AS root, COUNT(*) AS owned, SUM(sz.bytes) AS retained
         |       FROM p${rounds - 1} f JOIN sz ON sz.obj_id = f.o GROUP BY f.r)""".stripMargin
  }

  val qHeapRetained: GateQuery = GateQuery(
    "q_heap_retained",
    s"""WITH $retainedCtesSql
       |SELECT oi.type_name, CAST(COUNT(*) AS BIGINT) AS n_roots,
       |  CAST(SUM(rt.owned) AS BIGINT) AS total_owned,
       |  CAST(SUM(rt.retained) AS BIGINT) AS retained_bytes,
       |  CAST(MAX(rt.retained) AS BIGINT) AS max_retained
       |FROM rt JOIN oi ON oi.obj_id = rt.root
       |GROUP BY oi.type_name
       |ORDER BY oi.type_name""".stripMargin) { (s, _) =>
    analysis(s).retainedSize(retainedRounds).get.orderBy("type_name")
  }

  /** B27 — biggest single objects by retained bytes (MAT "Biggest
    * Objects", per object where B22 rolls up per type): the top-N
    * final ownership roots with owned-object count and retained
    * bytes. Same replay as q_heap_retained through the per-root
    * frame; the top-N cut is deterministic via the obj_id tie-break.
    */
  val qHeapTopRetained: GateQuery = GateQuery(
    "q_heap_top_retained",
    s"""WITH $retainedCtesSql
       |SELECT rt.root AS obj_id, oi.type_name,
       |  CAST(rt.owned AS BIGINT) AS owned,
       |  CAST(rt.retained AS BIGINT) AS retained_bytes
       |FROM rt JOIN oi ON oi.obj_id = rt.root
       |ORDER BY retained_bytes DESC, obj_id LIMIT 20""".stripMargin) { (s, _) =>
    analysis(s).retainedTopObjects(retainedRounds, limit = 20).get
  }

  /** B33 — EXACT dominator-tree retained size (the MAT-exact answer;
    * r12 verdict "missing #3"): per reachable object, how many
    * objects it strictly dominates and its exact retained bytes. The
    * engine computes the dominator tree with the Cooper-Harvey-
    * Kennedy iteration over a virtual super-root (the bounded audit
    * tier — a dump is a single-machine artifact, which is how MAT
    * computes it too; B22/B27 stay the distributed lower bound). The
    * oracle NEVER computes a dominator tree: it replays the
    * DEFINITION — v dominates u iff u is unreachable from the GC
    * roots with v removed — as one recursive (candidate, reached)
    * closure, then folds exact retained sums. Agreement means the
    * CHK fixpoint equals the removal-reachability semantics object
    * for object, byte for byte.
    */
  val qHeapDominators: GateQuery = GateQuery(
    "q_heap_dominators",
    s"""WITH RECURSIVE $refEdgeSql,
       |oi AS (SELECT obj_id, type_name
       |       FROM read_parquet('$exportDir/_object_index/*.parquet')),
       |ed AS (SELECT DISTINCT e.src, e.dst FROM e
       |       JOIN oi s ON s.obj_id = e.src JOIN oi d ON d.obj_id = e.dst
       |       WHERE e.src <> e.dst),
       |roots AS (SELECT DISTINCT g.obj_id
       |          FROM read_parquet('$exportDir/_gc_roots/*.parquet') g
       |          JOIN oi ON oi.obj_id = g.obj_id),
       |rr(u) AS (SELECT obj_id FROM roots
       |          UNION SELECT ed.dst FROM rr JOIN ed ON ed.src = rr.u),
       |reach AS (SELECT DISTINCT u FROM rr),
       |rm(v, u) AS (
       |  SELECT c.u, r.obj_id FROM reach c JOIN roots r ON r.obj_id <> c.u
       |  UNION
       |  SELECT rm.v, ed.dst FROM rm JOIN ed ON ed.src = rm.u
       |  WHERE ed.dst <> rm.v),
       |dom AS (SELECT c.u AS v, t.u AS u FROM reach c JOIN reach t ON t.u <> c.u
       |        WHERE NOT EXISTS (SELECT 1 FROM rm WHERE rm.v = c.u AND rm.u = t.u)),
       |${sizeCtesFor(exportDir)},
       |ret AS (SELECT r0.u AS obj_id,
       |          CAST(COUNT(d.u) AS BIGINT) AS n_dominated,
       |          CAST(COALESCE(SUM(szd.bytes), 0) AS BIGINT) AS dom_bytes
       |        FROM reach r0 LEFT JOIN dom d ON d.v = r0.u
       |        LEFT JOIN sz szd ON szd.obj_id = d.u
       |        GROUP BY r0.u)
       |SELECT oi.obj_id, oi.type_name, ret.n_dominated,
       |  CAST(sz.bytes + ret.dom_bytes AS BIGINT) AS retained_bytes
       |FROM ret JOIN oi ON oi.obj_id = ret.obj_id JOIN sz ON sz.obj_id = ret.obj_id
       |ORDER BY retained_bytes DESC, oi.obj_id
       |LIMIT 25""".stripMargin) { (s, _) =>
    analysis(s).exactDominatorTop(limit = 25).get
  }

  /** B33 at BENCH SCALE — exact dominators on the ~3.03M-object
    * planted dump (see [[bigDir]]): the CSR tier's answer at the
    * scale the 150 MB ingest bench exercises, where the r13
    * implementation refused (maxNodes was 2M). The oracle computes
    * the dominator tree ANALYTICALLY from the planted topology's
    * invariants — a single-referrer node is dominated by its
    * referrer; a multi-referrer LEAF by the LCA of its referrers
    * (exact here because referrers' dominator-tree ancestors equal
    * their reference-tree ancestors, and shared nodes are leaves) —
    * then subtree-sums bytes over that tree. Every piece is
    * independent of the engine: edges come from the typed class
    * tables + `_object_arrays`, sizes from the shared shallow-size
    * CTEs, reachability from the GC roots. A wrong idom anywhere in
    * the engine's 3M-node CHK fixpoint moves bytes between subtrees
    * and breaks the hash.
    */
  val qHeapDominatorsBig: GateQuery = GateQuery(
    "q_heap_dominators_big",
    s"""WITH RECURSIVE
       |e AS (
       |  SELECT h.obj_id AS src, h.kids AS dst
       |  FROM read_parquet('$bigExportDir/bench.Head_*/*.parquet') h WHERE h.kids <> 0
       |  UNION ALL
       |  SELECT n.obj_id, n.next FROM read_parquet('$bigExportDir/bench.Node_*/*.parquet') n
       |  WHERE n.next <> 0
       |  UNION ALL
       |  SELECT n2.obj_id, n2.extra FROM read_parquet('$bigExportDir/bench.Node_*/*.parquet') n2
       |  WHERE n2.extra <> 0
       |  UNION ALL
       |  SELECT src, dst FROM (
       |    SELECT o.obj_id AS src, unnest(o.elements) AS dst
       |    FROM read_parquet('$bigExportDir/_object_arrays/*.parquet') o)
       |  WHERE dst <> 0),
       |oi AS (SELECT obj_id, type_name
       |       FROM read_parquet('$bigExportDir/_object_index/*.parquet')),
       |edd AS (SELECT DISTINCT src, dst FROM e),
       |roots AS (SELECT DISTINCT g.obj_id
       |          FROM read_parquet('$bigExportDir/_gc_roots/*.parquet') g
       |          JOIN oi ON oi.obj_id = g.obj_id),
       |rr(u) AS (SELECT obj_id FROM roots
       |          UNION SELECT edd.dst FROM rr JOIN edd ON edd.src = rr.u),
       |reach AS (SELECT DISTINCT u FROM rr),
       |dg AS (SELECT edd.dst AS u, COUNT(*) AS nref, MIN(edd.src) AS only_src
       |       FROM edd
       |       JOIN reach r1 ON r1.u = edd.dst JOIN reach r2 ON r2.u = edd.src
       |       GROUP BY edd.dst),
       |treepar AS (SELECT u, only_src AS p FROM dg WHERE nref = 1),
       |mref AS (SELECT edd.dst AS s, edd.src AS r
       |         FROM edd JOIN dg ON dg.u = edd.dst AND dg.nref >= 2),
       |ranc(s, r, a, d) AS (
       |  SELECT s, r, r, 0 FROM mref
       |  UNION ALL
       |  SELECT ranc.s, ranc.r, t.p, ranc.d + 1 FROM ranc JOIN treepar t ON t.u = ranc.a),
       |nrefk AS (SELECT s, COUNT(DISTINCT r) AS k FROM mref GROUP BY s),
       |canc AS (SELECT ranc.s, ranc.a, MAX(ranc.d) AS dmax
       |         FROM ranc JOIN nrefk ON nrefk.s = ranc.s
       |         GROUP BY ranc.s, ranc.a
       |         HAVING COUNT(DISTINCT ranc.r) = MAX(nrefk.k)),
       |lca AS (SELECT s, a FROM (
       |          SELECT s, a, row_number() OVER (PARTITION BY s ORDER BY dmax, a) AS rn
       |          FROM canc) WHERE rn = 1),
       |dompar AS (SELECT u, p FROM treepar WHERE u NOT IN (SELECT s FROM mref)
       |           UNION ALL SELECT s AS u, a AS p FROM lca),
       |danc(u, a) AS (
       |  SELECT u, p FROM dompar
       |  UNION ALL
       |  SELECT danc.u, d2.p FROM danc JOIN dompar d2 ON d2.u = danc.a),
       |${sizeCtesFor(bigExportDir)},
       |ret AS (SELECT danc.a AS obj_id, COUNT(*) AS n_dom, SUM(szu.bytes) AS dom_bytes
       |        FROM danc JOIN sz szu ON szu.obj_id = danc.u
       |        GROUP BY danc.a),
       |fin AS (SELECT r0.u AS obj_id,
       |          CAST(COALESCE(ret.n_dom, 0) AS BIGINT) AS n_dominated,
       |          CAST(sz.bytes + COALESCE(ret.dom_bytes, 0) AS BIGINT) AS retained_bytes
       |        FROM reach r0
       |        JOIN sz ON sz.obj_id = r0.u
       |        LEFT JOIN ret ON ret.obj_id = r0.u)
       |SELECT oi.obj_id, oi.type_name, fin.n_dominated, fin.retained_bytes
       |FROM fin JOIN oi ON oi.obj_id = fin.obj_id
       |ORDER BY retained_bytes DESC, oi.obj_id
       |LIMIT 25""".stripMargin, bench = false) { (s, _) =>
    analysisFor(s, bigDir(s)).exactDominatorTop(limit = 25).get
  }

  /** A18 — the `_fields` layout-metadata table under a driver oracle:
    * the engine side re-derives the table from the pass-1 index
    * (class metadata, super-chain layout order), the oracle reads the
    * EXPORTED parquet — so the gate pins that what the parser knows
    * (slot order, field names, robo type tags, per-loader duplicate
    * class ids) is exactly what the export says, through a real
    * round-trip. The duplicate-name PluginService classes contribute
    * two class_obj_ids with identical layouts — the per-loader split
    * the B26 census depends on.
    */
  val qHeapFields: GateQuery = GateQuery(
    "q_heap_fields",
    s"""SELECT class_obj_id, class_name, slot_idx, field_name, field_type
       |FROM read_parquet('$exportDir/_fields/*.parquet')
       |ORDER BY class_obj_id, slot_idx""".stripMargin) { (s, _) =>
    demoDir(s)
    val hprof = s"${new java.io.File(exportDir).getParent}/demo.hprof"
    new HeapDump(s, hprof).fieldsTable
      .select("class_obj_id", "class_name", "slot_idx", "field_name", "field_type")
      .orderBy("class_obj_id", "slot_idx")
  }

  /** B30 — retained-attribution matrix (MAT "class histogram grouped
    * by dominator"): retained bytes by (root type, owned type) — the
    * breakdown that says WHAT a heavy root type's retained bytes are
    * made of. The oracle reuses the full B22 ownership replay
    * (p<rounds-1> is the final (o, r) assignment) and re-attributes
    * each owned object's bytes to both endpoints' types — a chain
    * chased one round short or an adoption mis-assigned moves bytes
    * between matrix cells and breaks the hash.
    */
  val qHeapRetainedMatrix: GateQuery = GateQuery(
    "q_heap_retained_matrix",
    s"""WITH $retainedCtesSql
       |SELECT ro.type_name AS root_type, oo.type_name AS owned_type,
       |  CAST(COUNT(*) AS BIGINT) AS n_objects,
       |  CAST(SUM(sz.bytes) AS BIGINT) AS bytes
       |FROM p${retainedRounds - 1} f
       |JOIN sz ON sz.obj_id = f.o
       |JOIN oi oo ON oo.obj_id = f.o
       |JOIN oi ro ON ro.obj_id = f.r
       |GROUP BY 1, 2
       |ORDER BY root_type, owned_type""".stripMargin) { (s, _) =>
    analysis(s).retainedMatrix(retainedRounds).get
      .orderBy("root_type", "owned_type")
  }

  /** B23 — GC-root reachability distance census: per-type minimum /
    * maximum hop count from any GC root along the B20 edge set
    * (8 bounded rounds; unreached-within-8 reports -1). The engine
    * runs frontier BFS (only the newly-reached delta exchanges per
    * round); the oracle replays the equivalent 8-round Bellman unroll
    * — first-reach depth IS the min distance, so the two agree
    * row-for-row. A root seeded off the wrong table, an edge missed,
    * or a min taken over the wrong relaxation all break the hash.
    */
  val qHeapRootPath: GateQuery = {
    val hops = 8
    val bellman = (1 to hops).map { k =>
      s"""d$k AS (SELECT o, MIN(dist) AS dist FROM (
         |  SELECT o, dist FROM d${k - 1}
         |  UNION ALL
         |  SELECT e.dst AS o, q.dist + 1 AS dist
         |  FROM d${k - 1} q JOIN ed e ON e.src = q.o) GROUP BY o)""".stripMargin
    }.mkString(",\n")
    GateQuery(
      "q_heap_root_path",
      s"""WITH $refEdgeSql,
         |ed AS (SELECT DISTINCT src, dst FROM e),
         |d0 AS (SELECT DISTINCT obj_id AS o, 0 AS dist
         |       FROM read_parquet('$exportDir/_gc_roots/*.parquet')),
         |$bellman,
         |oi AS (SELECT obj_id, type_name
         |       FROM read_parquet('$exportDir/_object_index/*.parquet'))
         |SELECT oi.type_name, CAST(COUNT(*) AS BIGINT) AS n_objects,
         |  CAST(SUM(CASE WHEN d.o IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_reached,
         |  CAST(COALESCE(MIN(d.dist), -1) AS BIGINT) AS min_dist,
         |  CAST(COALESCE(MAX(d.dist), -1) AS BIGINT) AS max_dist
         |FROM oi LEFT JOIN d$hops d ON d.o = oi.obj_id
         |GROUP BY oi.type_name
         |ORDER BY oi.type_name""".stripMargin) { (s, _) =>
      analysis(s).rootReachability(hops).get.orderBy("type_name")
    }
  }

  /** B31 — per-root-KIND reachable census: objects and shallow bytes
    * reachable within 8 hops from each GC-root kind's seeds — which
    * retention CHANNEL (JNI vs threads vs classes) pins how much.
    * Oracle replays the labeled BFS as a per-kind 8-round distinct
    * closure plus the shared size CTEs; kinds overlap by design
    * (attribution, not partition), so a kind bleeding into another's
    * closure or a missed seed both break the hash.
    */
  val qHeapRootKinds: GateQuery = {
    val hops = 8
    val rounds = (1 to hops).map { k =>
      s"""r$k AS (SELECT DISTINCT rt, o FROM (
         |  SELECT rt, o FROM r${k - 1}
         |  UNION ALL
         |  SELECT r${k - 1}.rt, ed.dst AS o
         |  FROM r${k - 1} JOIN ed ON ed.src = r${k - 1}.o))""".stripMargin
    }.mkString(",\n")
    GateQuery(
      "q_heap_root_kinds",
      s"""WITH $refEdgeSql,
         |ed AS (SELECT DISTINCT src, dst FROM e),
         |oi AS (SELECT obj_id, type_name
         |       FROM read_parquet('$exportDir/_object_index/*.parquet')),
         |${sizeCtesFor(exportDir)},
         |r0 AS (SELECT DISTINCT root_type AS rt, obj_id AS o
         |       FROM read_parquet('$exportDir/_gc_roots/*.parquet')),
         |$rounds
         |SELECT rt AS root_type, CAST(COUNT(*) AS BIGINT) AS n_reached,
         |  CAST(SUM(COALESCE(sz.bytes, 0)) AS BIGINT) AS reached_bytes
         |FROM r$hops LEFT JOIN sz ON sz.obj_id = r$hops.o
         |GROUP BY rt
         |ORDER BY rt""".stripMargin) { (s, _) =>
      analysis(s).rootKindReachability(hops).get.orderBy("root_type")
    }
  }

  /** B24 — exemplar path to GC root, per type: the oracle re-derives
    * the whole construction from the export — 8-round Bellman
    * distances, min-src parent selection at exactly one hop closer,
    * per-type (min dist, min id) exemplar, and the recursive parent
    * walk — so a wrong parent tie-break, an exemplar picked off the
    * wrong order, or a walk step skipping a hop all break the hash.
    */
  val qHeapPathExemplars: GateQuery = {
    val hops = 8
    val bellman = (1 to hops).map { k =>
      s"""d$k AS (SELECT o, MIN(dist) AS dist FROM (
         |  SELECT o, dist FROM d${k - 1}
         |  UNION ALL
         |  SELECT e.dst AS o, q.dist + 1 AS dist
         |  FROM d${k - 1} q JOIN ed e ON e.src = q.o) GROUP BY o)""".stripMargin
    }.mkString(",\n")
    GateQuery(
      "q_heap_path_exemplars",
      s"""WITH RECURSIVE $refEdgeSql,
         |ed AS (SELECT DISTINCT src, dst FROM e),
         |d0 AS (SELECT DISTINCT obj_id AS o, 0 AS dist
         |       FROM read_parquet('$exportDir/_gc_roots/*.parquet')),
         |$bellman,
         |oi AS (SELECT obj_id, type_name
         |       FROM read_parquet('$exportDir/_object_index/*.parquet')),
         |par AS (
         |  SELECT ed.dst AS o, MIN(ed.src) AS p
         |  FROM ed
         |  JOIN d$hops ds ON ds.o = ed.src
         |  JOIN d$hops dd ON dd.o = ed.dst
         |  WHERE ds.dist + 1 = dd.dist
         |  GROUP BY ed.dst),
         |rx AS (SELECT oi.type_name, d.o AS obj_id, d.dist
         |       FROM oi JOIN d$hops d ON d.o = oi.obj_id),
         |ex AS (
         |  SELECT type_name, 'nearest' AS kind, obj_id AS exemplar_id, dist FROM (
         |    SELECT type_name, obj_id, dist,
         |      ROW_NUMBER() OVER (PARTITION BY type_name
         |                         ORDER BY dist, obj_id) AS rn
         |    FROM rx) WHERE rn = 1
         |  UNION ALL
         |  SELECT type_name, 'deepest' AS kind, obj_id AS exemplar_id, dist FROM (
         |    SELECT type_name, obj_id, dist,
         |      ROW_NUMBER() OVER (PARTITION BY type_name
         |                         ORDER BY dist DESC, obj_id) AS rn
         |    FROM rx) WHERE rn = 1),
         |walk(type_name, kind, exemplar_id, dist, node_id, step) AS (
         |  SELECT type_name, kind, exemplar_id, dist, exemplar_id, dist FROM ex
         |  UNION ALL
         |  SELECT w.type_name, w.kind, w.exemplar_id, w.dist, par.p, w.step - 1
         |  FROM walk w JOIN par ON par.o = w.node_id
         |  WHERE w.step > 0)
         |SELECT w.type_name, w.kind, w.exemplar_id,
         |  CAST(w.dist AS BIGINT) AS dist, CAST(w.step AS BIGINT) AS step,
         |  w.node_id, COALESCE(oi2.type_name, '(root)') AS node_type
         |FROM walk w LEFT JOIN oi oi2 ON oi2.obj_id = w.node_id
         |ORDER BY w.type_name, w.kind, w.step""".stripMargin) { (s, _) =>
      analysis(s).rootPathExemplars(hops).get.orderBy("type_name", "kind", "step")
    }
  }

  /** B25 — two-dump growth diff: per-type count/byte deltas between
    * the demo export and its "later" variant. The oracle re-derives
    * BOTH censuses from the raw exports (prim-array widths, object
    * arrays, `_fields` slot widths, header constants — the same size
    * model q_heap_retained pins) and replays the full-outer diff, so
    * a size drift in either export, a missed birth/death, or a
    * coalesce dropped on one side breaks the hash.
    */
  val qHeapDiff: GateQuery = {
    val primWidths = Seq(("boolean", 1), ("byte", 1), ("char", 2), ("short", 2),
      ("int", 4), ("float", 4), ("long", 8), ("double", 8))
    def censusSql(dir: String, tag: String): String = {
      val pw = primWidths.map { case (pt, w) =>
        s"""  SELECT obj_id, CAST(16 + len("values") * $w AS BIGINT) AS bytes
           |  FROM read_parquet('$dir/_primitive_arrays_$pt/*.parquet')""".stripMargin
      }.mkString("\n  UNION ALL\n")
      s"""arr_$tag AS (
         |$pw
         |  UNION ALL
         |  SELECT obj_id, CAST(16 + len(elements) * 4 AS BIGINT) AS bytes
         |  FROM read_parquet('$dir/_object_arrays/*.parquet')),
         |cs_$tag AS (SELECT class_name AS type_name,
         |         CAST(16 + SUM(CASE WHEN field_type IN ('boolean','byte') THEN 1
         |                            WHEN field_type IN ('char','short') THEN 2
         |                            WHEN field_type IN ('long','double') THEN 8
         |                            ELSE 4 END) AS BIGINT) AS bytes
         |       FROM read_parquet('$dir/_fields/*.parquet')
         |       GROUP BY class_name),
         |oi_$tag AS (SELECT obj_id, type_name
         |       FROM read_parquet('$dir/_object_index/*.parquet')),
         |inst_$tag AS (SELECT oi.obj_id, CAST(COALESCE(cs.bytes, 16) AS BIGINT) AS bytes
         |       FROM oi_$tag oi LEFT JOIN cs_$tag cs USING (type_name)
         |       WHERE oi.obj_id NOT IN (SELECT obj_id FROM arr_$tag)),
         |sz_$tag AS (SELECT obj_id, bytes FROM inst_$tag
         |       UNION ALL SELECT obj_id, bytes FROM arr_$tag),
         |cen_$tag AS (SELECT oi.type_name, CAST(COUNT(*) AS BIGINT) AS n,
         |         CAST(SUM(sz.bytes) AS BIGINT) AS b
         |       FROM oi_$tag oi JOIN sz_$tag sz USING (obj_id)
         |       GROUP BY oi.type_name)""".stripMargin
    }
    GateQuery(
      "q_heap_diff",
      s"""WITH ${censusSql(exportDir, "a")},
         |${censusSql(exportDirB, "b")}
         |SELECT type_name,
         |  COALESCE(a.n, 0) AS n_before, COALESCE(b.n, 0) AS n_after,
         |  COALESCE(b.n, 0) - COALESCE(a.n, 0) AS delta_n,
         |  COALESCE(a.b, 0) AS bytes_before, COALESCE(b.b, 0) AS bytes_after,
         |  COALESCE(b.b, 0) - COALESCE(a.b, 0) AS delta_bytes
         |FROM cen_a a FULL OUTER JOIN cen_b b USING (type_name)
         |ORDER BY type_name""".stripMargin) { (s, _) =>
      demoDir(s)
      demoDirB(s)
      HeapDiff.typeDelta(new HeapTables(s, exportDir), new HeapTables(s, exportDirB))
        .get.orderBy("type_name")
    }
  }

  /** B29 — RETAINED-size growth diff between the two dumps: per root
    * type, how much the memory its roots HOLD ALIVE changed — the
    * leak answer the shallow diff (B25) can only approximate (the
    * later dump's CacheEntry rows are 28 bytes each, but each retains
    * a string + payload subtree). The oracle runs the FULL B22
    * retained derivation once per side as nested WITH subqueries —
    * the before-side with the before-demo's edge enumeration, the
    * after-side with the later demo's (String.value,
    * ArrayList.elementData, CacheEntry.key, array elements, statics)
    * — then replays the full-outer delta.
    */
  val qHeapRetainedDiff: GateQuery = {
    val refEdgeSqlB =
      s"""e AS (
         |  SELECT s.obj_id AS src, s.value AS dst
         |  FROM read_parquet('$exportDirB/java.lang.String_*/*.parquet') s
         |  WHERE s.value <> 0
         |  UNION ALL
         |  SELECT a.obj_id, a.elementData FROM read_parquet('$exportDirB/java.util.ArrayList_*/*.parquet') a
         |  WHERE a.elementData <> 0
         |  UNION ALL
         |  SELECT c.obj_id, c."key" FROM read_parquet('$exportDirB/com.example.CacheEntry_*/*.parquet') c
         |  WHERE c."key" <> 0
         |  UNION ALL
         |  SELECT src, dst FROM (
         |    SELECT o.obj_id AS src, unnest(o.elements) AS dst
         |    FROM read_parquet('$exportDirB/_object_arrays/*.parquet') o)
         |  WHERE dst <> 0
         |  UNION ALL
         |  SELECT sf.class_obj_id, sf.ref_id
         |  FROM read_parquet('$exportDirB/_static_fields/*.parquet') sf
         |  WHERE sf.field_type = 'object' AND sf.ref_id <> 0)""".stripMargin
    def side(ctes: String) =
      s"""(WITH $ctes
         |SELECT oi.type_name, CAST(COUNT(*) AS BIGINT) AS n_roots,
         |  CAST(SUM(rt.retained) AS BIGINT) AS retained
         |FROM rt JOIN oi ON oi.obj_id = rt.root
         |GROUP BY oi.type_name)""".stripMargin
    GateQuery(
      "q_heap_retained_diff",
      s"""SELECT COALESCE(a.type_name, b.type_name) AS type_name,
         |  CAST(COALESCE(a.n_roots, 0) AS BIGINT) AS roots_before,
         |  CAST(COALESCE(b.n_roots, 0) AS BIGINT) AS roots_after,
         |  CAST(COALESCE(a.retained, 0) AS BIGINT) AS retained_before,
         |  CAST(COALESCE(b.retained, 0) AS BIGINT) AS retained_after,
         |  CAST(COALESCE(b.retained, 0) - COALESCE(a.retained, 0) AS BIGINT) AS delta_retained
         |FROM ${side(retainedCtesFor(exportDir, refEdgeSql))} a
         |FULL OUTER JOIN ${side(retainedCtesFor(exportDirB, refEdgeSqlB))} b
         |  ON a.type_name = b.type_name
         |ORDER BY type_name""".stripMargin) { (s, _) =>
      demoDir(s)
      demoDirB(s)
      HeapDiff.retainedDelta(new HeapTables(s, exportDir), new HeapTables(s, exportDirB))
        .get.orderBy("type_name")
    }
  }

  /** A13 — `dump-objects` human-readable rendering under a driver
    * oracle: every rendered line for the demo heap (classes with
    * statics, instances with decoded fields, object arrays with
    * element ids, primitive arrays with value previews) must equal a
    * DuckDB reconstruction of the SAME rendering from the export —
    * string assembly is portable SQL, so a drifted hex format, a
    * swapped field order, a broken preview truncation, or a decode
    * bug in any field slot breaks the hash. The oracle states each
    * demo class's layout explicitly (the refEdgeSql precedent): field
    * ORDER inside `{}` is the class layout, static order is the
    * class-dump slot order (`slot_idx`), char arrays render as
    * characters, refs as lower-hex ids.
    */
  val qHeapRender: GateQuery = {
    def hex(c: String) = s"lower(to_hex($c))"
    // per-class instance line: explicit layout, object fields as hex
    def inst(name: String, fields: (String, Boolean)*): String = {
      val body =
        if (fields.isEmpty) "''"
        else fields.map { case (f, isRef) =>
          if (isRef) s"'$f=0x' || ${hex(s""""$f"""")}"
          else s"'$f=' || CAST(\"$f\" AS VARCHAR)"
        }.mkString(" || ', ' || ")
      s"""SELECT '$name@0x' || ${hex("obj_id")} || ' {' || $body || '}' AS line
         |FROM read_parquet('$exportDir/${name}_*/*.parquet')""".stripMargin
    }
    // primitive-array line: first-8 preview; chars render as their
    // integer CODE POINTS (the parser models char slots as ints —
    // robo-style, exactly what the export stores)
    def prim(t: String, render: String): String =
      s"""SELECT '$t[' || CAST(len("values") AS VARCHAR) || ']@0x' || ${hex("obj_id")} ||
         |  ' [' || COALESCE(array_to_string(list_transform("values"[1:8], x -> $render), ', '), '') ||
         |  CASE WHEN len("values") > 8 THEN ', ...' ELSE '' END || ']' AS line
         |FROM read_parquet('$exportDir/_primitive_arrays_$t/*.parquet')""".stripMargin
    val instLines = Seq(
      inst("java.lang.String", "value" -> true, "hash" -> false),
      inst("java.util.HashMap", "size" -> false, "table" -> true),
      inst("java.util.ArrayList", "size" -> false, "elementData" -> true),
      inst("java.lang.Integer", "value" -> false),
      inst("java.lang.Long", "value" -> false),
      inst("java.lang.Thread", "threadStatus" -> false),
      inst("java.nio.DirectByteBuffer", "capacity" -> false,
        "position" -> false, "limit" -> false),
      inst("com.example.Node", "left" -> true, "right" -> true, "payload" -> false),
      inst("java.net.URLClassLoader"),
      inst("com.example.PluginService", "gen" -> false),
      inst("java.lang.ref.WeakReference", "referent" -> true),
      inst("java.lang.ref.SoftReference", "referent" -> true))
    val primLines = Seq(
      prim("boolean", "CAST(x AS VARCHAR)"),
      prim("byte", "CAST(x AS VARCHAR)"),
      prim("char", "CAST(x AS VARCHAR)"),
      prim("short", "CAST(x AS VARCHAR)"),
      prim("int", "CAST(x AS VARCHAR)"),
      prim("long", "CAST(x AS VARCHAR)"),
      prim("float", "CAST(x AS VARCHAR)"),
      prim("double", "CAST(x AS VARCHAR)"))
    GateQuery(
      "q_heap_render",
      s"""WITH statics AS (
         |  SELECT class_obj_id,
         |    string_agg('static ' || field_name || '=' ||
         |      CASE WHEN field_type = 'object' THEN '0x' || ${hex("ref_id")}
         |           ELSE primitive_value END, ', ' ORDER BY slot_idx) AS s
         |  FROM read_parquet('$exportDir/_static_fields/*.parquet')
         |  GROUP BY class_obj_id),
         |class_lines AS (
         |  SELECT 'class ' || c.class_name || '@0x' || ${hex("c.class_obj_id")} ||
         |    ' {' || COALESCE(st.s, '') || '}' AS line
         |  FROM read_parquet('$exportDir/_class_hierarchy/*.parquet') c
         |  LEFT JOIN statics st ON st.class_obj_id = c.class_obj_id),
         |oa_lines AS (
         |  SELECT regexp_replace(class_name, '^\\[L(.*);$$', '\\1') ||
         |    '[' || CAST(len(elements) AS VARCHAR) || ']@0x' || ${hex("obj_id")} ||
         |    ' [' || COALESCE(array_to_string(list_transform(elements[1:8], x -> '0x' || lower(to_hex(x))), ', '), '') ||
         |    CASE WHEN len(elements) > 8 THEN ', ...' ELSE '' END || ']' AS line
         |  FROM read_parquet('$exportDir/_object_arrays/*.parquet'))
         |SELECT line FROM (
         |  SELECT line FROM class_lines
         |  UNION ALL SELECT line FROM oa_lines
         |${(primLines ++ instLines).map(q => "  UNION ALL " + q.replace("\n", " ")).mkString("\n")}
         |)
         |ORDER BY line""".stripMargin) { (s, _) =>
      import s.implicits._
      demoDir(s)
      val hprof = s"${new java.io.File(exportDir).getParent}/demo.hprof"
      new HeapDump(s, hprof).renderObjects(1000000).toDF("line").orderBy("line")
    }
  }

  private def httpPost(port: Int, path: String, body: String): String = {
    val client = java.net.http.HttpClient.newHttpClient()
    val req = java.net.http.HttpRequest.newBuilder()
      .uri(java.net.URI.create(s"http://127.0.0.1:$port$path"))
      .header("Content-Type", "application/json")
      .POST(java.net.http.HttpRequest.BodyPublishers.ofString(body))
      .build()
    val resp = client.send(req, java.net.http.HttpResponse.BodyHandlers.ofString())
    require(resp.statusCode() == 200, s"$path -> HTTP ${resp.statusCode()}: ${resp.body()}")
    resp.body()
  }

  /** B32 — per-class layout-slack audit (the MAT "memory layout"
    * view): the class dump's DECLARED per-instance field bytes vs the
    * bytes the full field layout (A18 `_fields`, own + inherited
    * slots at their HPROF widths, refs at the 8-byte id size) can
    * account for — the gap is VM alignment/padding on a real dump and
    * a parser desync on any dump, which is what the gate pins: both
    * engines must derive identical declared/layout/slack numbers from
    * the same export.
    */
  val qHeapLayoutSlack: GateQuery = {
    val width = """CASE field_type
                  |  WHEN 'boolean' THEN 1 WHEN 'byte' THEN 1
                  |  WHEN 'char' THEN 2 WHEN 'short' THEN 2
                  |  WHEN 'int' THEN 4 WHEN 'float' THEN 4
                  |  WHEN 'long' THEN 8 WHEN 'double' THEN 8
                  |  ELSE 8 END""".stripMargin
    GateQuery(
      "q_heap_layout_slack",
      s"""WITH f AS (
         |  SELECT class_obj_id,
         |    CAST(SUM($width) AS BIGINT) AS layout_bytes,
         |    COUNT(*) AS n_fields
         |  FROM read_parquet('$exportDir/_fields/*.parquet')
         |  GROUP BY class_obj_id)
         |SELECT c.class_obj_id, c.class_name,
         |  CAST(c.instance_size AS BIGINT) AS declared_bytes,
         |  CAST(COALESCE(f.layout_bytes, 0) AS BIGINT) AS layout_bytes,
         |  CAST(c.instance_size - COALESCE(f.layout_bytes, 0) AS BIGINT) AS slack_bytes,
         |  CAST(COALESCE(f.n_fields, 0) AS BIGINT) AS n_fields
         |FROM read_parquet('$exportDir/_class_hierarchy/*.parquet') c
         |LEFT JOIN f ON f.class_obj_id = c.class_obj_id
         |ORDER BY c.class_obj_id""".stripMargin) { (s, _) =>
      val widthCol = expr(
        """CASE field_type
          |  WHEN 'boolean' THEN 1L WHEN 'byte' THEN 1L
          |  WHEN 'char' THEN 2L WHEN 'short' THEN 2L
          |  WHEN 'int' THEN 4L WHEN 'float' THEN 4L
          |  WHEN 'long' THEN 8L WHEN 'double' THEN 8L
          |  ELSE 8L END""".stripMargin)
      val f = table(s, "_fields")
        .groupBy("class_obj_id")
        .agg(sum(widthCol).as("layout_bytes"), count(lit(1)).as("n_fields"))
      table(s, "_class_hierarchy")
        .join(f, Seq("class_obj_id"), "left")
        .select(col("class_obj_id"), col("class_name"),
          col("instance_size").cast("long").as("declared_bytes"),
          coalesce(col("layout_bytes"), lit(0L)).as("layout_bytes"),
          (col("instance_size").cast("long") -
            coalesce(col("layout_bytes"), lit(0L))).as("slack_bytes"),
          coalesce(col("n_fields"), lit(0L)).as("n_fields"))
        .orderBy("class_obj_id")
    }
  }

  /** A16/A17 — the serving layer driven over REAL HTTP (the reference's
    * MCP server surface, server.py:479-537 query_heap + analyze_heap):
    * the gate opens a session on the demo export through the wire,
    * walks a paged `/query` (limit 64, has_more/next_offset loop — the
    * LIMIT n+1 OFFSET pagination contract), then runs `/analyze` and
    * parses the waste findings back out of the response JSON. The
    * oracle re-derives BOTH sections from the exported parquet in
    * DuckDB — the query rows with their page assignment (pinning the
    * pagination arithmetic) and the full 13-check waste suite (the
    * q_heap_waste oracle verbatim, as a subquery) — so a transport,
    * JSON-encoding, session-registration, or paging bug anywhere on
    * the wire path breaks the hash.
    */
  val qHeapHttp: GateQuery = GateQuery(
    "q_heap_http",
    s"""WITH oi AS (
       |  SELECT obj_id, type_name,
       |    CAST((ROW_NUMBER() OVER (ORDER BY obj_id, type_name) - 1) // 64 AS BIGINT) AS page
       |  FROM read_parquet('$exportDir/_object_index/*.parquet'))
       |SELECT * FROM (
       |  SELECT 'query' AS section, type_name AS name,
       |    CAST(obj_id AS BIGINT) AS a, page AS b, CAST(0 AS BIGINT) AS c
       |  FROM oi
       |  UNION ALL
       |  SELECT 'analyze', check_name || '|' || severity, CAST(tier AS BIGINT),
       |    CAST(affected_count AS BIGINT), CAST(estimated_waste_bytes AS BIGINT)
       |  FROM (${qHeapWaste.oracle.get}) w)
       |ORDER BY section, name, a""".stripMargin) { (s, _) =>
    import s.implicits._
    demoDir(s)
    // per-call server lifecycle (ephemeral port, stopped in finally):
    // HttpServer's internal dispatcher thread is non-daemon, so a
    // JVM-cached server would keep Verify/Bench alive after main exits
    val srv = new HeapServer(s, 0).start()
    val port = srv.boundPort
    def num(v: Any): Long = v match {
      case l: java.lang.Long => l
      case n: java.lang.Number => n.longValue()
      case other => throw new IllegalStateException(s"non-numeric cell: $other")
    }
    val rows = Seq.newBuilder[(String, String, Long, Long, Long)]
    try {
      httpPost(port, "/sessions/open",
        s"""{"parquet_dir":${graft.Json.str(exportDir)},"session_id":"gate"}""")
      var offset = 0L
      var more = true
      var page = 0L
      while (more) {
        val resp = httpPost(port, "/query",
          s"""{"session_id":"gate","sql":"SELECT obj_id, type_name FROM _object_index ORDER BY obj_id, type_name","limit":64,"offset":$offset}""")
        val m = graft.Json.parse(resp).asInstanceOf[Map[String, Any]]
        m("rows").asInstanceOf[Vector[Any]].foreach { r =>
          val row = r.asInstanceOf[Map[String, Any]]
          rows += (("query", row("type_name").asInstanceOf[String],
            num(row("obj_id")), page, 0L))
        }
        more = m("has_more") == true
        offset = num(m("next_offset"))
        page += 1
      }
      val aresp = httpPost(port, "/analyze",
        // graph=false: the gate pins the reference analyze surface
      // (summary + waste findings); the graph sections have their own
      // dedicated gates and would triple the wire gate's cost
      """{"session_id":"gate","top_n":30,"waste":true,"max_tier":3,"graph":false}""")
      val am = graft.Json.parse(aresp).asInstanceOf[Map[String, Any]]
      am("waste_findings").asInstanceOf[Vector[Any]].foreach { f =>
        val fm = f.asInstanceOf[Map[String, Any]]
        rows += (("analyze",
          fm("check_name").asInstanceOf[String] + "|" + fm("severity").asInstanceOf[String],
          num(fm("tier")), num(fm("affected_count")), num(fm("estimated_waste_bytes"))))
      }
    } finally srv.stop()
    rows.result().toDF("section", "name", "a", "b", "c")
      .orderBy("section", "name", "a")
  }

  /** A17b — the MCP STDIO transport driven over its REAL JSON-RPC
    * loop (r12 verdict #5: the reference's native serving surface —
    * mcp_server/server.py — was the one transport proven by ScalaTest
    * only). The gate speaks the actual wire protocol to
    * [[graft.heap.HeapMcp.serve]] through a piped byte stream — the
    * same loop `runMain graft.heap.HeapMcp` serves on stdin/stdout —
    * walking initialize → initialized → tools/list → open_session →
    * a LIMIT/OFFSET page walk of query_heap → analyze_heap, and
    * re-derives every response against DuckDB: the tool list is
    * pinned as literal protocol surface, the page walk must
    * reassemble the exact object index WITH page addresses, and the
    * waste findings must equal the q_heap_waste re-derivation — the
    * same contract q_heap_http pins for the HTTP twin.
    */
  val qHeapMcp: GateQuery = GateQuery(
    "q_heap_mcp",
    s"""WITH oi AS (
       |  SELECT obj_id, type_name,
       |    CAST((ROW_NUMBER() OVER (ORDER BY obj_id, type_name) - 1) // 64 AS BIGINT) AS page
       |  FROM read_parquet('$exportDir/_object_index/*.parquet'))
       |SELECT * FROM (
       |  SELECT 'query' AS section, type_name AS name,
       |    CAST(obj_id AS BIGINT) AS a, page AS b, CAST(0 AS BIGINT) AS c
       |  FROM oi
       |  UNION ALL
       |  SELECT 'tools', t.name, CAST(0 AS BIGINT), CAST(0 AS BIGINT), CAST(0 AS BIGINT)
       |  FROM (VALUES ('convert_heap_dump'), ('open_session'), ('list_sessions'),
       |        ('close_session'), ('cleanup_session'), ('list_parquet_files'),
       |        ('query_heap'), ('analyze_heap')) t(name)
       |  UNION ALL
       |  SELECT 'analyze', check_name || '|' || severity, CAST(tier AS BIGINT),
       |    CAST(affected_count AS BIGINT), CAST(estimated_waste_bytes AS BIGINT)
       |  FROM (${qHeapWaste.oracle.get}) w)
       |ORDER BY section, name, a""".stripMargin) { (s, _) =>
    import s.implicits._
    demoDir(s)
    import graft.heap.HeapMcp
    val reqOut = new java.io.PipedOutputStream()
    val reqIn = new java.io.PipedInputStream(reqOut, 1 << 16)
    val respOut = new java.io.PipedOutputStream()
    val respIn = new java.io.PipedInputStream(respOut, 1 << 20)
    val server = new Thread(() => {
      val ps = new java.io.PrintStream(respOut, true, "UTF-8")
      try HeapMcp.serve(new HeapMcp(s),
        new java.io.BufferedReader(new java.io.InputStreamReader(reqIn, "UTF-8")), ps)
      finally ps.close()
    }, "mcp-gate-server")
    server.setDaemon(true)
    server.start()
    val w = new java.io.PrintWriter(
      new java.io.OutputStreamWriter(reqOut, "UTF-8"), true)
    val r = new java.io.BufferedReader(
      new java.io.InputStreamReader(respIn, "UTF-8"))
    def rpc(json: String): Map[String, Any] = {
      w.println(json)
      val line = r.readLine()
      require(line != null, "MCP server closed the stream mid-conversation")
      val m = graft.Json.parse(line).asInstanceOf[Map[String, Any]]
      require(!m.contains("error"), s"JSON-RPC error: ${m("error")}")
      m("result").asInstanceOf[Map[String, Any]]
    }
    // tools/call responses carry ONE text content block whose text is
    // a JSON document (the reference server's shape)
    def toolJson(result: Map[String, Any]): Map[String, Any] = {
      require(result("isError") == false, s"tool error: $result")
      val text = result("content").asInstanceOf[Vector[Any]].head
        .asInstanceOf[Map[String, Any]]("text").asInstanceOf[String]
      graft.Json.parse(text).asInstanceOf[Map[String, Any]]
    }
    def num(v: Any): Long = v match {
      case l: java.lang.Long => l
      case n: java.lang.Number => n.longValue()
      case other => throw new IllegalStateException(s"non-numeric cell: $other")
    }
    val rows = Seq.newBuilder[(String, String, Long, Long, Long)]
    try {
      val init = rpc("""{"jsonrpc":"2.0","id":1,"method":"initialize","params":{"protocolVersion":"2025-03-26","capabilities":{},"clientInfo":{"name":"gate","version":"0"}}}""")
      require(init("protocolVersion") == "2025-03-26", s"handshake: $init")
      w.println("""{"jsonrpc":"2.0","method":"notifications/initialized"}""")
      val tools = rpc("""{"jsonrpc":"2.0","id":2,"method":"tools/list"}""")
      tools("tools").asInstanceOf[Vector[Any]].foreach { t =>
        rows += (("tools",
          t.asInstanceOf[Map[String, Any]]("name").asInstanceOf[String], 0L, 0L, 0L))
      }
      toolJson(rpc(s"""{"jsonrpc":"2.0","id":3,"method":"tools/call","params":{"name":"open_session","arguments":{"parquet_dir":${graft.Json.str(exportDir)},"session_id":"mcpgate"}}}"""))
      var offset = 0L
      var more = true
      var page = 0L
      var rid = 4
      while (more) {
        val q = toolJson(rpc(s"""{"jsonrpc":"2.0","id":$rid,"method":"tools/call","params":{"name":"query_heap","arguments":{"session_id":"mcpgate","sql":"SELECT obj_id, type_name FROM _object_index ORDER BY obj_id, type_name","limit":64,"offset":$offset}}}"""))
        q("rows").asInstanceOf[Vector[Any]].foreach { row0 =>
          val row = row0.asInstanceOf[Map[String, Any]]
          rows += (("query", row("type_name").asInstanceOf[String],
            num(row("obj_id")), page, 0L))
        }
        more = q("has_more") == true
        offset = num(q("next_offset"))
        page += 1
        rid += 1
      }
      val am = toolJson(rpc(s"""{"jsonrpc":"2.0","id":$rid,"method":"tools/call","params":{"name":"analyze_heap","arguments":{"session_id":"mcpgate","top_n":30,"waste":true,"waste_tier":3}}}"""))
      am("waste_findings").asInstanceOf[Vector[Any]].foreach { f =>
        val fm = f.asInstanceOf[Map[String, Any]]
        rows += (("analyze",
          fm("check_name").asInstanceOf[String] + "|" + fm("severity").asInstanceOf[String],
          num(fm("tier")), num(fm("affected_count")), num(fm("estimated_waste_bytes"))))
      }
      toolJson(rpc(s"""{"jsonrpc":"2.0","id":${rid + 1},"method":"tools/call","params":{"name":"close_session","arguments":{"session_id":"mcpgate"}}}"""))
    } finally {
      w.close() // EOF ends the serve loop; the daemon thread drains
    }
    rows.result().toDF("section", "name", "a", "b", "c")
      .orderBy("section", "name", "a")
  }

  /** A1-A6 direct gate (r12 verdict #8 — these rows were spec-only):
    * a SINGLE-THREADED re-parse of the demo dump via HprofParser's
    * record index + segment visitor — a different code path from the
    * two-pass distributed export — emits per-record-tag and
    * per-sub-record-kind counts plus per-kind id checksums, and
    * DuckDB re-derives the same census from the EXPORTED parquet.
    * A parser bug (miscounted instances, dropped array, wrong root
    * kind, broken sub-record boundary walk) now breaks a driver hash
    * instead of only a ScalaTest assertion.
    */
  val qHeapParseCensus: GateQuery = {
    val primBlocks = Seq("boolean", "byte", "char", "short", "int", "long",
      "float", "double").map { t =>
      s"""UNION ALL SELECT 'sub', 'prim_array_$t', CAST(COUNT(*) AS BIGINT),
         |  CAST(COALESCE(SUM(obj_id), 0) AS BIGINT)
         |FROM read_parquet('$exportDir/_primitive_arrays_$t/*.parquet')""".stripMargin
    }.mkString("\n")
    GateQuery(
      "q_heap_parse_census",
      s"""SELECT * FROM (
         |SELECT 'record' AS section, 'load_class' AS name,
         |  CAST(COUNT(*) AS BIGINT) AS n,
         |  CAST(COALESCE(SUM(class_obj_id), 0) AS BIGINT) AS id_sum
         |FROM read_parquet('$exportDir/_class_hierarchy/*.parquet')
         |UNION ALL SELECT 'record', 'stack_frame', CAST(COUNT(*) AS BIGINT),
         |  CAST(COALESCE(SUM(frame_id), 0) AS BIGINT)
         |FROM read_parquet('$exportDir/_stack_frames/*.parquet')
         |UNION ALL SELECT 'record', 'stack_trace', CAST(COUNT(*) AS BIGINT),
         |  CAST(COALESCE(SUM(stack_trace_serial), 0) AS BIGINT)
         |FROM read_parquet('$exportDir/_stack_traces/*.parquet')
         |UNION ALL SELECT 'sub', 'instance', CAST(COUNT(*) AS BIGINT),
         |  CAST(COALESCE(SUM(obj_id), 0) AS BIGINT)
         |FROM read_parquet('$exportDir/_object_index/*.parquet')
         |WHERE type_name NOT LIKE 'class %' AND type_name NOT LIKE '%[]'
         |UNION ALL SELECT 'sub', 'class_dump', CAST(COUNT(*) AS BIGINT),
         |  CAST(COALESCE(SUM(obj_id), 0) AS BIGINT)
         |FROM read_parquet('$exportDir/_object_index/*.parquet')
         |WHERE type_name LIKE 'class %'
         |UNION ALL SELECT 'sub', 'obj_array', CAST(COUNT(*) AS BIGINT),
         |  CAST(COALESCE(SUM(obj_id), 0) AS BIGINT)
         |FROM read_parquet('$exportDir/_object_arrays/*.parquet')
         |$primBlocks
         |UNION ALL SELECT 'sub', 'gc_root_' || root_type, CAST(COUNT(*) AS BIGINT),
         |  CAST(COALESCE(SUM(obj_id), 0) AS BIGINT)
         |FROM read_parquet('$exportDir/_gc_roots/*.parquet')
         |GROUP BY root_type
         |) ORDER BY section, name""".stripMargin) { (s, _) =>
      import s.implicits._
      demoDir(s)
      import graft.heap.{HprofModel, HprofParser}
      import HprofModel.{BasicType, Tag}
      val hprof = new java.io.File(
        new java.io.File(exportDir).getParentFile, "demo.hprof")
      val bytes = java.nio.file.Files.readAllBytes(hprof.toPath)
      val header = HprofParser.parseHeader(
        java.util.Arrays.copyOfRange(bytes, 0, math.min(bytes.length, 64)))
      val idSize = header.idSize
      def readAt(off: Long, len: Int): Array[Byte] =
        java.util.Arrays.copyOfRange(bytes, off.toInt, off.toInt + len)
      val counts = scala.collection.mutable.LinkedHashMap
        .empty[(String, String), (Long, Long)]
      // pre-seed the fixed prim-array kinds so an empty kind still
      // emits its zero row (the oracle's per-table blocks always do)
      Seq("boolean", "byte", "char", "short", "int", "long", "float", "double")
        .foreach(t => counts(("sub", s"prim_array_$t")) = (0L, 0L))
      def add(sec: String, nm: String, id: Long): Unit = {
        val (c, sum) = counts.getOrElse((sec, nm), (0L, 0L))
        counts((sec, nm)) = (c + 1, sum + id)
      }
      HprofParser.indexRecords(readAt, bytes.length.toLong, header.bodyStart)
        .foreach { r =>
          lazy val body = readAt(r.bodyOffset, r.bodyLength.toInt)
          r.tag match {
            case Tag.LoadClass =>
              add("record", "load_class",
                HprofParser.parseLoadClass(body, idSize).classObjId)
            case Tag.StackFrame =>
              add("record", "stack_frame",
                HprofParser.parseStackFrame(body, idSize).frameId)
            case Tag.StackTrace =>
              add("record", "stack_trace",
                HprofParser.parseStackTrace(body, idSize).serial.toLong)
            case t if Tag.isHeapSegment(t) =>
              HprofParser.scanSegment(body, idSize, new HprofParser.SubVisitor {
                override def onInstance(ev: HprofModel.InstanceEv): Unit =
                  add("sub", "instance", ev.objId)
                override def onObjArray(ev: HprofModel.ObjArrayEv): Unit =
                  add("sub", "obj_array", ev.objId)
                override def onPrimArray(ev: HprofModel.PrimArrayEv): Unit =
                  add("sub", s"prim_array_${BasicType.javaName(ev.elemType)}", ev.objId)
                override def onGcRoot(ev: HprofModel.GcRootEv): Unit =
                  add("sub", s"gc_root_${ev.rootType}", ev.objId)
                override def onClassDump(ev: HprofModel.ClassDumpInfo): Unit =
                  add("sub", "class_dump", ev.classObjId)
              })
            case _ => ()
          }
        }
      counts.toSeq.map { case ((sec, nm), (c, sum)) => (sec, nm, c, sum) }
        .toDF("section", "name", "n", "id_sum")
        .orderBy("section", "name")
    }
  }

  val all: Seq[GateQuery] = Seq(
    qHeapParseCensus, qHeapMcp, qHeapHttp, qHeapLayoutSlack,
    qHeapRender, qHeapFields,
    qHeapObjectIndex, qHeapTopTypes, qHeapHistogram, qHeapLargeArrays,
    qHeapDupStrings, qHeapBadCollections, qHeapBadObjectArrays,
    qHeapBadPrimArrays, qHeapBoxed, qHeapCollectionSizing,
    qHeapDupByteArrays, qHeapDupObjArrays, qHeapClassCount, qHeapGcRoots,
    qHeapDbb, qHeapThreadStatus, qHeapStackDepth, qHeapShallowSize,
    qHeapStaticFields, qHeapStackFrames, qHeapClassHierarchy, qHeapClassloaders, qHeapRefs, qHeapWaste,
    qHeapReferrers, qHeapOwnership, qHeapRetained, qHeapTopRetained, qHeapDominators, qHeapDominatorsBig, qHeapRetainedMatrix, qHeapRootPath, qHeapRootKinds,
    qHeapPathExemplars, qHeapDiff, qHeapRetainedDiff,
    qHeapResolvedStrings, qHeapResolvedSizing, qHeapCountRecords, qHeapDsv2)
    .map(_.copy(bench = false))
}
