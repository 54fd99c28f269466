package graft.heap

import graft.SparkTestSession
import HprofModel._
import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

/** The 13-check waste suite against a synthetic heap with hand-
  * computed expected waste (SURVEY.md §2.B). Constants are the
  * 64-bit/compressed-oops layout numbers from HeapAnalysis.
  */
class HeapAnalysisSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private lazy val fixtures: (HeapAnalysis, HeapAnalysis, String, String) = {
    val w = new HprofWriter()
    val objectCls = w.defineClass("java.lang.Object")
    val stringCls = w.defineClass("java.lang.String", objectCls,
      instanceFields = Seq("value" -> BasicType.Object, "hash" -> BasicType.Int))
    val integerCls = w.defineClass("java.lang.Integer", objectCls,
      instanceFields = Seq("value" -> BasicType.Int))
    val hashMapCls = w.defineClass("java.util.HashMap", objectCls,
      instanceFields = Seq("size" -> BasicType.Int, "table" -> BasicType.Object))
    val arrayListCls = w.defineClass("java.util.ArrayList", objectCls,
      instanceFields = Seq("size" -> BasicType.Int, "elementData" -> BasicType.Object))
    val threadCls = w.defineClass("java.lang.Thread", objectCls,
      instanceFields = Seq("threadStatus" -> BasicType.Int))
    val dbbCls = w.defineClass("java.nio.DirectByteBuffer", objectCls,
      instanceFields = Seq("capacity" -> BasicType.Int, "position" -> BasicType.Int,
        "limit" -> BasicType.Int))
    val objArrayCls = w.defineClass("[Ljava.lang.Object;", objectCls)

    // strings: 2x "hello" (dup), 1x "world"
    val b1 = w.byteArray("hello"); val b2 = w.byteArray("hello"); val b3 = w.byteArray("world")
    val str1 = w.instance(stringCls, Seq(BasicType.Object -> b1, BasicType.Int -> 99))
    val str2 = w.instance(stringCls, Seq(BasicType.Object -> b2, BasicType.Int -> 99))
    w.instance(stringCls, Seq(BasicType.Object -> b3, BasicType.Int -> 7))

    // bad primitive arrays: all-zero int[4], empty long[], single float[1],
    // all-false boolean[2]; chars are fine
    w.primArray(BasicType.Int, Seq(0, 0, 0, 0))
    w.primArray(BasicType.Long, Seq.empty)
    w.primArray(BasicType.Float, Seq(1.5f))
    w.primArray(BasicType.Boolean, Seq(false, false))
    w.primArray(BasicType.Char, Seq('h'.toInt, 'i'.toInt))

    // boxed primitives
    (1 to 3).foreach(i => w.instance(integerCls, Seq(BasicType.Int -> i)))

    // object arrays: empty, all-null(3), single, sparse(10 with 8 null),
    // normal(3, one null), 2 identical dups, HashMap table (32 null),
    // ArrayList backing (24 slots, 2 used)
    w.objArray(objArrayCls, Seq.empty)
    w.objArray(objArrayCls, Seq(0L, 0L, 0L))
    w.objArray(objArrayCls, Seq(str1))
    w.objArray(objArrayCls, Seq(str1, str2) ++ Seq.fill(8)(0L))
    w.objArray(objArrayCls, Seq(str1, str2, 0L))
    w.objArray(objArrayCls, Seq(str1, str2))
    w.objArray(objArrayCls, Seq(str1, str2))
    val hmTable = w.objArray(objArrayCls, Seq.fill(32)(0L))
    val alBacking = w.objArray(objArrayCls, Seq(str1, str2) ++ Seq.fill(22)(0L))

    // collections: empty + single + sparse HashMap; empty + oversized ArrayList
    w.instance(hashMapCls, Seq(BasicType.Int -> 0, BasicType.Object -> 0L))
    w.instance(hashMapCls, Seq(BasicType.Int -> 1, BasicType.Object -> 0L))
    w.instance(hashMapCls, Seq(BasicType.Int -> 2, BasicType.Object -> hmTable))
    w.instance(arrayListCls, Seq(BasicType.Int -> 0, BasicType.Object -> 0L))
    w.instance(arrayListCls, Seq(BasicType.Int -> 2, BasicType.Object -> alBacking))

    // threads: 2 alive (RUNNABLE, PARKED), 1 terminated
    val t1 = w.instance(threadCls, Seq(BasicType.Int -> 0x0005))
    w.instance(threadCls, Seq(BasicType.Int -> 0x0002))
    w.instance(threadCls, Seq(BasicType.Int -> 0x0201))

    // direct byte buffers: untouched 1000, empty, used 500
    w.instance(dbbCls, Seq(BasicType.Int -> 1000, BasicType.Int -> 0, BasicType.Int -> 1000))
    w.instance(dbbCls, Seq(BasicType.Int -> 0, BasicType.Int -> 0, BasicType.Int -> 0))
    w.instance(dbbCls, Seq(BasicType.Int -> 500, BasicType.Int -> 10, BasicType.Int -> 500))

    w.gcRoot(Sub.RootThreadObject, t1, threadSerial = 1)
    w.gcRoot(Sub.RootStickyClass, stringCls)
    val f1 = w.stackFrame("run", "()V", "Worker.java", "java.lang.Thread", 42)
    w.stackTrace(1, 1, Seq(f1))

    val dir = java.nio.file.Files.createTempDirectory("heapan")
    val hprof = dir.resolve("waste.hprof").toString
    w.writeTo(hprof, segments = 2)
    val outDir = dir.resolve("parquet").toString
    val hd = new HeapDump(spark, hprof)
    hd.writeParquet(outDir)
    val resolvedDir = dir.resolve("parquet_resolved").toString
    hd.writeParquet(resolvedDir, resolveRefs = true)
    (new HeapAnalysis(new HeapTables(spark, outDir)),
      new HeapAnalysis(new HeapTables(spark, resolvedDir)),
      resolvedDir, outDir)
  }

  private lazy val analysis: HeapAnalysis = fixtures._1
  private lazy val resolvedAnalysis: HeapAnalysis = fixtures._2
  private lazy val resolvedDir: String = fixtures._3
  private lazy val roboDir: String = fixtures._4

  test("summary and top types") {
    val s = analysis.summary.get.collect()(0)
    // 8 prim arrays + 9 obj arrays + 17 instances + 8 classes = 42
    assert(s.getLong(0) === 42L)
    val top = analysis.topTypes(3).get.collect()
    assert(top.head.getString(0) === "java.lang.Object[]")
    assert(top.head.getLong(1) === 9L)
  }

  test("category breakdown buckets JDK vs Other") {
    val cats = analysis.categoryBreakdown.get.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(cats.contains("JDK"))
    assert(cats("JDK") > cats.getOrElse("Other", 0L))
  }

  test("byte array distribution and large arrays") {
    val dist = analysis.byteArrayDistribution.get.collect()
    assert(dist.map(_.getLong(1)).sum === 3L) // 3 byte arrays, all 0-99
    assert(analysis.largeByteArrays().get.count() === 0L)
  }

  test("stringValues decodes String contents via byte[] join") {
    val texts = analysis.stringValues.get.collect().map(_.getString(1)).sorted
    assert(texts.toSeq === Seq("hello", "hello", "world"))
    // the decode is a codegen expression, NOT a Scala UDF: this pass
    // visits every string in the heap, so boxing per row is a scale bug
    val plan = analysis.stringValues.get.queryExecution.executedPlan.toString
    assert(!plan.contains("ScalaUDF"), plan)
  }

  test("DecodeJavaString honors the compact-strings coder field") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val utf16 = "héllo→".getBytes(java.nio.charset.StandardCharsets.UTF_16LE)
    val latin1 = "héllo".getBytes(java.nio.charset.StandardCharsets.ISO_8859_1)
    val df = Seq((utf16.toSeq, 1), (latin1.toSeq, 0)).toDF("values", "coder")
    val out = df.select(graft.functions.DecodeJavaString(col("values"),
      col("coder")).as("text")).collect().map(_.getString(0))
    assert(out.toSeq === Seq("héllo→", "héllo"))
  }

  test("B6 duplicate strings: 2 copies of hello -> 45B") {
    val f = analysis.checkDuplicateStrings().get
    assert(f.affectedCount === 2L)
    assert(f.estimatedWasteBytes === 5L + 40L)
    assert(f.severity === "INFO")
  }

  test("B6 auto-engages the 20% sampling cap past the string-count threshold") {
    // Lower the threshold below the fixture's string count so the cap
    // triggers: an unparameterized call must now behave exactly like an
    // explicit 20% sample (same seed) WITH the estimates scaled by 5x.
    val key = "spark.graft.heap.dupStringsSampleThreshold"
    spark.conf.set(key, "1")
    try {
      val capped = analysis.checkDuplicateStrings()
      spark.conf.unset(key)
      val explicit = analysis.checkDuplicateStrings(20.0)
      assert(capped.map(f => (f.affectedCount, f.estimatedWasteBytes)) ===
        explicit.map(f => (f.affectedCount, f.estimatedWasteBytes)),
        "auto-capped run must equal an explicit 20% sampled run, scaled")
      // The cap must actually drop rows vs the full scan (the fixture's
      // 2-copy duplicate has ~0 chance of fully surviving a 20% sample
      // AND scaling back to exactly the unsampled numbers).
      val full = analysis.checkDuplicateStrings().get
      assert(full.affectedCount === 2L, "threshold unset -> full scan again")
    } finally spark.conf.unset(key)
  }

  test("B7 bad collections: 2 empty + 1 single, 376B") {
    val f = analysis.checkBadCollections().get
    assert(f.affectedCount === 3L)
    assert(f.estimatedWasteBytes === 280L + 96L)
  }

  test("B8 bad object arrays: zero/all-null/single/sparse") {
    val f = analysis.checkBadObjectArrays().get
    // zero(1,16) + all_null(2 arrays,35 slots,172) + single(1,12) + sparse(2,34 slots,92)
    assert(f.affectedCount === 6L)
    assert(f.estimatedWasteBytes === 16L + 172L + 12L + 92L)
  }

  test("B9 bad primitive arrays: all-zero/empty/single") {
    val f = analysis.checkBadPrimitiveArrays().get
    // boolean all_zero(2+16) + int all_zero(16+16) + long zero_len(16) + float single(12)
    assert(f.affectedCount === 4L)
    assert(f.estimatedWasteBytes === 18L + 32L + 16L + 12L)
  }

  test("B10 boxed primitives: 3 Integers, 48B") {
    val f = analysis.checkBoxedNumbers().get
    assert(f.affectedCount === 3L)
    assert(f.estimatedWasteBytes === 48L)
  }

  test("B11 collection sizing: sparse HashMap + oversized ArrayList") {
    val f = analysis.checkCollectionSizing().get
    assert(f.affectedCount === 2L)
    assert(f.estimatedWasteBytes === 32L * 4 + 22L * 4)
    assert(f.subFindings.size === 2)
  }

  test("B12 duplicate byte arrays: 2x hello, 21B") {
    val f = analysis.checkDuplicateByteArrays().get
    assert(f.affectedCount === 2L)
    assert(f.estimatedWasteBytes === 5L + 16L)
  }

  test("B13 class count: below threshold -> None") {
    assert(analysis.checkClassCount() === None)
  }

  test("B14 gc roots breakdown") {
    val f = analysis.checkGcRoots().get
    assert(f.affectedCount === 2L)
    assert(f.severity === "INFO")
    assert(f.subFindings.exists(_.contains("ThreadObj")))
  }

  test("B15 direct byte buffers: 1.5KB cap, 1 empty, untouched 1000") {
    val f = analysis.checkDirectByteBuffers().get
    assert(f.affectedCount === 3L)
    assert(f.estimatedWasteBytes === 64L + 1000L)
    assert(f.details.contains("1.5 KB"))
  }

  test("B16 thread stacks: 2 alive of 3") {
    val f = analysis.checkThreadStacks().get
    assert(f.affectedCount === 2L)
    assert(f.severity === "INFO")
    assert(f.subFindings.exists(_.contains("alive: 2")))
    assert(f.subFindings.exists(_.contains("java.lang.Thread")))
  }

  test("B17 duplicate object arrays: one dup pair") {
    val f = analysis.checkDuplicateObjectArrays().get
    assert(f.affectedCount === 2L)
    assert(f.estimatedWasteBytes === 8L + 16L)
  }

  test("B18 estimated shallow size") {
    val f = analysis.checkEstimatedShallowSize().get
    assert(f.severity === "INFO")
    assert(f.affectedCount === 42L)
  }

  test("B19 full report assembles and sorts by severity") {
    val findings = analysis.runWasteAnalysis(maxTier = 3)
    assert(findings.size >= 10)
    assert(findings.map(_.severityRank) === findings.map(_.severityRank).sorted)
    val report = analysis.renderReport(findings)
    assert(report.contains("Duplicate Strings"))
    assert(report.contains("Bad Collections"))
  }

  test("B22 retained size: diamond collapses to the common root, contested node stays put") {
    // Node(left, right, payload): 16 header + 4 + 4 + 4 = 28 bytes.
    // String(value, hash): 16 + 4 + 4 = 24. byte[5]: 16 + 5 = 21.
    // Diamond: A -> {B, C} -> D -> E. D has TWO referrers (B, C) but
    // both collapse to A, so the adoption pass hands D (and through
    // the second chase, E) to A: retained(A) = 5 * 28 = 140 — the
    // dominator answer first-order unique-ownership misses.
    // Contested: X -> Z, Y -> Z with X, Y distinct roots: Z stays its
    // own root ("kept alive by multiple"). str uniquely owns its
    // byte[]: retained(str) = 24 + 21 = 45.
    val w = new HprofWriter()
    val obj = w.defineClass("java.lang.Object")
    val node = w.defineClass("com.example.Node", obj,
      instanceFields = Seq("left" -> BasicType.Object,
        "right" -> BasicType.Object, "payload" -> BasicType.Int))
    val strCls = w.defineClass("java.lang.String", obj,
      instanceFields = Seq("value" -> BasicType.Object, "hash" -> BasicType.Int))
    def mkNode(l: Long, r: Long, p: Int) =
      w.instance(node, Seq(BasicType.Object -> l, BasicType.Object -> r, BasicType.Int -> p))
    val nE = mkNode(0L, 0L, 5)
    val nD = mkNode(nE, 0L, 4)
    val nB = mkNode(nD, 0L, 2)
    val nC = mkNode(nD, 0L, 3)
    mkNode(nB, nC, 1) // A
    val nZ = mkNode(0L, 0L, 26)
    mkNode(nZ, 0L, 24) // X
    mkNode(nZ, 0L, 25) // Y
    val b = w.byteArray("hello")
    w.instance(strCls, Seq(BasicType.Object -> b, BasicType.Int -> 7))
    val dir = java.nio.file.Files.createTempDirectory("heapan_retained")
    val hprof = dir.resolve("diamond.hprof").toString
    w.writeTo(hprof, segments = 1)
    val out = dir.resolve("parquet").toString
    new HeapDump(spark, hprof).writeParquet(out)
    val an = new HeapAnalysis(new HeapTables(spark, out))
    val got = an.retainedSize().get.collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))))
      .toMap
    // Node roots: A(owns 5, 140B), X(1, 28B), Y(1, 28B), Z(1, 28B)
    assert(got("com.example.Node") === ((4L, 8L, 224L, 140L)))
    assert(got("java.lang.String") === ((1L, 2L, 45L, 45L)))
    // class objects (in _object_index, B21 convention) self-root at a
    // bare 16B header each
    Seq("class java.lang.Object", "class com.example.Node",
        "class java.lang.String").foreach { c =>
      assert(got(c) === ((1L, 1L, 16L, 16L)), c)
    }
    assert(got.size === 5)

    // B27: the per-object view of the same frame — the diamond head A
    // is the single biggest object (140B), the String second (45B),
    // and the limit + (retained desc, obj_id) tie-break hold: the
    // three 28B Node roots (X, Y, Z) order by id.
    val top = an.retainedTopObjects(limit = 4).get.collect()
      .map(r => (r.getString(1), r.getLong(2), r.getLong(3)))
    assert(top.length === 4)
    assert(top(0) === (("com.example.Node", 5L, 140L)), "A first")
    assert(top(1) === (("java.lang.String", 2L, 45L)))
    assert(top(2) === (("com.example.Node", 1L, 28L)))
    assert(top(3) === (("com.example.Node", 1L, 28L)))
    val ids = an.retainedTopObjects(limit = 4).get.collect().map(_.getLong(0))
    assert(ids.drop(2).sorted.toSeq === ids.drop(2).toSeq, "ties order by obj_id")
  }

  test("B29 retained delta: growth, births and deaths in retained bytes, hand-worked") {
    // before: String(24) -> byte[3](19): retained(String) = 43; one
    // boxed Integer(20) that will die. after: TWO such Strings (86)
    // and no Integer. Deltas: String +43, Integer -20, class objects 0.
    def build(nStrings: Int, withInt: Boolean): String = {
      val w = new HprofWriter()
      val obj = w.defineClass("java.lang.Object")
      val strCls = w.defineClass("java.lang.String", obj,
        instanceFields = Seq("value" -> BasicType.Object, "hash" -> BasicType.Int))
      val intCls = w.defineClass("java.lang.Integer", obj,
        instanceFields = Seq("value" -> BasicType.Int))
      (1 to nStrings).foreach { i =>
        val b = w.byteArray("abc")
        w.instance(strCls, Seq(BasicType.Object -> b, BasicType.Int -> i))
      }
      if (withInt) w.instance(intCls, Seq(BasicType.Int -> 9))
      val dir = java.nio.file.Files.createTempDirectory("heapan_rdiff")
      val hp = dir.resolve("d.hprof").toString
      w.writeTo(hp, segments = 1)
      val out = dir.resolve("pq").toString
      new HeapDump(spark, hp).writeParquet(out)
      out
    }
    val before = build(1, withInt = true)
    val after = build(2, withInt = false)
    val got = HeapDiff.retainedDelta(
        new HeapTables(spark, before), new HeapTables(spark, after))
      .get.collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))).toMap
    assert(got("java.lang.String") === ((1L, 2L, 43L, 86L, 43L)))
    assert(got("java.lang.Integer") === ((1L, 0L, 20L, 0L, -20L)), "death surfaces")
    assert(got("class java.lang.Object") === ((1L, 1L, 16L, 16L, 0L)))
    // Integer class object exists in BOTH dumps (defined, no instances after)
    assert(got("class java.lang.Integer") === ((1L, 1L, 16L, 16L, 0L)))
  }

  test("B28 reference census counts cleared/live; referent edges stay out of the liveness graph") {
    // weak -> s1 must NOT make s1 reachable or owned: with the weak
    // ref as the ONLY referrer of s1, s1 self-roots and stays at
    // dist -1 even though the WeakReference object itself is rooted.
    // Entry extends WeakReference OUTSIDE java.lang.ref (the
    // WeakHashMap$Entry shape) — the hierarchy walk must catch it.
    val w = new HprofWriter()
    val obj = w.defineClass("java.lang.Object")
    val refCls = w.defineClass("java.lang.ref.Reference", obj,
      instanceFields = Seq("referent" -> BasicType.Object))
    val weakCls = w.defineClass("java.lang.ref.WeakReference", refCls)
    val entryCls = w.defineClass("java.util.WeakHashMap$Entry", weakCls,
      instanceFields = Seq("hash" -> BasicType.Int))
    val strCls = w.defineClass("java.lang.String", obj,
      instanceFields = Seq("value" -> BasicType.Object, "hash" -> BasicType.Int))
    val b1 = w.byteArray("abc")
    val s1 = w.instance(strCls, Seq(BasicType.Object -> b1, BasicType.Int -> 1))
    val wr1 = w.instance(weakCls, Seq(BasicType.Object -> s1))
    w.instance(weakCls, Seq(BasicType.Object -> 0L)) // cleared
    // Entry layout: own (hash) then inherited referent
    w.instance(entryCls, Seq(BasicType.Int -> 7, BasicType.Object -> s1))
    w.gcRoot(Sub.RootJniGlobal, wr1)
    val dir = java.nio.file.Files.createTempDirectory("heapan_refs")
    val hprof = dir.resolve("refs.hprof").toString
    w.writeTo(hprof, segments = 1)
    val out = dir.resolve("parquet").toString
    new HeapDump(spark, hprof).writeParquet(out)
    val an = new HeapAnalysis(new HeapTables(spark, out))
    val census = an.referenceCensus.get.collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(census === Map(
      "java.lang.ref.WeakReference" -> ((2L, 1L, 1L)),
      "java.util.WeakHashMap$Entry" -> ((1L, 0L, 1L))))
    // liveness: s1's only referrers are weak -> excluded -> s1 owns
    // only its byte[] and is unreachable from the root that pins wr1
    val edges = an.refEdges.get.collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(!edges.contains((wr1, s1)), "weak referent edge excluded")
    assert(edges.contains((s1, b1)), "strong String.value edge kept")
    val reach = an.rootReachability().get.collect()
      .map(r => r.getString(0) -> ((r.getLong(2), r.getLong(3)))).toMap
    assert(reach("java.lang.String") === ((0L, -1L)), "weakly-held only: unreached")
    assert(reach("java.lang.ref.WeakReference")._1 === 1L, "the rooted ref object itself reaches")
  }

  test("B23 root reachability: hand-worked depths, min over two roots, unreached stays -1") {
    // chain: R0 -> n1 -> n2 -> n3 (depths 0..3); a SECOND root points
    // straight at n2, so n2's min dist is 0 and n3 relaxes to 1 —
    // first-reach BFS must take the minimum, not the first chain it
    // happens to expand. Orphan node o1 -> o2 has no root: both -1.
    val w = new HprofWriter()
    val obj = w.defineClass("java.lang.Object")
    val node = w.defineClass("com.example.Node", obj,
      instanceFields = Seq("left" -> BasicType.Object,
        "right" -> BasicType.Object, "payload" -> BasicType.Int))
    def mk(l: Long, p: Int) =
      w.instance(node, Seq(BasicType.Object -> l, BasicType.Object -> 0L, BasicType.Int -> p))
    val n3 = mk(0L, 3)
    val n2 = mk(n3, 2)
    val n1 = mk(n2, 1)
    val r0 = mk(n1, 0)
    val o2 = mk(0L, 12)
    mk(o2, 11) // o1, unrooted
    val strCls = w.defineClass("java.lang.String", obj,
      instanceFields = Seq("value" -> BasicType.Object, "hash" -> BasicType.Int))
    val b = w.byteArray("deep")
    val s1 = w.instance(strCls, Seq(BasicType.Object -> b, BasicType.Int -> 9))
    w.gcRoot(Sub.RootThreadObject, r0, threadSerial = 1)
    w.gcRoot(Sub.RootJniGlobal, n2)
    w.gcRoot(Sub.RootMonitorUsed, s1)
    val dir = java.nio.file.Files.createTempDirectory("heapan_rootpath")
    val hprof = dir.resolve("rootpath.hprof").toString
    w.writeTo(hprof, segments = 1)
    val out = dir.resolve("parquet").toString
    new HeapDump(spark, hprof).writeParquet(out)
    val an = new HeapAnalysis(new HeapTables(spark, out))
    val got = an.rootReachability().get.collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))))
      .toMap
    // Nodes: r0(0) n1(1) n2(0, via the direct root) n3(1, relaxed
    // through n2's root) reached; o1, o2 unreached -> 4 of 6, max 1
    assert(got("com.example.Node") === ((6L, 4L, 0L, 1L)))
    assert(got("java.lang.String") === ((1L, 1L, 0L, 0L)))
    assert(got("byte[]") === ((1L, 1L, 1L, 1L)))
    // class objects carry no outgoing edges and no roots: -1
    assert(got("class com.example.Node") === ((1L, 0L, -1L, -1L)))
  }

  test("B24 path exemplars: deepest walks the diamond through the min-id parent") {
    // diamond: r -> {a, b} -> c -> d. Depths r=0, a=b=1, c=2, d=3.
    // c has TWO dist-1 parents; the deterministic path must pick
    // MIN(a, b). Nearest Node exemplar is r itself (dist 0, path [r]);
    // deepest is d with the full 4-node chain.
    val w = new HprofWriter()
    val obj = w.defineClass("java.lang.Object")
    val node = w.defineClass("com.example.Node", obj,
      instanceFields = Seq("left" -> BasicType.Object,
        "right" -> BasicType.Object, "payload" -> BasicType.Int))
    def mk(l: Long, r: Long, p: Int) =
      w.instance(node, Seq(BasicType.Object -> l, BasicType.Object -> r, BasicType.Int -> p))
    val d = mk(0L, 0L, 3)
    val c = mk(d, 0L, 2)
    val a = mk(c, 0L, 1)
    val b = mk(c, 0L, 1)
    val r = mk(a, b, 0)
    w.gcRoot(Sub.RootThreadObject, r, threadSerial = 1)
    val dir = java.nio.file.Files.createTempDirectory("heapan_pathex")
    val hprof = dir.resolve("pathex.hprof").toString
    w.writeTo(hprof, segments = 1)
    val out = dir.resolve("parquet").toString
    new HeapDump(spark, hprof).writeParquet(out)
    val an = new HeapAnalysis(new HeapTables(spark, out))
    val got = an.rootPathExemplars().get.collect()
      .map(x => (x.getString(0), x.getString(1), x.getLong(5), x.getLong(4)))
    val nodePaths = got.filter(_._1 == "com.example.Node")
    val nearest = nodePaths.filter(_._2 == "nearest").sortBy(_._4).map(_._3)
    assert(nearest.toSeq === Seq(r))
    val deepest = nodePaths.filter(_._2 == "deepest").sortBy(_._4).map(_._3)
    assert(deepest.toSeq === Seq(r, math.min(a, b), c, d))
  }

  /** Exports the hprof `w` writes and opens an analysis of it. */
  private def analyze(w: HprofWriter, name: String): HeapAnalysis = {
    val dir = java.nio.file.Files.createTempDirectory(s"heapan_$name")
    val hprof = dir.resolve(s"$name.hprof").toString
    w.writeTo(hprof, segments = 1)
    val out = dir.resolve("parquet").toString
    new HeapDump(spark, hprof).writeParquet(out)
    new HeapAnalysis(new HeapTables(spark, out))
  }

  test("B21 ownership collapse: hand-worked chains, a double slot and a shared target") {
    // chain A -> B -> C -> D: each has ONE incoming reference, so all
    // collapse to A. Dbl holds E in BOTH slots: B21 counts references,
    // not referrers, so E has in-degree 2 and stays its own root. Z is
    // shared by X and Y: its own root. The String owns its byte[].
    val w = new HprofWriter()
    val obj = w.defineClass("java.lang.Object")
    val node = w.defineClass("com.example.Node", obj,
      instanceFields = Seq("left" -> BasicType.Object,
        "right" -> BasicType.Object, "payload" -> BasicType.Int))
    val strCls = w.defineClass("java.lang.String", obj,
      instanceFields = Seq("value" -> BasicType.Object, "hash" -> BasicType.Int))
    def mk(l: Long, r: Long, p: Int) =
      w.instance(node, Seq(BasicType.Object -> l, BasicType.Object -> r, BasicType.Int -> p))
    val d = mk(0L, 0L, 4)
    val c = mk(d, 0L, 3)
    val b = mk(c, 0L, 2)
    mk(b, 0L, 1) // A
    val e = mk(0L, 0L, 6)
    mk(e, e, 5) // Dbl
    val z = mk(0L, 0L, 9)
    mk(z, 0L, 7) // X
    mk(z, 0L, 8) // Y
    w.instance(strCls, Seq(BasicType.Object -> w.byteArray("abc"), BasicType.Int -> 1))
    val an = analyze(w, "ownership")
    def collapse(rounds: Int) = an.ownershipCollapse(rounds).get.collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    val got = collapse(8)
    // Node roots A {A,B,C,D}, Dbl, E, X, Y, Z: 6 roots owning all 9
    assert(got("com.example.Node") === ((6L, 9L, 4L)))
    assert(got("java.lang.String") === ((1L, 2L, 2L)))
    // class objects have no referrers: each its own root
    Seq("class java.lang.Object", "class com.example.Node", "class java.lang.String")
      .foreach(cls => assert(got(cls) === ((1L, 1L, 1L)), cls))
    assert(got.size === 5, "byte[] is owned, never a root")
    // two chase steps stop D at B: A {A,B,C} and B {D} are both roots
    assert(collapse(2)("com.example.Node") === ((7L, 9L, 3L)))
  }

  test("B31 root-kind reachability: an object reachable from two kinds counts under both") {
    // ThreadObj R1 -> M -> S -> L; JniGlobal R2 -> S and R3 -> S;
    // BusyMonitor pins a String and its byte[]. S and L are reachable
    // from both kinds and count under each, once per kind although two
    // JniGlobal roots reach them; U is reachable from none.
    // Node = 16 + 4 + 4 + 4 = 28 bytes, String 24, byte[3] 19.
    val w = new HprofWriter()
    val obj = w.defineClass("java.lang.Object")
    val node = w.defineClass("com.example.Node", obj,
      instanceFields = Seq("left" -> BasicType.Object,
        "right" -> BasicType.Object, "payload" -> BasicType.Int))
    val strCls = w.defineClass("java.lang.String", obj,
      instanceFields = Seq("value" -> BasicType.Object, "hash" -> BasicType.Int))
    def mk(l: Long, p: Int) =
      w.instance(node, Seq(BasicType.Object -> l, BasicType.Object -> 0L, BasicType.Int -> p))
    val l = mk(0L, 4)
    val s = mk(l, 3)
    val m = mk(s, 2)
    val r1 = mk(m, 1)
    val r2 = mk(s, 5)
    val r3 = mk(s, 6)
    mk(0L, 7) // U
    val str = w.instance(strCls, Seq(BasicType.Object -> w.byteArray("abc"), BasicType.Int -> 1))
    w.gcRoot(Sub.RootThreadObject, r1, threadSerial = 1)
    w.gcRoot(Sub.RootJniGlobal, r2)
    w.gcRoot(Sub.RootJniGlobal, r3)
    w.gcRoot(Sub.RootMonitorUsed, str)
    val an = analyze(w, "rootkinds")
    def reach(hops: Int) = an.rootKindReachability(hops).get.collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    // ThreadObj {R1, M, S, L}; JniGlobal {R2, R3, S, L}
    assert(reach(8) === Map("ThreadObj" -> ((4L, 112L)), "JniGlobal" -> ((4L, 112L)),
      "BusyMonitor" -> ((2L, 43L))))
    // two hops: L (3 hops from R1) drops from ThreadObj only
    assert(reach(2) === Map("ThreadObj" -> ((3L, 84L)), "JniGlobal" -> ((4L, 112L)),
      "BusyMonitor" -> ((2L, 43L))))
  }

  test("B25 heap diff: hand-worked growth, birth, and death deltas") {
    def export(nStrings: Int, withNew: Boolean): String = {
      val w = new HprofWriter()
      val obj = w.defineClass("java.lang.Object")
      val str = w.defineClass("java.lang.String", obj,
        instanceFields = Seq("value" -> BasicType.Object, "hash" -> BasicType.Int))
      val bs = (0 until nStrings).map(i => w.byteArray("xy"))
      bs.foreach(b => w.instance(str, Seq(BasicType.Object -> b, BasicType.Int -> 1)))
      if (withNew) {
        val nt = w.defineClass("com.example.NewType", obj,
          instanceFields = Seq("hits" -> BasicType.Long))
        w.instance(nt, Seq(BasicType.Long -> 9L))
      }
      val dir = java.nio.file.Files.createTempDirectory("heapan_diff")
      val hprof = dir.resolve("d.hprof").toString
      w.writeTo(hprof, segments = 1)
      val out = dir.resolve("parquet").toString
      new HeapDump(spark, hprof).writeParquet(out)
      out
    }
    val a = export(2, withNew = false)
    val b = export(3, withNew = true)
    val got = HeapDiff.typeDelta(new HeapTables(spark, a), new HeapTables(spark, b))
      .get.collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6)))).toMap
    // String = 16 header + 4 ref + 4 int = 24B; byte[] "xy" = 16 + 2 = 18B;
    // NewType = 16 + 8 = 24B (birth: zero on the before side)
    assert(got("java.lang.String") === ((2L, 3L, 1L, 48L, 72L, 24L)))
    assert(got("byte[]") === ((2L, 3L, 1L, 36L, 54L, 18L)))
    assert(got("com.example.NewType") === ((0L, 1L, 1L, 0L, 24L, 24L)))
    assert(got("class com.example.NewType") === ((0L, 1L, 1L, 0L, 16L, 16L)))
    // death direction: diff the other way round
    val rev = HeapDiff.typeDelta(new HeapTables(spark, b), new HeapTables(spark, a))
      .get.collect().map(r => r.getString(0) -> r.getLong(3)).toMap
    assert(rev("com.example.NewType") === -1L)
    assert(rev("java.lang.String") === -1L)
  }

  test("static ref fields are graph edges: cache-only liveness is visible to B20/B23") {
    // the classic leak shape: an instance held ONLY by a static cache.
    // Without the class→static→instance edge it reads unreferenced
    // (B20) and unreachable (B23); with it, the sticky-rooted class
    // carries liveness: class(0) -> cached String(1) -> byte[](2).
    val w = new HprofWriter()
    val obj = w.defineClass("java.lang.Object")
    val strCls = w.defineClass("java.lang.String", obj,
      instanceFields = Seq("value" -> BasicType.Object, "hash" -> BasicType.Int))
    val b = w.byteArray("cached")
    val s1 = w.instance(strCls, Seq(BasicType.Object -> b, BasicType.Int -> 3))
    val holder = w.defineClass("com.example.Holder", obj, staticFields = Seq(
      ("CACHE", BasicType.Object, s1),
      ("NULL_REF", BasicType.Object, 0L),
      ("N", BasicType.Int, 9)))
    w.gcRoot(Sub.RootStickyClass, holder)
    val dir = java.nio.file.Files.createTempDirectory("heapan_static_edge")
    val hprof = dir.resolve("staticedge.hprof").toString
    w.writeTo(hprof, segments = 1)
    val out = dir.resolve("parquet").toString
    new HeapDump(spark, hprof).writeParquet(out)
    val an = new HeapAnalysis(new HeapTables(spark, out))
    // B20: the static edge is the String's ONLY referrer; null static
    // refs and primitive statics contribute nothing
    val edges = an.refEdges.get.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getString(3)))
    assert(edges.toSet === Set(
      (holder, s1, "class com.example.Holder", "CACHE"),
      (s1, b, "java.lang.String", "value")))
    // B23: liveness flows class(0) -> String(1) -> byte[](2)
    val reach = an.rootReachability().get.collect()
      .map(r => r.getString(0) -> ((r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    assert(reach("java.lang.String") === ((1L, 1L, 1L)))
    assert(reach("byte[]") === ((1L, 2L, 2L)))
    assert(reach("class com.example.Holder") === ((1L, 0L, 0L)))
  }

  test("B20/B21 on an edge-less dump: empty edge set, not an exception") {
    // no object-typed instance fields, no object arrays: zero edge
    // frames to union — refEdges and its consumers must yield None
    val w = new HprofWriter()
    val obj = w.defineClass("java.lang.Object")
    val counterCls = w.defineClass("com.example.Counter", obj,
      instanceFields = Seq("n" -> BasicType.Int))
    w.instance(counterCls, Seq(BasicType.Int -> 1))
    w.primArray(BasicType.Int, Seq(1, 2, 3))
    val dir = java.nio.file.Files.createTempDirectory("heapan_noedge")
    val hprof = dir.resolve("noedge.hprof").toString
    w.writeTo(hprof, segments = 1)
    val out = dir.resolve("parquet").toString
    new HeapDump(spark, hprof).writeParquet(out)
    // full export: _object_arrays exists but is empty -> empty edge frame
    val an = new HeapAnalysis(new HeapTables(spark, out))
    assert(an.refEdges.map(_.count()) === Some(0L))
    assert(an.referrerStats.map(_.count()) === Some(0L))
    // a partial/foreign export MISSING _object_arrays AND
    // _static_fields entirely: zero edge frames to union — must yield
    // None, not throw (r9 ADVICE)
    Seq("_object_arrays", "_static_fields").foreach { tname =>
      val d = java.nio.file.Paths.get(out, tname)
      if (java.nio.file.Files.exists(d))
        java.nio.file.Files.walk(d).sorted(java.util.Comparator.reverseOrder())
          .forEach(f => java.nio.file.Files.delete(f))
    }
    val an2 = new HeapAnalysis(new HeapTables(spark, out))
    assert(an2.refEdges.isEmpty)
    assert(an2.referrerStats.isEmpty)
    assert(an2.ownershipCollapse().isEmpty)
  }

  test("B33 exact dominators equal brute-force removal-reachability on diamonds, double entries, shared roots") {
    // adversarial graph for the CHK iteration: a diamond (root -> a,b
    // -> d -> tail), a chain entered at TWO points (head and middle —
    // the middle entry strips dominance from the upper chain), a node
    // shared by TWO roots (dominated by neither), and unreachable
    // islands that must not appear at all
    val w = new HprofWriter()
    val objectCls = w.defineClass("java.lang.Object")
    val nodeCls = w.defineClass("com.x.N", objectCls,
      instanceFields = Seq("l" -> BasicType.Object, "r" -> BasicType.Object))
    def n(l: Long = 0L, r: Long = 0L): Long =
      w.instance(nodeCls, Seq(BasicType.Object -> l, BasicType.Object -> r))
    val tail = n()
    val d = n(tail)
    val a = n(d); val b = n(d)
    val root1 = n(a, b) // diamond: root1 dominates a, b, d, tail
    val c1h = n(); val c2 = n(c1h); val c3 = n(c2) // unreachable chain island
    val e1 = n(); val e2 = n(e1); val e3 = n(e2)
    val root2 = n(e3, e1) // enters the chain at e3 AND e1
    val shared = n()
    val root3 = n(shared); val root4 = n(shared) // shared: no dominator but the super-root
    n(n()) // unreachable island
    w.gcRoot(Sub.RootJniGlobal, root1)
    w.gcRoot(Sub.RootJniGlobal, root2)
    w.gcRoot(Sub.RootJniGlobal, root3)
    w.gcRoot(Sub.RootJniGlobal, root4)
    val dir = java.nio.file.Files.createTempDirectory("heapan_dom")
    val hprof = dir.resolve("dom.hprof").toString
    w.writeTo(hprof, segments = 2)
    val out = dir.resolve("parquet").toString
    new HeapDump(spark, hprof).writeParquet(out)
    val an = new HeapAnalysis(new HeapTables(spark, out))
    val got = an.exactDominatorTop(limit = 1000).get.collect()
      .map(r => r.getLong(0) -> ((r.getLong(2), r.getLong(3)))).toMap

    // brute force: reachability with each candidate removed
    val edges = an.refEdges.get.select("src", "dst").distinct().collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val roots = Set(root1, root2, root3, root4)
    def reach(removed: Long): Set[Long] = {
      val adj = edges.filterNot(e => e._1 == removed || e._2 == removed)
        .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
      var seen = roots - removed
      var frontier = seen
      while (frontier.nonEmpty) {
        val next = frontier.flatMap(adj.getOrElse(_, Set.empty)) -- seen
        seen ++= next; frontier = next
      }
      seen
    }
    val all = reach(-1L)
    val sizes = an.perObjectShallowSizes.get.collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val expected = all.map { v =>
      val dominated = (all - v).filterNot(reach(v))
      v -> ((dominated.size.toLong, sizes(v) + dominated.toSeq.map(sizes).sum))
    }.toMap
    assert(got === expected)
    // spot semantics: the diamond root retains its whole subtree; the
    // doubly-shared node is dominated by nobody (absent from every
    // other node's dominated count); the island never appears
    assert(got(root1)._1 === 4L)
    assert(got(shared)._1 === 0L)
    assert(got(d)._1 === 1L) // d dominates tail despite two referrers
    assert(got(e3)._1 === 1L) // e3 dominates only e2: the e1 entry
    assert(got(e2)._1 === 0L) // strips the rest of the chain's dominance
    assert(got(e1)._1 === 0L)
    Seq(c1h, c2, c3).foreach(v => assert(!got.contains(v))) // islands absent
  }

  test("resolved-mode export: ref columns are STRUCT{id,type} and the full waste suite matches robo") {
    // the export really is the reference's non-robo layout
    val strTable = new HeapTables(spark, resolvedDir).byClass("java.lang.String").get
    val valueType = strTable.schema.fields.find(_.name == "value").get.dataType
    assert(valueType.isInstanceOf[org.apache.spark.sql.types.StructType], valueType)
    // ref_field dispatch: every check re-derives the SAME numbers from
    // struct refs that it derives from bare longs
    val robo = analysis.runWasteAnalysis(maxTier = 3)
    val resolved = resolvedAnalysis.runWasteAnalysis(maxTier = 3)
    assert(resolved === robo)
  }

  /** Exports the dump `w` describes to a fresh directory. */
  private def exportOf(w: HprofWriter, tag: String): String = {
    val dir = java.nio.file.Files.createTempDirectory(tag)
    val hp = dir.resolve("h.hprof").toString
    w.writeTo(hp)
    val out = dir.resolve("parquet").toString
    new HeapDump(spark, hp).writeParquet(out)
    out
  }

  test("loader copies with different field layouts: every copy counts") {
    val w = new HprofWriter()
    val obj = w.defineClass("java.lang.Object")
    val loader = w.instance(w.defineClass("java.net.URLClassLoader", obj), Nil)
    // the second loader's ArrayList has no elementData, its Integer no value
    val alBoot = w.defineClass("java.util.ArrayList", obj,
      instanceFields = Seq("size" -> BasicType.Int, "elementData" -> BasicType.Object))
    val alApp = w.defineClass("java.util.ArrayList", obj,
      instanceFields = Seq("size" -> BasicType.Int), loaderId = loader)
    val intBoot = w.defineClass("java.lang.Integer", obj,
      instanceFields = Seq("value" -> BasicType.Int))
    val intApp = w.defineClass("java.lang.Integer", obj, loaderId = loader)
    w.instance(alBoot, Seq(BasicType.Int -> 0, BasicType.Object -> 0L))
    w.instance(alApp, Seq(BasicType.Int -> 0))
    w.instance(alApp, Seq(BasicType.Int -> 1))
    w.instance(alApp, Seq(BasicType.Int -> 5))
    w.instance(intBoot, Seq(BasicType.Int -> 7))
    w.instance(intApp, Nil)
    w.instance(intApp, Nil)
    val t = new HeapTables(spark, exportOf(w, "heapan_loaders"))
    assert(t.classCopies("java.util.ArrayList").size === 2)
    assert(t.classCopies("java.lang.Integer").size === 2)
    val an = new HeapAnalysis(t)

    // 2 empty (one per copy) + 1 single: 2 x 96 + 92
    val bc = an.checkBadCollections().get
    assert(bc.affectedCount === 3L)
    assert(bc.estimatedWasteBytes === 2 * 96L + 92L)
    assert(an.boxedCounts.get.collect().map(r => (r.getString(0), r.getLong(1))).toSeq ===
      Seq("Integer" -> 3L))
    assert(an.checkBoxedNumbers().get.affectedCount === 3L)
  }

  test("a failed section cancels its analysis's job group") {
    val w = new HprofWriter()
    val obj = w.defineClass("java.lang.Object")
    val box = w.defineClass("java.lang.Integer", obj, instanceFields = Seq("value" -> BasicType.Int))
    (1 to 5).foreach(i => w.instance(box, Seq(BasicType.Int -> i)))
    w.gcRoot(Sub.RootStickyClass, box)
    val out = exportOf(w, "heapan_unreadable")
    // the gc-roots table is unreadable: its parquet files are garbage
    new java.io.File(out, "_gc_roots").listFiles().filter(_.getName.endsWith(".parquet"))
      .foreach(f => java.nio.file.Files.write(f.toPath, "not parquet".getBytes))

    val groups = new java.util.concurrent.ConcurrentHashMap[String, String]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        Option(js.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
          .filter(_.startsWith(HeapAnalysis.JobGroupPrefix))
          .foreach(g => groups.put(g, js.properties.getProperty("spark.job.interruptOnCancel")))
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      intercept[Exception](new HeapAnalysis(new HeapTables(spark, out)).analyzeJson(maxTier = 2, graph = false))
      org.apache.spark.ListenerDrain(sc)
    } finally sc.removeSparkListener(listener)

    import scala.jdk.CollectionConverters._
    assert(!groups.isEmpty, "the analysis ran no job under its job group")
    assert(groups.values.asScala.forall(_ == "true"), groups)
    def running: Seq[Int] = groups.keySet.asScala.toSeq.flatMap(sc.statusTracker.getJobIdsForGroup(_))
      .filter(id => sc.statusTracker.getJobInfo(id)
        .exists(_.status == org.apache.spark.JobExecutionStatus.RUNNING))
    val deadline = System.nanoTime() + 30L * 1000000000L
    while (running.nonEmpty && System.nanoTime() < deadline) Thread.sleep(50)
    assert(running.isEmpty, s"jobs still running after the failure: $running")
  }

  /** The ten driver-finished results as the Spark expressions that
    * computed them before the census, footer counts and driver sorts.
    * The category breakdown gains `category` as a tie-break: the old
    * expression sorted on the count alone and left ties in plan order.
    */
  private def sparkFrames(t: HeapTables): Seq[(String, Option[DataFrame])] = {
    import org.apache.spark.sql.functions._
    import HeapAnalysis._
    val oi = t.system("_object_index")
    val cat = when(col("type_name").like("%kafka%") || col("type_name").like("%Kafka%"), "Kafka")
      .when(col("type_name").like("%MBean%") || col("type_name").like("%javax.management%") ||
        col("type_name").like("%jmx%"), "JMX/MBeans")
      .when(col("type_name").like("%netty%") || col("type_name").like("%Netty%"), "Netty")
      .when(col("type_name").like("%rocksdb%") || col("type_name").like("%RocksDB%"), "RocksDB")
      .when(col("type_name").like("%grpc%") || col("type_name").like("%Grpc%"), "gRPC")
      .when(col("type_name").like("%guava%") || col("type_name").like("%google.common%"), "Guava")
      .when(col("type_name").like("java.%") || col("type_name").like("sun.%") ||
        col("type_name").like("jdk.%"), "JDK")
      .otherwise("Other")
    def top(limit: Int) = oi.map(_.groupBy("type_name").agg(count(lit(1)).as("obj_count"))
      .orderBy(col("obj_count").desc, col("type_name")).limit(limit))
    val byteBuckets = t.system("_primitive_arrays_byte").map { b =>
      val n = size(col("values"))
      val bucket = when(n < 100, "0-99").when(n < 1000, "100-999")
        .when(n < 10000, "1K-10K").when(n < 100000, "10K-100K").otherwise("100K+")
      b.groupBy(bucket.as("bucket"))
        .agg(count(lit(1)).as("count"), round(sum(n) / 1048576.0, 2).as("total_mb"))
        .coalesce(1).orderBy(col("total_mb").desc, col("bucket"))
    }
    val collections = Seq(
      ("ArrayList", "java.util.ArrayList", "size", ArrayListShell + ArrayHeader + 10 * RefSize,
        ArrayListShell + ArrayHeader + 10 * RefSize - RefSize),
      ("ConcurrentHashMap", "java.util.concurrent.ConcurrentHashMap", "baseCount",
        ChmShell + ArrayHeader + 16 * RefSize, ChmShell + ArrayHeader + 16 * RefSize + ChmNode - 2 * RefSize),
      ("HashMap", "java.util.HashMap", "size", HashMapShell + ArrayHeader + 16 * RefSize,
        HashMapShell + ArrayHeader + 16 * RefSize + HashMapEntry - 2 * RefSize),
      ("LinkedList", "java.util.LinkedList", "size", LinkedListShell,
        LinkedListShell + LinkedListNode - RefSize),
      ("TreeMap", "java.util.TreeMap", "size", 64L, 64L + TreeMapEntry - 2 * RefSize))
      .flatMap { case (name, cls, sizeCol, kEmpty, kSingle) =>
        t.byClass(cls).filter(_.columns.contains(sizeCol)).map { df =>
          df.select(lit(name).as("coll_type"), lit(kEmpty).as("k_empty"),
              lit(kSingle).as("k_single"), col(sizeCol).cast("long").as("n"))
            .filter(col("n") === 0 || col("n") === 1)
        }
      }
    val badCollections = collections.reduceOption(_ unionByName _).map(_
      .groupBy("coll_type", "k_empty", "k_single")
      .agg(count(when(col("n") === 0, 1)).as("empty_count"),
        count(when(col("n") === 1, 1)).as("single_count"))
      .select(col("coll_type"), col("empty_count"), col("single_count"),
        (col("empty_count") * col("k_empty") + col("single_count") * col("k_single")).as("waste_bytes"))
      .coalesce(1).orderBy("coll_type"))
    val objectArrays = t.system("_object_arrays").map { oa =>
      val n = size(col("elements"))
      val nulls = size(filter(col("elements"), e => e === 0))
      val pattern = when(n === 0, "zero_length").when(nulls === n, "all_null")
        .when(n === 1, "single_element")
        .when(n > 3 && nulls.cast("double") / n.cast("double") > 0.7, "sparse")
      oa.select(pattern.as("pattern"), n.as("n")).filter(col("pattern").isNotNull)
        .groupBy("pattern")
        .agg(count(lit(1)).as("n_arrays"), sum("n").cast("long").as("total_slots"))
        .coalesce(1).orderBy("pattern")
    }
    val prims = Seq(("boolean", 1), ("byte", 1), ("char", 2), ("short", 2),
      ("int", 4), ("long", 8), ("float", 4), ("double", 8)).flatMap { case (pt, elemSize) =>
      t.system(s"_primitive_arrays_$pt").map { df =>
        val n = size(col("values"))
        val allZero = if (pt == "boolean") !array_contains(col("values"), true)
          else array_min(col("values")) === 0 && array_max(col("values")) === 0
        val pattern = when(n === 0, "zero_length").when(n === 1, "single")
          .when(n > 1 && allZero, "all_zero")
        df.select(lit(pt).as("prim_type"), lit(elemSize.toLong).as("es"), pattern.as("pattern"),
            (n * elemSize).cast("long").as("bytes"))
          .filter(col("pattern").isNotNull)
      }
    }
    val primPatterns = prims.reduceOption(_ unionByName _).map(_
      .groupBy("prim_type", "es", "pattern")
      .agg(count(lit(1)).as("n_arrays"), sum("bytes").as("data_bytes"))
      .select(col("prim_type"), col("pattern"), col("n_arrays"), col("data_bytes"),
        when(col("pattern") === "zero_length", col("n_arrays") * ArrayHeader)
          .when(col("pattern") === "all_zero", col("data_bytes") + col("n_arrays") * ArrayHeader)
          .otherwise(col("n_arrays") * (lit(ArrayHeader) - col("es"))).as("waste_bytes"))
      .coalesce(1).orderBy("prim_type", "pattern"))
    val boxed = Seq("Boolean", "Byte", "Character", "Double", "Float", "Integer", "Long", "Short")
      .flatMap(w => t.byClass(s"java.lang.$w").map(_.select(lit(w).as("wrapper"))))
      .reduceOption(_ unionByName _).map(_
        .groupBy("wrapper").agg(count(lit(1)).as("n_objs"))
        .select(col("wrapper"), col("n_objs"), (col("n_objs") * ObjectHeader).as("waste_bytes"))
        .coalesce(1).orderBy("wrapper"))
    Seq(
      "summary" -> oi.map(_.agg(count(lit(1)).as("total_objects"),
        countDistinct(col("type_name")).as("unique_classes"))),
      "topTypes" -> top(30),
      "topTypes(3)" -> top(3),
      "categoryBreakdown" -> oi.map(_.groupBy(cat.as("category")).agg(count(lit(1)).as("obj_count"))
        .coalesce(1).orderBy(col("obj_count").desc, col("category"))),
      "classCountStats" -> oi.map(_.agg(countDistinct(col("type_name")).as("n_classes"))),
      "shallowSizeTop" -> oi.map(_.groupBy("type_name").agg(count(lit(1)).as("n_objs"))
        .orderBy(col("n_objs").desc, col("type_name")).limit(50)
        .withColumn("est_bytes", col("n_objs") * (ObjectHeader + 32))),
      "byteArrayDistribution" -> byteBuckets,
      "badCollectionStats" -> badCollections,
      "badObjectArrayPatterns" -> objectArrays,
      "badPrimitiveArrayPatterns" -> primPatterns,
      "boxedCounts" -> boxed)
  }

  private def driverFrames(an: HeapAnalysis): Seq[(String, Option[DataFrame])] = Seq(
    "summary" -> an.summary, "topTypes" -> an.topTypes(), "topTypes(3)" -> an.topTypes(3),
    "categoryBreakdown" -> an.categoryBreakdown, "classCountStats" -> an.classCountStats,
    "shallowSizeTop" -> an.shallowSizeTop(), "byteArrayDistribution" -> an.byteArrayDistribution,
    "badCollectionStats" -> an.badCollectionStats, "badObjectArrayPatterns" -> an.badObjectArrayPatterns,
    "badPrimitiveArrayPatterns" -> an.badPrimitiveArrayPatterns, "boxedCounts" -> an.boxedCounts)

  private def assertSparkParity(dir: String): Unit = {
    val t = new HeapTables(spark, dir)
    driverFrames(new HeapAnalysis(t)).zip(sparkFrames(t)).foreach { case ((name, got), (_, want)) =>
      assert(got.isDefined === want.isDefined, s"$name in $dir")
      for (g <- got; w <- want) {
        assert(g.schema === w.schema, s"$name in $dir")
        assert(g.collect().toSeq === w.collect().toSeq, s"$name in $dir")
      }
    }
  }

  test("driver-finished results equal their Spark expressions: schema, rows and order") {
    // two loaders' copies of ArrayList and Integer; two type names tied
    // on count whose UTF-8 order (Spark's) and UTF-16 order (Java's)
    // differ; a non-ASCII category match; byte arrays in two buckets
    // that both round to 0.0 MB
    val w = new HprofWriter()
    val obj = w.defineClass("java.lang.Object")
    val loader = w.instance(w.defineClass("java.net.URLClassLoader", obj), Nil)
    val alBoot = w.defineClass("java.util.ArrayList", obj,
      instanceFields = Seq("size" -> BasicType.Int, "elementData" -> BasicType.Object))
    val alApp = w.defineClass("java.util.ArrayList", obj,
      instanceFields = Seq("size" -> BasicType.Int), loaderId = loader)
    val intBoot = w.defineClass("java.lang.Integer", obj, instanceFields = Seq("value" -> BasicType.Int))
    val intApp = w.defineClass("java.lang.Integer", obj, loaderId = loader)
    val hm = w.defineClass("java.util.HashMap", obj,
      instanceFields = Seq("size" -> BasicType.Int, "table" -> BasicType.Object))
    val arr = w.defineClass("[Ljava.lang.Object;", obj)
    w.instance(alBoot, Seq(BasicType.Int -> 1, BasicType.Object -> 0L))
    w.instance(alApp, Seq(BasicType.Int -> 0))
    w.instance(alApp, Seq(BasicType.Int -> 5))
    w.instance(intBoot, Seq(BasicType.Int -> 7))
    w.instance(intApp, Nil)
    w.instance(hm, Seq(BasicType.Int -> 0, BasicType.Object -> 0L))
    // arrays, not instances: an instance class is a table directory,
    // and a non-ASCII file name needs a UTF-8 file-name encoding
    Seq("com.acme.x\uFF21", "com.acme.x\uD83D\uDE00", "org.kafka.Gr\u00F6\u00DFe").foreach { n =>
      val c = w.defineClass(s"[L$n;", obj)
      (1 to 3).foreach(_ => w.objArray(c, Seq(0L)))
    }
    w.byteArray("hi")
    w.primArray(BasicType.Byte, Seq.fill(500)(1.toByte))
    w.primArray(BasicType.Int, Seq.empty)
    w.primArray(BasicType.Long, Seq(0L))
    w.primArray(BasicType.Boolean, Seq(false, false, false))
    w.objArray(arr, Seq.empty)
    w.objArray(arr, Seq(0L, 0L))
    val dir = java.nio.file.Files.createTempDirectory("heapan_parity")
    val hp = dir.resolve("h.hprof").toString
    w.writeTo(hp)
    val dumps = Seq(false, true).map { resolve =>
      val out = dir.resolve(s"pq_$resolve").toString
      new HeapDump(spark, hp).writeParquet(out, resolveRefs = resolve)
      out
    }
    val tied = new HeapAnalysis(new HeapTables(spark, dumps.head)).topTypes().get.collect()
      .map(_.getString(0)).filter(_.startsWith("com.acme.x")).toSeq
    assert(tied === Seq("com.acme.x\uFF21[]", "com.acme.x\uD83D\uDE00[]"))
    assert(new HeapTables(spark, dumps.head).classCopies("java.lang.Integer").size === 2)

    // a dump without arrays: all eight primitive-array tables are empty
    val noArrays = new HprofWriter()
    val box = noArrays.defineClass("java.lang.Integer", noArrays.defineClass("java.lang.Object"),
      instanceFields = Seq("value" -> BasicType.Int))
    (1 to 3).foreach(i => noArrays.instance(box, Seq(BasicType.Int -> i)))
    val noArraysDir = exportOf(noArrays, "heapan_noarrays")
    assert(new HeapTables(spark, noArraysDir).rowCount("_primitive_arrays_int") === Some(0L))

    // an export whose _object_index has a schema and no rows
    val empty = dir.resolve("pq_empty").toString
    new HeapTables(spark, roboDir).system("_object_index").get.limit(0)
      .write.parquet(s"$empty/_object_index")

    (Seq(roboDir, resolvedDir) ++ dumps ++ Seq(noArraysDir, empty)).foreach(assertSparkParity)
  }
}
