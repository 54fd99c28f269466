package graft.heap

import graft.SparkTestSession
import HprofModel._
import org.scalatest.funsuite.AnyFunSuite

/** Volume test for the distributed ingestion path: ~120k objects
  * across 32 heap segments — every segment parses in its own task, so
  * this exercises the same parallel shape a multi-GB dump would
  * (SURVEY.md §5), just scaled to CI size.
  */
class HeapScaleSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  test("120k-object heap ingests correctly across 32 segments") {
    val w = new HprofWriter()
    val obj = w.defineClass("java.lang.Object")
    val str = w.defineClass("java.lang.String", obj,
      instanceFields = Seq("value" -> BasicType.Object, "hash" -> BasicType.Int))
    val box = w.defineClass("java.lang.Integer", obj,
      instanceFields = Seq("value" -> BasicType.Int))

    val nStrings = 40000
    val nBoxes = 20000
    val rnd = new scala.util.Random(42)
    val byteIds = (0 until nStrings).map { i =>
      w.byteArray(s"string-payload-${i % 1000}-${rnd.nextInt(50)}")
    }
    byteIds.zipWithIndex.foreach { case (b, i) =>
      w.instance(str, Seq(BasicType.Object -> b, BasicType.Int -> i))
    }
    (0 until nBoxes).foreach(i => w.instance(box, Seq(BasicType.Int -> i % 128)))
    (0 until 1000).foreach(i => w.objArray(obj, Seq.fill(4)(byteIds(i))))

    val path = java.nio.file.Files.createTempDirectory("heap_scale").resolve("big.hprof").toString
    val t0 = System.nanoTime()
    w.writeTo(path, segments = 32)
    val sizeMb = new java.io.File(path).length() / 1e6
    val tWrite = (System.nanoTime() - t0) / 1e9

    val t1 = System.nanoTime()
    val hd = new HeapDump(spark, path)
    val out = java.nio.file.Files.createTempDirectory("heap_scale_pq").toString
    hd.writeParquet(out)
    val tIngest = (System.nanoTime() - t1) / 1e9
    val tables = new HeapTables(spark, out)
    val counts = tables.system("_object_index").get.groupBy("type_name").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    info(f"heap $sizeMb%.1f MB: write $tWrite%.1f s, index+export $tIngest%.1f s")

    assert(counts("java.lang.String") === nStrings.toLong)
    assert(counts("java.lang.Integer") === nBoxes.toLong)
    assert(counts("byte[]") === nStrings.toLong)
    assert(counts("java.lang.Object[]") === 1000L)
    assert(hd.records.count(r => Tag.isHeapSegment(r.tag)) === 32)

    // typed decode at volume: every string's hash field survives
    val hashSum = tables.byClass("java.lang.String").get.agg(org.apache.spark.sql.functions.sum("hash"))
      .collect()(0).getLong(0)
    assert(hashSum === (0L until nStrings).sum)

    // duplicate-string analysis finds the planted 1000-value clusters
    val dup = new HeapAnalysis(tables).checkDuplicateStrings().get
    assert(dup.affectedCount > 15000) // 40k draws over 50k payload keys → ~22k in dup groups
  }

  /** The robo export must be single-pass: the per-class tables come
    * out of ONE clustered write job, so total job count is a constant,
    * NOT a function of how many classes the heap has (the former
    * implementation launched one full-rescan job per class —
    * O(classes × heap) read volume at a real dump's 10k classes).
    */
  test("writeParquet job count is O(1) in the number of classes") {
    def export(nClasses: Int): Int = {
      val w = new HprofWriter()
      val obj = w.defineClass("java.lang.Object")
      (0 until nClasses).foreach { i =>
        val c = w.defineClass(s"com.example.Gen$i", obj,
          instanceFields = Seq("x" -> BasicType.Int, "ref" -> BasicType.Object))
        (0 until 20).foreach(j => w.instance(c, Seq(BasicType.Int -> j, BasicType.Object -> 0L)))
      }
      val path = java.nio.file.Files.createTempDirectory(s"heap_jobs_$nClasses")
        .resolve("d.hprof").toString
      w.writeTo(path, segments = 4)
      val hd = new HeapDump(spark, path)
      val out = java.nio.file.Files.createTempDirectory(s"heap_jobs_pq_$nClasses").toString
      val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
      val listener = new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
          jobs.incrementAndGet()
      }
      spark.sparkContext.addSparkListener(listener)
      try {
        hd.writeParquet(out)
        // the listener bus is async; wait until the count is stable
        var last = -1
        var stable = 0
        while (stable < 3) {
          Thread.sleep(200)
          val now = jobs.get()
          if (now == last) stable += 1 else { stable = 0; last = now }
        }
      } finally spark.sparkContext.removeSparkListener(listener)
      // spot-check the export is real: one table per generated class
      val tables = new java.io.File(out).listFiles().map(_.getName)
      assert((0 until nClasses).forall(i => tables.exists(_.startsWith(s"com.example.Gen${i}_"))))
      jobs.get()
    }
    val jobs8 = export(8)
    val jobs64 = export(64)
    info(s"export jobs: 8 classes → $jobs8, 64 classes → $jobs64")
    assert(jobs64 === jobs8) // constant, independent of class count
  }
}
