package graft.heap

import graft.SparkTestSession
import HprofModel._
import org.scalatest.funsuite.AnyFunSuite

/** The streaming writer (the 10× bench point's generator) must
  * produce dumps the parser reads EXACTLY like the buffered
  * HprofWriter's: same per-type census, same typed field decode, same
  * string payloads — including when its bounded segment buffer
  * flushes mid-stream many times (the state the multi-GB dump lives
  * in permanently).
  */
class StreamingHprofWriterSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private def buildBoth(segmentBytes: Int): (String, String) = {
    val dir = java.nio.file.Files.createTempDirectory("stream_hprof")
    val pBuf = dir.resolve("buffered.hprof").toString
    val pStr = dir.resolve("streamed.hprof").toString
    def populate(defineClass: (String, Long, Seq[(String, Int)]) => Long,
        byteArray: String => Long,
        instance: (Long, Seq[(Int, Any)]) => Long,
        gcRoot: Long => Unit): Unit = {
      // root class handle comes from the first define call
      val obj = defineClass("java.lang.Object", 0L, Nil)
      val str = defineClass("java.lang.String", obj,
        Seq("value" -> BasicType.Object, "hash" -> BasicType.Int))
      val box = defineClass("java.lang.Integer", obj, Seq("value" -> BasicType.Int))
      val gen = (0 until 7).map(i => defineClass(s"com.stream.Gen$i", obj,
        Seq("a" -> BasicType.Long, "ref" -> BasicType.Object)))
      val bytes = (0 until 500).map(i => byteArray(s"payload-${i % 40}"))
      bytes.zipWithIndex.foreach { case (b, i) =>
        instance(str, Seq(BasicType.Object -> b, BasicType.Int -> i))
      }
      (0 until 300).foreach(i => instance(box, Seq(BasicType.Int -> (i % 16))))
      val genIds = (0 until 400).map { i =>
        instance(gen(i % gen.length), Seq(BasicType.Long -> i.toLong,
          BasicType.Object -> bytes(i % bytes.length)))
      }
      gcRoot(genIds.head)
    }
    locally {
      val w = new HprofWriter()
      populate((n, s, f) => w.defineClass(n, s, instanceFields = f),
        w.byteArray, w.instance, id => w.gcRoot(Sub.RootUnknown, id))
      w.writeTo(pBuf, segments = 4)
    }
    locally {
      val w = new StreamingHprofWriter(pStr, segmentBytes = segmentBytes)
      populate((n, s, f) => w.defineClass(n, s, instanceFields = f),
        w.byteArray, w.instance, id => w.gcRoot(Sub.RootUnknown, id))
      w.close()
    }
    (pBuf, pStr)
  }

  private def export(path: String): HeapTables = {
    val out = java.nio.file.Files.createTempDirectory("stream_pq").toString
    new HeapDump(spark, path).writeParquet(out)
    new HeapTables(spark, out)
  }

  private def census(tables: HeapTables): Map[String, Long] =
    tables.system("_object_index").get.groupBy("type_name").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap

  test("streamed dump parses to the same census and field values as the buffered writer's") {
    val (pBuf, pStr) = buildBoth(segmentBytes = 24 << 20) // one tail segment
    val (tBuf, tStr) = (export(pBuf), export(pStr))
    val cBuf = census(tBuf)
    val cStr = census(tStr)
    assert(cStr === cBuf)
    assert(cStr("java.lang.String") === 500L)
    // typed decode parity: the String hash field sums identically
    def hashSum(tables: HeapTables): Long =
      tables.byClass("java.lang.String").get
        .agg(org.apache.spark.sql.functions.sum("hash")).collect()(0).getLong(0)
    assert(hashSum(tStr) === hashSum(tBuf))
  }

  test("a tiny segment buffer (many mid-stream flushes) still parses whole") {
    val (_, pStr) = buildBoth(segmentBytes = 2048) // hundreds of segments
    val hd = new HeapDump(spark, pStr)
    val c = census(export(pStr))
    assert(c("java.lang.String") === 500L)
    assert(c("byte[]") === 500L)
    assert(c("java.lang.Integer") === 300L)
    // the flush boundary must produce many real segments, each intact
    assert(hd.records.count(r => Tag.isHeapSegment(r.tag)) > 10)
  }
}
