package graft.heap

import graft.SparkTestSession
import HprofModel._
import org.scalatest.funsuite.AnyFunSuite
import scala.util.Random

/** Property-style round trip: randomized synthetic heaps → writer →
  * distributed parser → tables, with exact count/value invariants.
  * Catches framing bugs (one mis-sized field throws the whole segment
  * walk off) better than fixed fixtures. Seeded → deterministic.
  */
class HprofRoundTripSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private def randPrim(rnd: Random): (Int, Seq[Any]) = {
    val t = Seq(BasicType.Boolean, BasicType.Byte, BasicType.Char, BasicType.Short,
      BasicType.Int, BasicType.Long, BasicType.Float, BasicType.Double)(rnd.nextInt(8))
    val n = rnd.nextInt(25)
    val vals: Seq[Any] = t match {
      case BasicType.Boolean => Seq.fill(n)(rnd.nextBoolean())
      case BasicType.Byte => Seq.fill(n)(rnd.nextInt().toByte)
      case BasicType.Char => Seq.fill(n)(rnd.nextInt(0x10000))
      case BasicType.Short => Seq.fill(n)(rnd.nextInt().toShort)
      case BasicType.Int => Seq.fill(n)(rnd.nextInt())
      case BasicType.Long => Seq.fill(n)(rnd.nextLong())
      case BasicType.Float => Seq.fill(n)(rnd.nextFloat())
      case _ => Seq.fill(n)(rnd.nextDouble())
    }
    (t, vals)
  }

  for (seed <- 1 to 8) test(s"random heap round-trips (seed $seed)") {
    val rnd = new Random(seed)
    val nInts = 1 + rnd.nextInt(40)
    val nStrings = rnd.nextInt(30)
    val nArrays = rnd.nextInt(20)
    val prims = Seq.fill(12)(randPrim(rnd))
    val segs = 1 + rnd.nextInt(6)

    val w = new HprofWriter()
    val obj = w.defineClass("java.lang.Object")
    val box = w.defineClass("java.lang.Integer", obj,
      instanceFields = Seq("value" -> BasicType.Int))
    val str = w.defineClass("java.lang.String", obj,
      instanceFields = Seq("value" -> BasicType.Object, "hash" -> BasicType.Int))
    val ints = (0 until nInts).map(i => w.instance(box, Seq(BasicType.Int -> i)))
    val bytes = (0 until nStrings).map(i => w.byteArray(s"s$i"))
    bytes.zipWithIndex.foreach { case (b, i) =>
      w.instance(str, Seq(BasicType.Object -> b, BasicType.Int -> i)) }
    (0 until nArrays).foreach(i => w.objArray(obj, ints.take(i % (ints.size + 1))))
    val primIds = prims.map { case (t, vals) => w.primArray(t, vals) }

    val path = java.nio.file.Files.createTempDirectory("rt").resolve("h.hprof").toString
    w.writeTo(path, segments = segs)
    val out = java.nio.file.Files.createTempDirectory("rt_pq").toString
    new HeapDump(spark, path).writeParquet(out)
    val tables = new HeapTables(spark, out)

    val idx = tables.system("_object_index").get.collect().map(r => r.getLong(0) -> r.getString(1))
    assert(idx.count(_._2 == "java.lang.Integer") === nInts)
    assert(idx.count(_._2 == "java.lang.String") === nStrings)
    assert(idx.count(_._2 == "java.lang.Object[]") === nArrays)
    assert(idx.length === 3 + nInts + 2 * nStrings + nArrays + prims.size)

    // primitive arrays: type and length survive exactly
    def primTable(t: Int) = tables.system(s"_primitive_arrays_${BasicType.javaName(t)}").get
    val gotPrims = SystemTableWriter.primitiveTags
      .flatMap(t => primTable(t).collect().map(r => r.getAs[Long]("obj_id") -> t)).toMap
    primIds.zip(prims).foreach { case (id, (t, _)) => assert(gotPrims(id) === t) }

    // typed decode: integer values sum correctly
    val sum = tables.byClass("java.lang.Integer").get.agg(org.apache.spark.sql.functions.sum("value"))
      .collect()(0).getLong(0)
    assert(sum === (0L until nInts).sum)

    // long arrays round-trip values bit-exactly
    prims.zip(primIds).filter(_._1._1 == BasicType.Long).foreach { case ((_, vals), id) =>
      val got = primTable(BasicType.Long).filter(s"obj_id = $id")
        .collect()(0).getAs[scala.collection.Seq[Long]]("values")
      assert(got.toSeq === vals)
    }
  }
}
