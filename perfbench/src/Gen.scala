package graftbench

import graft.heap.HprofModel.{BasicType, Sub, Tag}
import java.io.{ByteArrayOutputStream, DataOutputStream}
import scala.collection.mutable

/** Deterministic HPROF 1.0.2 writer: the header timestamp is fixed and
  * heap sub-records are split into exactly `segments` HEAP_DUMP_SEGMENT
  * records, so one seed always gives the same bytes.
  */
final class DumpWriter(segments: Int) {
  private val top = new ByteArrayOutputStream()
  private val heap = new ByteArrayOutputStream()
  private val heapD = new DataOutputStream(heap)
  private val recordEnds = mutable.ArrayBuffer.empty[Int]
  private val strings = mutable.HashMap.empty[String, Long]
  private var nextId = 0x1000L
  private var nextSerial = 1
  private val classSerial = mutable.HashMap.empty[Long, Int]

  private def freshId(): Long = { val v = nextId; nextId += 8; v }

  private def rec(tag: Int)(w: DataOutputStream => Unit): Unit = {
    val b = new ByteArrayOutputStream()
    w(new DataOutputStream(b))
    val d = new DataOutputStream(top)
    d.writeByte(tag); d.writeInt(0); d.writeInt(b.size()); b.writeTo(top)
  }

  private def sub(w: DataOutputStream => Unit): Unit = { w(heapD); recordEnds += heap.size() }

  def stringId(s: String): Long = strings.getOrElseUpdate(s, {
    val id = freshId()
    rec(Tag.Utf8) { d => d.writeLong(id); d.write(s.getBytes("UTF-8")) }
    id
  })

  def defineClass(name: String, fields: Seq[(String, Int)] = Nil, superId: Long = 0L): Long = {
    val id = freshId()
    val serial = nextSerial; nextSerial += 1
    classSerial(id) = serial
    val nameId = stringId(name)
    rec(Tag.LoadClass) { d => d.writeInt(serial); d.writeLong(id); d.writeInt(0); d.writeLong(nameId) }
    val fieldIds = fields.map { case (n, t) => (stringId(n), t) }
    sub { d =>
      d.writeByte(Sub.ClassDump)
      d.writeLong(id); d.writeInt(0); d.writeLong(superId)
      (1 to 5).foreach(_ => d.writeLong(0L))
      d.writeInt(fields.map(f => BasicType.size(f._2, 8)).sum)
      d.writeShort(0); d.writeShort(0)
      d.writeShort(fields.size)
      fieldIds.foreach { case (n, t) => d.writeLong(n); d.writeByte(t) }
    }
    id
  }

  /** Field values in declaration order: Long for object refs and longs,
    * Int for ints, Byte for bytes.
    */
  def instance(classId: Long, values: Seq[(Int, Any)]): Long = {
    val id = freshId()
    val b = new ByteArrayOutputStream()
    val fd = new DataOutputStream(b)
    values.foreach {
      case (BasicType.Object | BasicType.Long, v: Long) => fd.writeLong(v)
      case (BasicType.Int, v: Int) => fd.writeInt(v)
      case (BasicType.Byte, v: Byte) => fd.writeByte(v.toInt)
      case (t, v) => throw new IllegalArgumentException(s"unsupported field $t=$v")
    }
    sub { d =>
      d.writeByte(Sub.InstanceDump)
      d.writeLong(id); d.writeInt(0); d.writeLong(classId)
      d.writeInt(b.size()); b.writeTo(d)
    }
    id
  }

  def byteArray(bytes: Array[Byte]): Long = {
    val id = freshId()
    sub { d =>
      d.writeByte(Sub.PrimitiveArrayDump)
      d.writeLong(id); d.writeInt(0); d.writeInt(bytes.length); d.writeByte(BasicType.Byte)
      d.write(bytes)
    }
    id
  }

  def objArray(arrayClassId: Long, elems: Seq[Long]): Long = {
    val id = freshId()
    sub { d =>
      d.writeByte(Sub.ObjectArrayDump)
      d.writeLong(id); d.writeInt(0); d.writeInt(elems.size); d.writeLong(arrayClassId)
      elems.foreach(d.writeLong)
    }
    id
  }

  def gcRoot(rootType: Int, objId: Long, threadSerial: Int = 0): Unit = sub { d =>
    d.writeByte(rootType)
    rootType match {
      case Sub.RootUnknown | Sub.RootStickyClass => d.writeLong(objId)
      case Sub.RootJniGlobal => d.writeLong(objId); d.writeLong(0L)
      case Sub.RootThreadObject => d.writeLong(objId); d.writeInt(threadSerial); d.writeInt(0)
      case other => throw new IllegalArgumentException(s"unsupported root $other")
    }
  }

  def stackFrame(method: String, classId: Long, line: Int): Long = {
    val id = freshId()
    val (m, s, f) = (stringId(method), stringId("()V"), stringId("Gen.java"))
    rec(Tag.StackFrame) { d =>
      d.writeLong(id); d.writeLong(m); d.writeLong(s); d.writeLong(f)
      d.writeInt(classSerial(classId)); d.writeInt(line)
    }
    id
  }

  def stackTrace(serial: Int, threadSerial: Int, frames: Seq[Long]): Unit =
    rec(Tag.StackTrace) { d =>
      d.writeInt(serial); d.writeInt(threadSerial); d.writeInt(frames.size)
      frames.foreach(d.writeLong)
    }

  def writeTo(path: String): Long = {
    val out = new DataOutputStream(new java.io.BufferedOutputStream(
      new java.io.FileOutputStream(path), 1 << 20))
    try {
      out.write("JAVA PROFILE 1.0.2".getBytes("UTF-8")); out.writeByte(0)
      out.writeInt(8); out.writeLong(1700000000000L)
      top.writeTo(out)
      val bytes = heap.toByteArray
      val per = math.max(1, (recordEnds.size + segments - 1) / segments)
      var start = 0
      recordEnds.grouped(per).foreach { g =>
        val end = g.last
        out.writeByte(Tag.HeapDumpSegment); out.writeInt(0); out.writeInt(end - start)
        out.write(bytes, start, end - start)
        start = end
      }
      out.writeByte(Tag.HeapDumpEnd); out.writeInt(0); out.writeInt(0)
    } finally out.close()
    new java.io.File(path).length()
  }
}

/** What a generated dump holds, and the waste the analysis must find. */
final case class DumpFacts(
    path: String, bytes: Long, sha256: String, segments: Int,
    classesDefined: Int, classesWithInstances: Int,
    instancesByClass: Map[String, Long], objectIndexRows: Long,
    objectArrays: Long, byteArrays: Long, gcRoots: Long,
    expectedWaste: Map[String, (Int, Long)]) {
  def mb: Double = bytes / 1e6
  def objects: Long = objectIndexRows
  def props: Seq[(String, String)] = Seq(
    "objects" -> objects.toString, "classes" -> classesWithInstances.toString,
    "segments" -> segments.toString, "mb" -> f"$mb%.3f", "sha256" -> sha256)
}

/** Heap dumps with planted waste and class fan-out. Every planted
  * pattern is tallied here by the check's own definition, so the
  * analysis' affected counts have an independent expected value.
  */
object HeapGen {
  import BasicType._

  def sha256(path: String): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    val in = new java.io.FileInputStream(path)
    try {
      val buf = new Array[Byte](1 << 16)
      Iterator.continually(in.read(buf)).takeWhile(_ > 0).foreach(n => md.update(buf, 0, n))
    } finally in.close()
    md.digest().map("%02x".format(_)).mkString
  }

  /** @param objects   approximate object count
    * @param classes   application classes that get instances
    * @param segments  HEAP_DUMP_SEGMENT records
    */
  def generate(path: String, seed: Long, objects: Int, classes: Int, segments: Int): DumpFacts = {
    val rnd = new scala.util.Random(seed)
    val w = new DumpWriter(segments)
    val instances = mutable.LinkedHashMap.empty[String, Long].withDefaultValue(0L)
    var classesDefined = 0
    def cls(name: String, fields: Seq[(String, Int)], superId: Long = 0L): (String, Long) = {
      classesDefined += 1
      name -> w.defineClass(name, fields, superId)
    }
    def inst(c: (String, Long), values: Seq[(Int, Any)]): Long = {
      instances(c._1) += 1
      w.instance(c._2, values)
    }
    val objArrayClass = cls("[Ljava.lang.Object;", Nil)
    val strCls = cls("java.lang.String", Seq("value" -> Object, "hash" -> Int, "coder" -> Byte))
    val intCls = cls("java.lang.Integer", Seq("value" -> Int))
    val longCls = cls("java.lang.Long", Seq("value" -> Long))
    val listCls = cls("java.util.ArrayList", Seq("elementData" -> Object, "size" -> Int))
    val mapCls = cls("java.util.HashMap", Seq("table" -> Object, "size" -> Int))
    val dbbCls = cls("java.nio.DirectByteBuffer",
      Seq("capacity" -> Int, "position" -> Int, "limit" -> Int))
    val threadCls = cls("java.lang.Thread", Seq("threadStatus" -> Int, "name" -> Object))
    val base = cls("com.bench.app.Base", Nil)
    val app = (0 until classes).map(i =>
      cls(f"com.bench.app.Gen$i%04d", Seq("a" -> Long, "b" -> Int, "ref" -> Object), base._2))

    // every byte[] and Object[] is tallied by the checks' own rules
    val byteContent = mutable.HashMap.empty[String, Long].withDefaultValue(0L)
    var byteArrays = 0L; var badPrim = 0L
    def bytes(b: Array[Byte]): Long = {
      byteArrays += 1
      if (b.length == 0 || b.length == 1 || b.forall(_ == 0)) badPrim += 1
      if (b.nonEmpty && b.length <= 10240) byteContent(b.mkString(",")) += 1
      w.byteArray(b)
    }
    var objArrays = 0L; var badObj = 0L
    def arr(elems: Seq[Long]): Long = {
      objArrays += 1
      val n = elems.size; val nulls = elems.count(_ == 0L)
      if (n == 0 || nulls == n || n == 1 || (n > 3 && nulls.toDouble / n > 0.7)) badObj += 1
      w.objArray(objArrayClass._2, elems)
    }

    val nStrings = objects * 15 / 100
    val pool = (0 until math.max(8, nStrings / 50)).map(i => s"shared-${rnd.nextInt(1 << 20)}-$i")
    val stringContent = mutable.HashMap.empty[String, Long].withDefaultValue(0L)
    val strIds = (0 until nStrings).map { i =>
      val s = if (rnd.nextInt(100) < 30) pool(rnd.nextInt(pool.size))
        else s"value-$i-${rnd.nextLong().toHexString}"
      stringContent(s) += 1
      val b = bytes(s.getBytes("UTF-8"))
      inst(strCls, Seq(Object -> b, Int -> s.hashCode, Byte -> 0.toByte))
    }
    (0 until objects * 5 / 100).foreach(i => inst(intCls, Seq(Int -> (i % 1000))))
    (0 until objects * 3 / 100).foreach(i => inst(longCls, Seq(Long -> i.toLong)))

    var badColl = 0L; var sizing = 0L
    (0 until objects * 3 / 100).foreach { i =>
      i % 3 match {
        case 0 => badColl += 1; inst(listCls, Seq(Object -> 0L, Int -> 0))
        case 1 =>
          // size 1 in a 10-slot array: empty/single AND oversized
          badColl += 1; sizing += 1
          inst(listCls, Seq(Object -> arr(strIds(i % strIds.size) +: Seq.fill(9)(0L)), Int -> 1))
        case _ =>
          sizing += 1
          val elems = (0 until 4).map(k => strIds((i + k) % strIds.size)) ++ Seq.fill(16)(0L)
          inst(listCls, Seq(Object -> arr(elems), Int -> 4))
      }
    }
    (0 until objects * 2 / 100).foreach { i =>
      if (i % 2 == 0) { badColl += 1; inst(mapCls, Seq(Object -> 0L, Int -> 0)) }
      else {
        sizing += 1
        val table = Seq(strIds(i % strIds.size), strIds((i + 1) % strIds.size)) ++ Seq.fill(14)(0L)
        inst(mapCls, Seq(Object -> arr(table), Int -> 2))
      }
    }
    (0 until objects * 2 / 100).foreach { i =>
      i % 4 match {
        case 0 => arr(Nil)
        case 1 => arr(Seq.fill(5)(0L))
        case 2 => arr(Seq(strIds(i % strIds.size)))
        case _ => arr((0 until 4).map(k => strIds((i * 7 + k) % strIds.size)))
      }
    }
    (0 until objects * 3 / 100).foreach { i =>
      i % 4 match {
        case 0 => bytes(Array.emptyByteArray)
        case 1 => bytes(Array((i % 7).toByte))
        case 2 => bytes(new Array[Byte](16))
        case _ => bytes(Array.fill(32)(rnd.nextInt(256).toByte))
      }
    }
    val nBuffers = math.max(4, objects / 500)
    (0 until nBuffers).foreach(i =>
      inst(dbbCls, Seq(Int -> (4096 * (1 + i % 4)), Int -> (if (i % 2 == 0) 0 else 10), Int -> 4096)))

    val nThreads = 24
    val threadIds = (0 until nThreads).map { i =>
      val name = bytes(s"worker-$i".getBytes("UTF-8"))
      val status = if (i % 3 == 0) 0x0002 else 0x0005
      inst(threadCls, Seq(Int -> status, Object -> name))
    }
    val alive = (0 until nThreads).count(_ % 3 != 0).toLong
    val frames = (0 until 6).map(k => w.stackFrame(s"run$k", threadCls._2, 10 + k))
    (0 until nThreads).foreach(i => w.stackTrace(i + 1, i + 1, frames.take(1 + i % frames.size)))

    val remaining = math.max(classes, objects - instances.values.sum.toInt -
      byteArrays.toInt - objArrays.toInt)
    val appIds = (0 until remaining).map { i =>
      val c = app(if (i < classes) i else rnd.nextInt(classes))
      inst(c, Seq(Long -> rnd.nextLong(), Int -> i, Object -> strIds(rnd.nextInt(strIds.size))))
    }

    var roots = 0L
    threadIds.zipWithIndex.foreach { case (t, i) => w.gcRoot(Sub.RootThreadObject, t, i + 1); roots += 1 }
    appIds.indices.by(100).foreach { i => w.gcRoot(Sub.RootJniGlobal, appIds(i)); roots += 1 }
    strIds.indices.by(200).foreach { i => w.gcRoot(Sub.RootUnknown, strIds(i)); roots += 1 }

    val size = w.writeTo(path)
    def dups(m: mutable.Map[String, Long]): Long = m.values.filter(_ > 1).sum
    val nInstances = instances.values.sum
    DumpFacts(path, size, sha256(path), segments, classesDefined,
      instances.count(_._2 > 0), instances.toMap.filter(_._2 > 0),
      nInstances + byteArrays + objArrays + classesDefined, objArrays, byteArrays, roots,
      // check name -> (tier, affected count)
      Map(
        "Duplicate Strings" -> (1, dups(stringContent)),
        "Bad Collections (empty/single-element)" -> (1, badColl),
        "Bad Object Arrays" -> (1, badObj),
        "Bad Primitive Arrays" -> (1, badPrim),
        "Boxed Primitives" -> (1, instances("java.lang.Integer") + instances("java.lang.Long")),
        "Collection Sizing Issues" -> (2, sizing),
        "Duplicate byte[] Arrays" -> (2, dups(byteContent)),
        "GC Roots Breakdown" -> (2, roots),
        "DirectByteBuffer Off-Heap" -> (2, nBuffers.toLong),
        "Thread Stacks" -> (2, alive)))
  }
}

/** A document corpus with planted exact duplicates and near-duplicate
  * families. In-budget variants replace one contiguous run of words,
  * so they keep word-shingle overlap; out-of-budget variants replace
  * about 40% of the words.
  */
final case class Corpus(ids: Array[Long], texts: Array[String], families: Seq[Seq[Int]]) {
  def mb: Double = texts.map(_.length.toLong).sum / 1e6
  def dupShare: Double = {
    val distinct = texts.distinct.length
    (texts.length - distinct).toDouble / texts.length
  }
  def sha256: String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    ids.indices.foreach(i => md.update(s"${ids(i)}\t${texts(i)}\n".getBytes("UTF-8")))
    md.digest().map("%02x".format(_)).mkString
  }
  def props: Seq[(String, String)] = Seq(
    "docs" -> texts.length.toString, "mb" -> f"$mb%.3f",
    "dup_share" -> f"$dupShare%.4f", "sha256" -> sha256)
}

object CorpusGen {
  private val vocab: Array[String] = {
    val r = new scala.util.Random(99L)
    Array.fill(4000)(Iterator.continually(('a' + r.nextInt(26)).toChar).take(3 + r.nextInt(6)).mkString)
  }

  def generate(seed: Long, docs: Int): Corpus = {
    val rnd = new scala.util.Random(seed)
    def words(n: Int): Array[String] = Array.fill(n)(vocab(rnd.nextInt(vocab.length)))
    val texts = mutable.ArrayBuffer.empty[String]
    val families = mutable.ArrayBuffer.empty[Seq[Int]]
    while (texts.size < docs) {
      val base = words(30 + rnd.nextInt(90))
      val fam = mutable.ArrayBuffer(texts.size)
      texts += base.mkString(" ")
      val roll = rnd.nextInt(100)
      if (roll < 10) { fam += texts.size; texts += base.mkString(" ") }
      else if (roll < 25) {
        (0 until 1 + rnd.nextInt(3)).foreach { _ =>
          val v = base.clone()
          val inBudget = rnd.nextInt(3) != 0
          val span = if (inBudget) math.max(1, v.length * (4 + rnd.nextInt(6)) / 100)
            else v.length * 2 / 5
          val at = rnd.nextInt(v.length - span + 1)
          (at until at + span).foreach(k => v(k) = vocab(rnd.nextInt(vocab.length)))
          fam += texts.size; texts += v.mkString(" ")
        }
      }
      if (fam.size > 1) families += fam.toSeq
    }
    val n = math.min(docs, texts.size)
    Corpus(Array.tabulate(n)(i => (i + 1).toLong), texts.take(n).toArray,
      families.map(_.filter(_ < n)).filter(_.size > 1).toSeq)
  }

  /** Plain O(n·m) Levenshtein, independent of the engine's banded one. */
  def levenshtein(a: String, b: String): Int = {
    var prev = Array.tabulate(b.length + 1)(identity)
    var cur = new Array[Int](b.length + 1)
    var i = 1
    while (i <= a.length) {
      cur(0) = i
      var j = 1
      while (j <= b.length) {
        val c = if (a.charAt(i - 1) == b.charAt(j - 1)) 0 else 1
        cur(j) = math.min(math.min(cur(j - 1) + 1, prev(j) + 1), prev(j - 1) + c)
        j += 1
      }
      val t = prev; prev = cur; cur = t
      i += 1
    }
    prev(b.length)
  }

  def shingleJaccard(a: String, b: String, n: Int): Double = {
    def sh(s: String) = s.split(" ").sliding(n).map(_.mkString(" ")).toSet
    val (x, y) = (sh(a), sh(b))
    (x intersect y).size.toDouble / (x union y).size
  }
}
