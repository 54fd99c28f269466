package graft.heap

import HprofModel._
import java.io.{ByteArrayOutputStream, DataOutputStream}
import scala.collection.mutable

/** Test-scope generator of valid HPROF 1.0.2 bytes (SURVEY.md §2.A14
  * — the role the reference's `test-heap-generator/` plays). Builds a
  * synthetic heap programmatically so specs can drive
  * parser → tables → analysis against known answers.
  */
final class HprofWriter(val idSize: Int = 8) {
  private val body = new ByteArrayOutputStream()
  private val strings = mutable.LinkedHashMap.empty[String, Long]
  private var nextId: Long = 0x1000L
  private var nextClassSerial: Int = 1

  def freshId(): Long = { val v = nextId; nextId += 8; v }

  private def rec(tag: Int)(write: DataOutputStream => Unit): Unit = {
    val buf = new ByteArrayOutputStream()
    write(new DataOutputStream(buf))
    val d = new DataOutputStream(body)
    d.writeByte(tag); d.writeInt(0); d.writeInt(buf.size())
    buf.writeTo(body)
  }

  private def wid(d: DataOutputStream, id: Long): Unit =
    if (idSize == 8) d.writeLong(id) else d.writeInt(id.toInt)

  def stringId(s: String): Long = strings.getOrElseUpdate(s, {
    val id = freshId()
    rec(Tag.Utf8) { d => wid(d, id); d.write(s.getBytes("UTF-8")) }
    id
  })

  /** LOAD_CLASS + (queued) CLASS_DUMP unless `dumped` is false;
    * returns the class obj id.
    */
  def defineClass(name: String, superId: Long = 0L,
      instanceFields: Seq[(String, Int)] = Nil,
      staticFields: Seq[(String, Int, Any)] = Nil,
      instanceSize: Int = 16, loaderId: Long = 0L, dumped: Boolean = true): Long = {
    val classId = freshId()
    val serial = nextClassSerial; nextClassSerial += 1
    val nameId = stringId(name)
    rec(Tag.LoadClass) { d =>
      d.writeInt(serial); wid(d, classId); d.writeInt(0); wid(d, nameId)
    }
    if (dumped) classDumps += { d =>
      d.writeByte(Sub.ClassDump)
      wid(d, classId); d.writeInt(0); wid(d, superId)
      wid(d, loaderId); wid(d, 0L); wid(d, 0L); wid(d, 0L); wid(d, 0L)
      d.writeInt(instanceSize)
      d.writeShort(0) // constant pool
      d.writeShort(staticFields.size)
      staticFields.foreach { case (fn, t, v) =>
        wid(d, stringId(fn)); d.writeByte(t); writeValue(d, t, v)
      }
      d.writeShort(instanceFields.size)
      instanceFields.foreach { case (fn, t) => wid(d, stringId(fn)); d.writeByte(t) }
    }
    classSerials(name) = serial
    classId
  }

  val classSerials = mutable.Map.empty[String, Int]
  private val classDumps = mutable.ArrayBuffer.empty[DataOutputStream => Unit]
  private val subRecords = mutable.ArrayBuffer.empty[DataOutputStream => Unit]

  def writeValue(d: DataOutputStream, t: Int, v: Any): Unit = t match {
    case BasicType.Object => wid(d, v.asInstanceOf[Long])
    case BasicType.Boolean => d.writeByte(if (v.asInstanceOf[Boolean]) 1 else 0)
    case BasicType.Char => d.writeChar(v.asInstanceOf[Int])
    case BasicType.Float => d.writeFloat(v.asInstanceOf[Float])
    case BasicType.Double => d.writeDouble(v.asInstanceOf[Double])
    case BasicType.Byte => d.writeByte(v.asInstanceOf[Byte].toInt)
    case BasicType.Short => d.writeShort(v.asInstanceOf[Short].toInt)
    case BasicType.Int => d.writeInt(v.asInstanceOf[Int])
    case BasicType.Long => d.writeLong(v.asInstanceOf[Long])
  }

  /** Instance dump; values must match the class's full hierarchy
    * layout (own fields then super chain).
    */
  def instance(classId: Long, values: Seq[(Int, Any)]): Long = {
    val objId = freshId()
    val fieldBuf = new ByteArrayOutputStream()
    val fd = new DataOutputStream(fieldBuf)
    values.foreach { case (t, v) => writeValue(fd, t, v) }
    subRecords += { d =>
      d.writeByte(Sub.InstanceDump)
      wid(d, objId); d.writeInt(0); wid(d, classId)
      d.writeInt(fieldBuf.size()); fieldBuf.writeTo(d)
    }
    objId
  }

  def primArray(t: Int, values: Seq[Any]): Long = {
    val objId = freshId()
    subRecords += { d =>
      d.writeByte(Sub.PrimitiveArrayDump)
      wid(d, objId); d.writeInt(0); d.writeInt(values.size); d.writeByte(t)
      values.foreach(v => writeValue(d, t, v))
    }
    objId
  }

  def byteArray(s: String): Long = primArray(BasicType.Byte, s.getBytes("UTF-8").toSeq)

  def objArray(arrayClassId: Long, elements: Seq[Long]): Long = {
    val objId = freshId()
    subRecords += { d =>
      d.writeByte(Sub.ObjectArrayDump)
      wid(d, objId); d.writeInt(0); d.writeInt(elements.size); wid(d, arrayClassId)
      elements.foreach(e => wid(d, e))
    }
    objId
  }

  def gcRoot(rootType: Int, objId: Long, threadSerial: Int = 0, frameIdx: Int = -1): Unit =
    subRecords += { d =>
      d.writeByte(rootType)
      rootType match {
        case Sub.RootUnknown | Sub.RootStickyClass | Sub.RootMonitorUsed => wid(d, objId)
        case Sub.RootJniGlobal => wid(d, objId); wid(d, 0L)
        case Sub.RootJniLocal | Sub.RootJavaFrame =>
          wid(d, objId); d.writeInt(threadSerial); d.writeInt(frameIdx)
        case Sub.RootNativeStack | Sub.RootThreadBlock => wid(d, objId); d.writeInt(threadSerial)
        case Sub.RootThreadObject => wid(d, objId); d.writeInt(threadSerial); d.writeInt(0)
      }
    }

  def stackFrame(method: String, sig: String, source: String, className: String, line: Int): Long = {
    val fid = freshId()
    rec(Tag.StackFrame) { d =>
      wid(d, fid); wid(d, stringId(method)); wid(d, stringId(sig)); wid(d, stringId(source))
      d.writeInt(classSerials(className)); d.writeInt(line)
    }
    fid
  }

  def stackTrace(serial: Int, threadSerial: Int, frameIds: Seq[Long]): Unit =
    rec(Tag.StackTrace) { d =>
      d.writeInt(serial); d.writeInt(threadSerial); d.writeInt(frameIds.size)
      frameIds.foreach(f => wid(d, f))
    }

  /** Flush queued class dumps + heap sub-records as segment records
    * (split across `segments` HEAP_DUMP_SEGMENTs to exercise the
    * distributed scan), then HEAP_DUMP_END, and return the full file.
    */
  def build(segments: Int = 2): Array[Byte] = {
    val all = classDumps ++ subRecords
    val chunks = if (segments <= 1) Seq(all) else {
      val per = math.max(1, (all.size + segments - 1) / segments)
      all.grouped(per).toSeq
    }
    chunks.foreach { chunk =>
      rec(Tag.HeapDumpSegment) { d => chunk.foreach(_(d)) }
    }
    rec(Tag.HeapDumpEnd) { _ => () }

    val out = new ByteArrayOutputStream()
    val d = new DataOutputStream(out)
    d.write("JAVA PROFILE 1.0.2".getBytes("UTF-8")); d.writeByte(0)
    d.writeInt(idSize)
    d.writeLong(System.currentTimeMillis())
    body.writeTo(out)
    out.toByteArray
  }

  def writeTo(path: String, segments: Int = 2): String = {
    java.nio.file.Files.write(java.nio.file.Paths.get(path), build(segments))
    path
  }
}

/** Streaming variant of [[HprofWriter]] for BENCH-SCALE dumps: every
  * record flushes to disk as it is generated, with heap sub-records
  * buffered only up to `segmentBytes` before landing as a
  * HEAP_DUMP_SEGMENT — so a multi-GB synthetic dump never
  * materializes in memory the way HprofWriter's deferred-closure
  * build does (whole body + one closure per sub-record). This is what
  * makes the 10× ingest bench point possible: 30M objects / ~1.5 GB
  * under a bounded footprint (one segment buffer + the string-intern
  * map + the id counter).
  *
  * Contract: define all classes BEFORE the first instance — class
  * dumps are emitted into the segment stream at definition time, and
  * the parser requires a class's dump to precede none of its
  * instances in file order only per HPROF semantics (any segment),
  * so this ordering is simply the writer's natural one.
  */
final class StreamingHprofWriter(path: String, val idSize: Int = 8,
    segmentBytes: Int = 24 << 20) {
  private val out = new DataOutputStream(new java.io.BufferedOutputStream(
    new java.io.FileOutputStream(path), 1 << 20))
  out.write("JAVA PROFILE 1.0.2".getBytes("UTF-8")); out.writeByte(0)
  out.writeInt(idSize)
  out.writeLong(System.currentTimeMillis())

  private val strings = mutable.HashMap.empty[String, Long]
  private var nextId: Long = 0x1000L
  private var nextClassSerial: Int = 1
  private val seg = new ByteArrayOutputStream(segmentBytes + (1 << 16))
  private val segD = new DataOutputStream(seg)

  def freshId(): Long = { val v = nextId; nextId += 8; v }

  private def wid(d: DataOutputStream, id: Long): Unit =
    if (idSize == 8) d.writeLong(id) else d.writeInt(id.toInt)

  // top-level record straight to the file; safe between segments
  // because the partial segment buffer only reaches the file at flush
  private def rec(tag: Int)(write: DataOutputStream => Unit): Unit = {
    val buf = new ByteArrayOutputStream()
    write(new DataOutputStream(buf))
    out.writeByte(tag); out.writeInt(0); out.writeInt(buf.size())
    buf.writeTo(out)
  }

  private def flushSegment(): Unit = if (seg.size() > 0) {
    out.writeByte(Tag.HeapDumpSegment); out.writeInt(0); out.writeInt(seg.size())
    seg.writeTo(out); seg.reset()
  }

  private def maybeFlush(): Unit = if (seg.size() >= segmentBytes) flushSegment()

  def stringId(s: String): Long = strings.getOrElseUpdate(s, {
    val id = freshId()
    rec(Tag.Utf8) { d => wid(d, id); d.write(s.getBytes("UTF-8")) }
    id
  })

  private def writeValue(d: DataOutputStream, t: Int, v: Any): Unit = t match {
    case BasicType.Object => wid(d, v.asInstanceOf[Long])
    case BasicType.Boolean => d.writeByte(if (v.asInstanceOf[Boolean]) 1 else 0)
    case BasicType.Char => d.writeChar(v.asInstanceOf[Int])
    case BasicType.Float => d.writeFloat(v.asInstanceOf[Float])
    case BasicType.Double => d.writeDouble(v.asInstanceOf[Double])
    case BasicType.Byte => d.writeByte(v.asInstanceOf[Byte].toInt)
    case BasicType.Short => d.writeShort(v.asInstanceOf[Short].toInt)
    case BasicType.Int => d.writeInt(v.asInstanceOf[Int])
    case BasicType.Long => d.writeLong(v.asInstanceOf[Long])
  }

  def defineClass(name: String, superId: Long = 0L,
      instanceFields: Seq[(String, Int)] = Nil,
      staticFields: Seq[(String, Int, Any)] = Nil,
      instanceSize: Int = 16, loaderId: Long = 0L): Long = {
    val classId = freshId()
    val serial = nextClassSerial; nextClassSerial += 1
    val nameId = stringId(name)
    rec(Tag.LoadClass) { d =>
      d.writeInt(serial); wid(d, classId); d.writeInt(0); wid(d, nameId)
    }
    segD.writeByte(Sub.ClassDump)
    wid(segD, classId); segD.writeInt(0); wid(segD, superId)
    wid(segD, loaderId); wid(segD, 0L); wid(segD, 0L); wid(segD, 0L); wid(segD, 0L)
    segD.writeInt(instanceSize)
    segD.writeShort(0) // constant pool
    segD.writeShort(staticFields.size)
    staticFields.foreach { case (fn, t, v) =>
      wid(segD, stringId(fn)); segD.writeByte(t); writeValue(segD, t, v)
    }
    segD.writeShort(instanceFields.size)
    instanceFields.foreach { case (fn, t) => wid(segD, stringId(fn)); segD.writeByte(t) }
    maybeFlush()
    classId
  }

  def instance(classId: Long, values: Seq[(Int, Any)]): Long = {
    val objId = freshId()
    val fieldBuf = new ByteArrayOutputStream()
    val fd = new DataOutputStream(fieldBuf)
    values.foreach { case (t, v) => writeValue(fd, t, v) }
    segD.writeByte(Sub.InstanceDump)
    wid(segD, objId); segD.writeInt(0); wid(segD, classId)
    segD.writeInt(fieldBuf.size()); fieldBuf.writeTo(segD)
    maybeFlush()
    objId
  }

  /** Bulk byte[] — the hot generation path: one array copy, no
    * per-element boxing.
    */
  def byteArray(s: String): Long = {
    val bytes = s.getBytes("UTF-8")
    val objId = freshId()
    segD.writeByte(Sub.PrimitiveArrayDump)
    wid(segD, objId); segD.writeInt(0); segD.writeInt(bytes.length)
    segD.writeByte(BasicType.Byte)
    segD.write(bytes)
    maybeFlush()
    objId
  }

  def gcRoot(rootType: Int, objId: Long, threadSerial: Int = 0): Unit = {
    segD.writeByte(rootType)
    rootType match {
      case Sub.RootUnknown | Sub.RootStickyClass | Sub.RootMonitorUsed => wid(segD, objId)
      case Sub.RootJniGlobal => wid(segD, objId); wid(segD, 0L)
      case Sub.RootJniLocal | Sub.RootJavaFrame =>
        wid(segD, objId); segD.writeInt(threadSerial); segD.writeInt(-1)
      case Sub.RootNativeStack | Sub.RootThreadBlock => wid(segD, objId); segD.writeInt(threadSerial)
      case Sub.RootThreadObject => wid(segD, objId); segD.writeInt(threadSerial); segD.writeInt(0)
    }
    maybeFlush()
  }

  /** Flush the tail segment, end the dump, close the file. */
  def close(): Unit = {
    flushSegment()
    out.writeByte(Tag.HeapDumpEnd); out.writeInt(0); out.writeInt(0)
    out.flush(); out.close()
  }
}
