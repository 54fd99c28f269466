package graft.heap

import HprofModel._
import java.nio.ByteBuffer
import java.nio.charset.StandardCharsets

/** Streaming parser for the public HPROF 1.0.2 binary format.
  *
  * Pure functions over byte ranges so the same code runs on the driver
  * (header + record index, a cheap sequential walk of 9-byte record
  * headers) and on executors (segment bodies parsed in parallel —
  * SURVEY.md §5). Nothing here touches Spark.
  */
object HprofParser {

  final case class Header(formatName: String, idSize: Int, timestampMs: Long, bodyStart: Long)

  /** Big-endian cursor over a byte array. */
  final class Cursor(val buf: Array[Byte], var pos: Int) {
    def remaining: Int = buf.length - pos
    def u1(): Int = { val v = buf(pos) & 0xff; pos += 1; v }
    def u2(): Int = { val v = ((buf(pos) & 0xff) << 8) | (buf(pos + 1) & 0xff); pos += 2; v }
    def u4(): Long = { val v = ByteBuffer.wrap(buf, pos, 4).getInt.toLong & 0xffffffffL; pos += 4; v }
    def i4(): Int = { val v = ByteBuffer.wrap(buf, pos, 4).getInt; pos += 4; v }
    def u8(): Long = { val v = ByteBuffer.wrap(buf, pos, 8).getLong; pos += 8; v }
    def id(idSize: Int): Long =
      if (idSize == 8) u8()
      else if (idSize == 4) u4()
      else throw new IllegalArgumentException(s"unsupported id size $idSize")
    def bytes(n: Int): Array[Byte] = { val v = java.util.Arrays.copyOfRange(buf, pos, pos + n); pos += n; v }
    def skip(n: Int): Unit = pos += n
  }

  /** Parse the file header from the first bytes of the dump. */
  def parseHeader(head: Array[Byte]): Header = {
    val nul = head.indexOf(0.toByte)
    require(nul > 0, "not an HPROF file: missing format-name terminator")
    val name = new String(head, 0, nul, StandardCharsets.UTF_8)
    require(name.startsWith("JAVA PROFILE"), s"not an HPROF file: '$name'")
    val c = new Cursor(head, nul + 1)
    val idSize = c.u4().toInt
    val ts = (c.u4() << 32) | c.u4()
    Header(name, idSize, ts, c.pos.toLong)
  }

  /** Sequential walk of record headers (tag u1, time u4, length u4) —
    * the only intrinsically sequential part of ingestion; reads 9
    * bytes + seek per record. A record whose body runs past the end of
    * the file fails here, before any task runs, rather than as an
    * executor read error later.
    */
  def indexRecords(readAt: (Long, Int) => Array[Byte], fileLength: Long, bodyStart: Long): Vector[RecordPtr] = {
    val out = Vector.newBuilder[RecordPtr]
    var off = bodyStart
    while (off + 9 <= fileLength) {
      val hdr = new Cursor(readAt(off, 9), 0)
      val tag = hdr.u1()
      hdr.u4() // microsecond delta, unused
      val len = hdr.u4()
      if (off + 9 + len > fileLength) throw new IllegalArgumentException(
        s"truncated HPROF: record at offset $off claims $len bytes, file has $fileLength")
      out += RecordPtr(tag, off + 9, len)
      off += 9 + len
    }
    out.result()
  }

  def parseUtf8(body: Array[Byte], idSize: Int): (Long, String) = {
    val c = new Cursor(body, 0)
    val id = c.id(idSize)
    (id, new String(body, idSize, body.length - idSize, StandardCharsets.UTF_8))
  }

  def parseLoadClass(body: Array[Byte], idSize: Int): LoadClassInfo = {
    val c = new Cursor(body, 0)
    val serial = c.u4().toInt
    val classObjId = c.id(idSize)
    c.u4() // stack trace serial
    LoadClassInfo(serial, classObjId, c.id(idSize))
  }

  def parseStackFrame(body: Array[Byte], idSize: Int): StackFrameRec = {
    val c = new Cursor(body, 0)
    StackFrameRec(c.id(idSize), c.id(idSize), c.id(idSize), c.id(idSize), c.u4().toInt, c.i4())
  }

  def parseStackTrace(body: Array[Byte], idSize: Int): StackTraceRec = {
    val c = new Cursor(body, 0)
    val serial = c.u4().toInt
    val threadSerial = c.u4().toInt
    val n = c.u4().toInt
    StackTraceRec(serial, threadSerial, Seq.fill(n)(c.id(idSize)))
  }

  /** Visitor over one heap segment's sub-records. Each callback may be
    * a no-op; the walk itself must parse every sub-record to find
    * boundaries (the format has no per-sub-record length).
    */
  trait SubVisitor {
    def onInstance(ev: InstanceEv): Unit = ()
    def onObjArray(ev: ObjArrayEv): Unit = ()
    def onPrimArray(ev: PrimArrayEv): Unit = ()
    def onGcRoot(ev: GcRootEv): Unit = ()
    def onClassDump(ev: ClassDumpInfo): Unit = ()
  }

  private def frameIdx(v: Long): Option[Int] = if (v == 0xffffffffL) None else Some(v.toInt)

  /** Walk every sub-record in a heap dump segment body. */
  def scanSegment(body: Array[Byte], idSize: Int, v: SubVisitor): Unit = {
    val c = new Cursor(body, 0)
    while (c.remaining > 0) {
      val tag = c.u1()
      tag match {
        case Sub.RootUnknown =>
          v.onGcRoot(GcRootEv("Unknown", c.id(idSize), None, None))
        case Sub.RootJniGlobal =>
          val obj = c.id(idSize); c.id(idSize) // JNI global ref id
          v.onGcRoot(GcRootEv("JniGlobal", obj, None, None))
        case Sub.RootJniLocal =>
          val obj = c.id(idSize); val ts = c.u4().toInt; val fi = c.u4()
          v.onGcRoot(GcRootEv("JniLocal", obj, Some(ts), frameIdx(fi)))
        case Sub.RootJavaFrame =>
          val obj = c.id(idSize); val ts = c.u4().toInt; val fi = c.u4()
          v.onGcRoot(GcRootEv("JavaStackFrame", obj, Some(ts), frameIdx(fi)))
        case Sub.RootNativeStack =>
          val obj = c.id(idSize); val ts = c.u4().toInt
          v.onGcRoot(GcRootEv("NativeStack", obj, Some(ts), None))
        case Sub.RootStickyClass =>
          v.onGcRoot(GcRootEv("SystemClass", c.id(idSize), None, None))
        case Sub.RootThreadBlock =>
          val obj = c.id(idSize); val ts = c.u4().toInt
          v.onGcRoot(GcRootEv("ThreadBlock", obj, Some(ts), None))
        case Sub.RootMonitorUsed =>
          v.onGcRoot(GcRootEv("BusyMonitor", c.id(idSize), None, None))
        case Sub.RootThreadObject =>
          val obj = c.id(idSize); val ts = c.u4().toInt; c.u4() // stack trace serial
          v.onGcRoot(GcRootEv("ThreadObj", obj, Some(ts), None))
        case Sub.ClassDump =>
          v.onClassDump(parseClassDump(c, idSize))
        case Sub.InstanceDump =>
          val objId = c.id(idSize); c.u4() // stack trace serial
          val classId = c.id(idSize)
          val n = c.u4().toInt
          v.onInstance(InstanceEv(objId, classId, c.bytes(n)))
        case Sub.ObjectArrayDump =>
          val objId = c.id(idSize); c.u4()
          val n = c.u4().toInt
          val classId = c.id(idSize)
          val elems = new Array[Long](n)
          var i = 0
          while (i < n) { elems(i) = c.id(idSize); i += 1 }
          v.onObjArray(ObjArrayEv(objId, classId, elems.toSeq))
        case Sub.PrimitiveArrayDump =>
          val objId = c.id(idSize); c.u4()
          val n = c.u4().toInt
          val t = c.u1()
          v.onPrimArray(parsePrimValues(c, objId, t, n))
        case other =>
          throw new IllegalStateException(f"unknown heap sub-record tag 0x$other%02x at ${c.pos - 1}")
      }
    }
  }

  private def parsePrimValues(c: Cursor, objId: Long, t: Int, n: Int): PrimArrayEv = {
    import BasicType._
    t match {
      case Boolean => PrimArrayEv(objId, t, Seq.fill(n)(c.u1() != 0), null, null, null, null, null, null, null)
      case Byte => PrimArrayEv(objId, t, null, c.bytes(n).toSeq, null, null, null, null, null, null)
      case Char => PrimArrayEv(objId, t, null, null, Seq.fill(n)(c.u2()), null, null, null, null, null)
      case Short => PrimArrayEv(objId, t, null, null, null, Seq.fill(n)(c.u2().toShort), null, null, null, null)
      case Int => PrimArrayEv(objId, t, null, null, null, null, Seq.fill(n)(c.i4()), null, null, null)
      case Long => PrimArrayEv(objId, t, null, null, null, null, null, Seq.fill(n)(c.u8()), null, null)
      case Float => PrimArrayEv(objId, t, null, null, null, null, null, null,
        Seq.fill(n)(java.lang.Float.intBitsToFloat(c.i4())), null)
      case Double => PrimArrayEv(objId, t, null, null, null, null, null, null, null,
        Seq.fill(n)(java.lang.Double.longBitsToDouble(c.u8())))
      case other => throw new IllegalStateException(s"bad primitive array element type $other")
    }
  }

  private def parseClassDump(c: Cursor, idSize: Int): ClassDumpInfo = {
    val classObjId = c.id(idSize)
    c.u4() // stack trace serial
    val superId = c.id(idSize)
    val loaderId = c.id(idSize)
    c.id(idSize); c.id(idSize) // signers, protection domain
    c.id(idSize); c.id(idSize) // reserved
    val instanceSize = c.u4().toInt
    val cpCount = c.u2()
    var i = 0
    while (i < cpCount) {
      c.u2() // cp index
      val t = c.u1()
      c.skip(BasicType.size(t, idSize))
      i += 1
    }
    val staticCount = c.u2()
    val statics = (0 until staticCount).map { _ =>
      val nameId = c.id(idSize)
      val t = c.u1()
      t match {
        case BasicType.Object =>
          StaticField(nameId, t, "", c.id(idSize))
        case _ =>
          StaticField(nameId, t, readPrimAsString(c, t), 0L)
      }
    }
    val fieldCount = c.u2()
    val fields = (0 until fieldCount).map(_ => FieldDesc(c.id(idSize), c.u1()))
    ClassDumpInfo(classObjId, superId, instanceSize, statics, fields, loaderId)
  }

  /** Render one primitive value as a string (static-field table;
    * mirrors reference format_field_value at dump_to_parquet.rs:176).
    */
  private def readPrimAsString(c: Cursor, t: Int): String = {
    import BasicType._
    t match {
      case Boolean => (c.u1() != 0).toString
      case Char => c.u2().toString
      case Float => java.lang.Float.intBitsToFloat(c.i4()).toString
      case Double => java.lang.Double.longBitsToDouble(c.u8()).toString
      case Byte => c.bytes(1)(0).toString
      case Short => c.u2().toShort.toString
      case Int => c.i4().toString
      case Long => c.u8().toString
      case other => throw new IllegalStateException(s"bad static field type $other")
    }
  }

  /** Decode one instance's field bytes against a hierarchy layout
    * (class's own fields first, then superclass chain — the HPROF
    * instance-dump value order). Returns JVM-boxed values aligned
    * with the layout (ClassTableWriter.addRow's input).
    */
  def decodeInstance(fields: Array[Byte], idSize: Int, layout: Seq[LayoutField]): Seq[Any] = {
    import BasicType._
    val c = new Cursor(fields, 0)
    layout.map { f =>
      f.typeTag match {
        case Object => c.id(idSize)
        case Boolean => c.u1() != 0
        case Char => c.u2()
        case Float => java.lang.Float.intBitsToFloat(c.i4())
        case Double => java.lang.Double.longBitsToDouble(c.u8())
        case Byte => c.bytes(1)(0)
        case Short => c.u2().toShort
        case Int => c.i4()
        case Long => c.u8()
      }
    }
  }
}
