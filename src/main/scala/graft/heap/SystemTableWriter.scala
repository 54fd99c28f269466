package graft.heap

import HprofModel._
import HprofParser.SubVisitor
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.Group
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.schema.{LogicalTypeAnnotation, MessageType, Types}
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
import scala.collection.mutable

/** Executor-side multiplexed writer for the SYSTEM tables
  * (`_object_index`, `_object_arrays`, `_gc_roots`, the 8
  * `_primitive_arrays_*`): every table is written DURING the single
  * pass-2 segment scan, so the robo export reads the dump exactly
  * once more after pass-1 — the same two-pass total as the
  * reference's rayon pipeline (dump_to_parquet.rs) — instead of one
  * full re-parse per system table family.
  *
  * Schemas are byte-compatible with what Spark's own parquet writer
  * produced for these tables before (required INT64 ids, optional
  * UTF8 strings, 3-level LIST groups named values/list/element,
  * int(8)/int(16) annotations for byte/short elements), so every
  * reader — Spark, DuckDB oracles, external glob readers — sees
  * identical types.
  *
  * Task-retry safety: file names are deterministic per partition but
  * each attempt stages at an attempt-unique temp name and renames
  * into place on commit (ClassTableWriter.AtomicGroupWriter), so a
  * re-executed task rewrites the same files rather than duplicating
  * rows AND a concurrent duplicate attempt (speculation, zombie after
  * stage retry) can never interleave bytes into a committed file.
  */
final class SystemTableWriter(
    outDir: String,
    partitionId: Int,
    classNames: Map[Long, String]) {

  import SystemTableWriter._

  private val conf = new Configuration()

  private def open(table: String, schema: MessageType): (ClassTableWriter.AtomicGroupWriter, SimpleGroupFactory) =
    (new ClassTableWriter.AtomicGroupWriter(
      new Path(f"$outDir/$table/part-$partitionId%05d.parquet"), schema, conf),
      new SimpleGroupFactory(schema))

  private val objIndex = open("_object_index", objectIndexSchema)
  private val objArrays = open("_object_arrays", objectArraysSchema)
  private val gcRoots = open("_gc_roots", gcRootsSchema)
  private val primByTag: Map[Int, (ClassTableWriter.AtomicGroupWriter, SimpleGroupFactory)] =
    primitiveTags.map { tag =>
      tag -> open(s"_primitive_arrays_${BasicType.javaName(tag)}", primArraySchema(tag))
    }.toMap

  /** The `_object_index` row of an object: its type name under the one
    * naming rule, with a `class ` prefix for a class.
    */
  private def index(objId: Long, ev: AnyRef): Unit = {
    val (kind, typeName) = HeapIndex.kindAndType(ev, classNames)
    val g = objIndex._2.newGroup()
    g.add(0, objId)
    g.add(1, if (kind == "class") s"class $typeName" else typeName)
    objIndex._1.write(g)
  }

  /** The scan's visitor: every sub-record goes to its system tables, and
    * each instance also to `instances`, for the class tables.
    */
  def visitor(instances: mutable.Buffer[InstanceEv]): SubVisitor = new SubVisitor {
    override def onInstance(ev: InstanceEv): Unit = { index(ev.objId, ev); instances += ev }

    override def onClassDump(cd: ClassDumpInfo): Unit = index(cd.classObjId, cd)

    override def onObjArray(ev: ObjArrayEv): Unit = {
      index(ev.objId, ev)
      val g = objArrays._2.newGroup()
      g.add(0, ev.objId)
      g.add(1, classNames.getOrElse(ev.arrayClassObjId, "(unresolved)"))
      val list = g.addGroup(2)
      ev.elements.foreach(e => list.addGroup("list").add("element", e))
      objArrays._1.write(g)
    }

    override def onPrimArray(ev: PrimArrayEv): Unit = {
      index(ev.objId, ev)
      val (w, f) = primByTag(ev.elemType)
      val g = f.newGroup()
      g.add(0, ev.objId)
      val list = g.addGroup(1)
      def el: Group = list.addGroup("list")
      ev.elemType match {
        case BasicType.Boolean => ev.booleans.foreach(v => el.add("element", v))
        case BasicType.Byte => ev.bytes.foreach(v => el.add("element", v.toInt))
        case BasicType.Char => ev.chars.foreach(v => el.add("element", v))
        case BasicType.Short => ev.shorts.foreach(v => el.add("element", v.toInt))
        case BasicType.Int => ev.ints.foreach(v => el.add("element", v))
        case BasicType.Long => ev.longs.foreach(v => el.add("element", v))
        case BasicType.Float => ev.floats.foreach(v => el.add("element", v))
        case _ => ev.doubles.foreach(v => el.add("element", v))
      }
      w.write(g)
    }

    override def onGcRoot(ev: GcRootEv): Unit = {
      val g = gcRoots._2.newGroup()
      g.add(0, ev.rootType)
      g.add(1, ev.objId)
      ev.threadSerial.foreach(v => g.add(2, v))
      ev.frameIndex.foreach(v => g.add(3, v))
      gcRoots._1.write(g)
    }
  }

  private def allWriters: Seq[ClassTableWriter.AtomicGroupWriter] =
    Seq(objIndex._1, objArrays._1, gcRoots._1) ++ primByTag.values.map(_._1)

  /** Commit every table file into its deterministic final name. */
  def close(): Unit = allWriters.foreach(_.commit())

  /** Drop this attempt's temp files without touching committed ones. */
  def abort(): Unit = allWriters.foreach(_.abort())
}

object SystemTableWriter {
  private def utf8 = LogicalTypeAnnotation.stringType()

  private[heap] val primitiveTags: Seq[Int] = Seq(
    BasicType.Boolean, BasicType.Byte, BasicType.Char, BasicType.Short,
    BasicType.Int, BasicType.Long, BasicType.Float, BasicType.Double)

  /** Table directories this writer owns — cleaned before an export so
    * stale part files from a wider previous run can't survive.
    */
  val tableNames: Seq[String] =
    Seq("_object_index", "_object_arrays", "_gc_roots") ++
      primitiveTags.map(tag => s"_primitive_arrays_${BasicType.javaName(tag)}")

  def objectIndexSchema: MessageType = Types.buildMessage()
    .addField(Types.required(INT64).named("obj_id"))
    .addField(Types.optional(BINARY).as(utf8).named("type_name"))
    .named("spark_schema")

  def objectArraysSchema: MessageType = Types.buildMessage()
    .addField(Types.required(INT64).named("obj_id"))
    .addField(Types.optional(BINARY).as(utf8).named("class_name"))
    .addField(Types.optionalList()
      .setElementType(Types.required(INT64).named("element")).named("elements"))
    .named("spark_schema")

  def gcRootsSchema: MessageType = Types.buildMessage()
    .addField(Types.optional(BINARY).as(utf8).named("root_type"))
    .addField(Types.required(INT64).named("obj_id"))
    .addField(Types.optional(INT32).named("thread_serial"))
    .addField(Types.optional(INT32).named("frame_index"))
    .named("spark_schema")

  def primArraySchema(tag: Int): MessageType = {
    val elem = tag match {
      case BasicType.Boolean => Types.required(BOOLEAN)
      case BasicType.Byte => Types.required(INT32).as(LogicalTypeAnnotation.intType(8, true))
      case BasicType.Char | BasicType.Int => Types.required(INT32)
      case BasicType.Short => Types.required(INT32).as(LogicalTypeAnnotation.intType(16, true))
      case BasicType.Long => Types.required(INT64)
      case BasicType.Float => Types.required(FLOAT)
      case _ => Types.required(DOUBLE)
    }
    Types.buildMessage()
      .addField(Types.required(INT64).named("obj_id"))
      .addField(Types.optionalList()
        .setElementType(elem.named("element")).named("values"))
      .named("spark_schema")
  }
}
