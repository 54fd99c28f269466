package graft.heap

import HprofModel._
import HprofParser.SubVisitor

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder, Statistics, SupportsPushDownFilters, SupportsPushDownRequiredColumns, SupportsReportStatistics}
import org.apache.spark.sql.sources.{DataSourceRegister, EqualTo, Filter, In}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

import java.util.{Map => JMap}
import scala.collection.mutable

/** DataSource V2 for HPROF heap dumps:
  * `spark.read.format("hprof").load("/path/dump.hprof")` yields one
  * row per heap object (instances, object arrays, primitive arrays,
  * classes) with its resolved type name and payload size.
  *
  * Spark-native ingestion shape (SURVEY.md §2.A3): planning walks the
  * 9-byte record headers once on the driver (the only sequential part
  * of the format) and resolves class names from the metadata records;
  * heap segments are then bin-packed into byte-balanced
  * `InputPartition`s, so a 100 GB dump parses with genuine cluster
  * parallelism — no driver materialization, no shuffle. Column pruning
  * is pushed into the reader.
  *
  * The richer per-class tables (typed field columns etc.) remain on
  * `HeapDump`/`HeapTables`; this source is the fast whole-heap object
  * stream the reference exposes as its `_object_index`.
  */
final class HprofDataSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "hprof"

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    HprofObjectsTable.schema

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: JMap[String, String]): Table = {
    // the object-stream schema is fixed by the format: a differing
    // user .schema(...) must fail loudly, not be silently discarded
    require(schema == null || schema == HprofObjectsTable.schema,
      s"hprof source has a fixed schema ${HprofObjectsTable.schema.simpleString}; " +
        s"remove the .schema(...) call (got ${schema.simpleString})")
    require(properties.get("paths") == null,
      "hprof source reads exactly one dump: multi-path load(...) is unsupported")
    val path = properties.get("path")
    require(path != null && path.nonEmpty,
      "hprof source needs a path: spark.read.format(\"hprof\").load(path)")
    new HprofObjectsTable(path)
  }
}

object HprofObjectsTable {
  val schema: StructType = StructType(Seq(
    StructField("obj_id", LongType, nullable = false),
    StructField("kind", StringType, nullable = false),
    StructField("type_name", StringType, nullable = true),
    StructField("n_bytes", LongType, nullable = false),
    StructField("n_elems", LongType, nullable = true)))
}

final class HprofObjectsTable(path: String) extends Table with SupportsRead {
  override def name(): String = s"hprof:`$path`"
  override def schema(): StructType = HprofObjectsTable.schema
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new HprofScanBuilder(path)
}

final class HprofScanBuilder(path: String)
    extends ScanBuilder with SupportsPushDownRequiredColumns
    with SupportsPushDownFilters {
  private var required: StructType = HprofObjectsTable.schema
  private var pushed: Array[Filter] = Array.empty
  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  /** `kind`/`type_name` equality and IN land IN THE READER, which
    * then skips row construction (and its string materialization) for
    * excluded sub-record kinds — for a `kind = 'instance'` query over
    * a dump that is mostly primitive arrays, most of the row-build
    * work disappears. Everything else stays a post-scan Filter.
    */
  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    val (accepted, rejected) = filters.partition {
      case EqualTo(a, _: String) =>
        a == "kind" || a == "type_name"
      case In(a, vs) =>
        (a == "kind" || a == "type_name") && vs.forall(_.isInstanceOf[String])
      case _ => false
    }
    pushed = accepted
    rejected
  }
  override def pushedFilters(): Array[Filter] = pushed
  override def build(): Scan = new HprofScan(path, required, pushed)
}

/** One byte-balanced bundle of heap-segment records. */
final case class HprofSegmentsPartition(
    ptrs: Seq[RecordPtr], idSize: Int) extends InputPartition

final class HprofScan(path: String, required: StructType,
    pushed: Array[Filter]) extends Scan with Batch with SupportsReportStatistics {
  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  override def description(): String =
    s"hprof objects of $path, PushedFilters: [${pushed.mkString(", ")}]"

  /** Planner-visible size estimate: total heap-segment bytes. Lets
    * Catalyst decide broadcast vs shuffle when hprof tables join
    * against other sources.
    */
  override def estimateStatistics(): Statistics = new Statistics {
    private val bytes = indexed._2
      .filter(r => Tag.isHeapSegment(r.tag)).map(_.bodyLength).sum
    override def sizeInBytes(): java.util.OptionalLong = java.util.OptionalLong.of(bytes)
    override def numRows(): java.util.OptionalLong = java.util.OptionalLong.empty()
  }

  /** One driver-side pass shared by partition planning AND the reader
    * factory: the sequential header walk is the format's intrinsic
    * bottleneck, so it must not run twice per query. Metadata records
    * (Utf8/LoadClass) are parsed in the same open-handle pass.
    */
  private lazy val indexed: (HprofParser.Header, Vector[RecordPtr], Map[Long, String]) =
    HeapIO.withReader(path) { rd =>
      val (header, records) = rd.index()
      val idSz = header.idSize
      val utf8 = records.filter(_.tag == Tag.Utf8)
        .map(r => HprofParser.parseUtf8(rd.body(r), idSz)).toMap
      val classNames = records.filter(_.tag == Tag.LoadClass)
        .map(lc => HprofParser.parseLoadClass(rd.body(lc), idSz))
        .map(lc => lc.classObjId ->
          utf8.getOrElse(lc.nameId, "(missing utf8)").replace('/', '.')).toMap
      (header, records, classNames)
    }

  override def planInputPartitions(): Array[InputPartition] = {
    val (header, records, _) = indexed
    val segs = records.filter(r => Tag.isHeapSegment(r.tag))
    if (segs.isEmpty) return Array.empty
    // byte-balanced bin packing into ~cluster-parallelism partitions
    val slots = math.max(1, org.apache.spark.sql.SparkSession.active
      .sparkContext.defaultParallelism)
    val targetBytes = math.max(1L, segs.map(_.bodyLength).sum / slots)
    val bins = mutable.ArrayBuffer(mutable.ArrayBuffer.empty[RecordPtr])
    var binBytes = 0L
    segs.foreach { r =>
      if (binBytes >= targetBytes && bins.last.nonEmpty) {
        bins += mutable.ArrayBuffer.empty[RecordPtr]
        binBytes = 0L
      }
      bins.last += r
      binBytes += r.bodyLength
    }
    bins.filter(_.nonEmpty)
      .map(b => HprofSegmentsPartition(b.toSeq, header.idSize): InputPartition)
      .toArray
  }

  override def createReaderFactory(): PartitionReaderFactory = {
    // class-name resolution: metadata records are class-count sized, so
    // the map rides to executors inside the (serialized) factory
    val (_, _, classNames) = indexed
    new HprofReaderFactory(path, classNames, required, pushed)
  }
}

final class HprofReaderFactory(path: String, classNames: Map[Long, String],
    required: StructType, pushed: Array[Filter]) extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[HprofSegmentsPartition]
    new HprofPartitionReader(path, p, classNames, required, pushed)
  }
}

/** Parses its segment bundle with one open file handle, emitting one
  * row per object sub-record, projected to the pruned schema.
  */
final class HprofPartitionReader(path: String, part: HprofSegmentsPartition,
    classNames: Map[Long, String], required: StructType,
    pushed: Array[Filter] = Array.empty)
    extends PartitionReader[InternalRow] {

  // conjunction of the pushed kind / type_name constraints, evaluated
  // BEFORE a row (or its strings) is built; None = unconstrained
  private val kindAllow: Option[Set[String]] = {
    val sets = pushed.collect {
      case EqualTo("kind", v: String) => Set(v)
      case In("kind", vs) => vs.map(_.asInstanceOf[String]).toSet
    }
    if (sets.isEmpty) None else Some(sets.reduce(_ intersect _))
  }
  private val typeAllow: Option[Set[String]] = {
    val sets = pushed.collect {
      case EqualTo("type_name", v: String) => Set(v)
      case In("type_name", vs) => vs.map(_.asInstanceOf[String]).toSet
    }
    if (sets.isEmpty) None else Some(sets.reduce(_ intersect _))
  }
  private def keep(kind: String, typeName: => String): Boolean =
    kindAllow.forall(_.contains(kind)) && typeAllow.forall(_.contains(typeName))

  // column indexes of the pruned schema within the full schema
  private val proj: Array[Int] =
    required.fieldNames.map(HprofObjectsTable.schema.fieldIndex)

  private def className(id: Long): String = classNames.getOrElse(id, "(unresolved)")
  private def arrayName(id: Long): String =
    HeapIndex.normalizeArrayName(className(id))

  // ONE open handle for the whole partition
  private val in = new HprofReader(path)

  private val rows: Iterator[InternalRow] = {
    val idSz = part.idSize
    part.ptrs.iterator.flatMap { r =>
      val buf = mutable.ArrayBuffer.empty[Array[Any]]
      HprofParser.scanSegment(in.body(r), idSz, new SubVisitor {
        override def onInstance(ev: InstanceEv): Unit =
          if (keep("instance", className(ev.classObjId)))
            buf += Array[Any](ev.objId, "instance", className(ev.classObjId),
              ev.fields.length.toLong, null)
        override def onObjArray(ev: ObjArrayEv): Unit =
          if (keep("object_array", arrayName(ev.arrayClassObjId)))
            buf += Array[Any](ev.objId, "object_array", arrayName(ev.arrayClassObjId),
              ev.elements.length.toLong * idSz, ev.elements.length.toLong)
        override def onPrimArray(ev: PrimArrayEv): Unit =
          if (keep("primitive_array", BasicType.javaName(ev.elemType) + "[]")) {
            val n = Seq(ev.booleans, ev.bytes, ev.chars, ev.shorts, ev.ints,
              ev.longs, ev.floats, ev.doubles).find(_ != null).map(_.length).getOrElse(0)
            buf += Array[Any](ev.objId,
              "primitive_array", BasicType.javaName(ev.elemType) + "[]",
              n.toLong * BasicType.size(ev.elemType, idSz), n.toLong)
          }
        override def onClassDump(ev: ClassDumpInfo): Unit =
          if (keep("class", className(ev.classObjId)))
            buf += Array[Any](ev.classObjId, "class", className(ev.classObjId),
              ev.instanceSize.toLong, null)
      })
      buf.iterator.map { full =>
        new GenericInternalRow(proj.map { i =>
          full(i) match {
            case s: String => UTF8String.fromString(s)
            case v => v
          }
        }): InternalRow
      }
    }
  }

  private var current: InternalRow = _
  override def next(): Boolean =
    if (rows.hasNext) { current = rows.next(); true } else false
  override def get(): InternalRow = current
  override def close(): Unit = in.close()
}
