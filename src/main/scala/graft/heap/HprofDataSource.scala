package graft.heap

import HprofModel._
import HprofParser.SubVisitor

import org.apache.spark.sql.SparkSession
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

/** DataSource V2 for HPROF heap dumps:
  * `spark.read.format("hprof").load("/path/dump.hprof")` yields one
  * row per heap object (instances, object arrays, primitive arrays,
  * classes) with its resolved type name and payload size.
  *
  * A thin view over the export's read path (SURVEY.md §2.A3):
  * planning is `HeapDump`'s driver-side metadata read
  * ([[HprofReader.metadata]]: the 9-byte record-header walk, the only
  * sequential part of the format, and the class names); each input
  * partition is one of `HeapDump`'s segment slices
  * ([[SegmentScan.slices]]), read by the same scan loop
  * ([[SegmentScan]]) and named by the same rule as `_object_index`
  * ([[HeapIndex.kindAndType]]) — no driver materialization, no
  * shuffle. Column pruning and `kind`/`type_name` filters are pushed
  * into the reader.
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

/** One slice of heap-segment records ([[SegmentScan.slices]]). */
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
    private val bytes = meta.segments.map(_.bodyLength).sum
    override def sizeInBytes(): java.util.OptionalLong = java.util.OptionalLong.of(bytes)
    override def numRows(): java.util.OptionalLong = java.util.OptionalLong.empty()
  }

  /** The export's driver-side metadata read, once per scan: partition
    * planning and the reader factory share it, so the sequential
    * header walk does not run twice per query.
    */
  private lazy val meta: HprofMetadata = HeapIO.withReader(path)(_.metadata())

  override def planInputPartitions(): Array[InputPartition] =
    SegmentScan.slices(SparkSession.active, meta.segments)
      .map(s => HprofSegmentsPartition(s, meta.header.idSize): InputPartition).toArray

  // class names are class-count sized: the map rides to executors
  // inside the (serialized) factory
  override def createReaderFactory(): PartitionReaderFactory =
    new HprofReaderFactory(path, meta.classNames, required, pushed)
}

final class HprofReaderFactory(path: String, classNames: Map[Long, String],
    required: StructType, pushed: Array[Filter]) extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[HprofSegmentsPartition]
    new HprofPartitionReader(path, p, classNames, required, pushed)
  }
}

/** Scans its segment slice with [[SegmentScan]], emitting one row per
  * object sub-record, named by the export's rule
  * ([[HeapIndex.kindAndType]]) and projected to the pruned schema.
  */
final class HprofPartitionReader(path: String, part: HprofSegmentsPartition,
    classNames: Map[Long, String], required: StructType,
    pushed: Array[Filter] = Array.empty)
    extends PartitionReader[InternalRow] {

  // conjunction of the pushed kind / type_name constraints, evaluated
  // BEFORE a row (or its strings) is built; None = unconstrained
  private def allowed(column: String): Option[Set[String]] = pushed.collect {
    case EqualTo(`column`, v: String) => Set(v)
    case In(`column`, vs) => vs.map(_.asInstanceOf[String]).toSet
  }.reduceOption(_ intersect _)
  private val kindAllow = allowed("kind")
  private val typeAllow = allowed("type_name")

  // column indexes of the pruned schema within the full schema
  private val proj: Array[Int] =
    required.fieldNames.map(HprofObjectsTable.schema.fieldIndex)

  private val rows = new SegmentScan[InternalRow](path, part.idSize, part.ptrs, buf => new SubVisitor {
    private def add(ev: AnyRef, objId: Long, nBytes: => Long, nElems: => Any): Unit = {
      val (kind, typeName) = HeapIndex.kindAndType(ev, classNames)
      if (kindAllow.forall(_.contains(kind)) && typeAllow.forall(_.contains(typeName))) {
        val full = Array[Any](objId, UTF8String.fromString(kind), UTF8String.fromString(typeName), nBytes, nElems)
        buf += new GenericInternalRow(proj.map(full))
      }
    }
    override def onInstance(ev: InstanceEv): Unit =
      add(ev, ev.objId, ev.fields.length.toLong, null)
    override def onObjArray(ev: ObjArrayEv): Unit =
      add(ev, ev.objId, ev.elements.length.toLong * part.idSize, ev.elements.length.toLong)
    override def onPrimArray(ev: PrimArrayEv): Unit = {
      lazy val n = Seq(ev.booleans, ev.bytes, ev.chars, ev.shorts, ev.ints,
        ev.longs, ev.floats, ev.doubles).find(_ != null).map(_.length).getOrElse(0).toLong
      add(ev, ev.objId, n * BasicType.size(ev.elemType, part.idSize), n)
    }
    override def onClassDump(ev: ClassDumpInfo): Unit =
      add(ev, ev.classObjId, ev.instanceSize.toLong, null)
  })

  private var current: InternalRow = _
  override def next(): Boolean =
    if (rows.hasNext) { current = rows.next(); true } else false
  override def get(): InternalRow = current
  override def close(): Unit = rows.close()
}
