package graft.heap

import HprofModel._
import HprofParser.SubVisitor
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.TaskContext
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{coalesce, col, lit, when}
import java.nio.charset.StandardCharsets.UTF_8
import scala.collection.mutable
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration
import scala.reflect.ClassTag
import scala.util.matching.Regex

/** File access through the Hadoop FileSystem API so the same code
  * path serves file:// in tests and hdfs://;s3:// on a cluster.
  */
object HeapIO {
  def withFs[T](pathStr: String)(f: (FileSystem, Path) => T): T = {
    val p = new Path(pathStr)
    f(p.getFileSystem(new Configuration()), p)
  }

  def withReader[T](pathStr: String)(f: HprofReader => T): T = {
    val r = new HprofReader(pathStr)
    try f(r) finally r.close()
  }
}

/** ONE open handle on a dump for a sequence of reads — a per-record
  * open/seek/close would cost more than the parse, above all for the
  * many small metadata records and on remote filesystems. Every reader
  * of the format goes through here: the driver's metadata read and the
  * executors' segment reads.
  */
final class HprofReader(pathStr: String) extends java.io.Closeable {
  private val path = new Path(pathStr)
  private val fs = path.getFileSystem(new Configuration())
  private val in = fs.open(path)

  private def read(offset: Long, length: Int): Array[Byte] = {
    val buf = new Array[Byte](length)
    in.readFully(offset, buf)
    buf
  }

  /** The driver's one read of a dump before any segment is parsed:
    * the header, the sequential 9-byte record-header walk, and the
    * bodies of the Utf8, LoadClass, StackFrame and StackTrace records.
    */
  def metadata(): HprofMetadata = {
    val len = fs.getFileStatus(path).getLen
    val header = HprofParser.parseHeader(read(0L, math.min(64L, len).toInt))
    val records = HprofParser.indexRecords(read, len, header.bodyStart)
    def parse[T](tag: Int)(f: (Array[Byte], Int) => T): Vector[T] =
      records.filter(_.tag == tag).map(r => f(body(r), header.idSize))
    HprofMetadata(header, records,
      parse(Tag.Utf8)(HprofParser.parseUtf8).toMap,
      parse(Tag.LoadClass)(HprofParser.parseLoadClass),
      parse(Tag.StackFrame)(HprofParser.parseStackFrame),
      parse(Tag.StackTrace)(HprofParser.parseStackTrace))
  }

  def body(r: RecordPtr): Array[Byte] = {
    require(r.bodyLength <= Int.MaxValue,
      s"record body ${r.bodyLength} exceeds 2 GiB buffer limit (tag ${r.tag})")
    read(r.bodyOffset, r.bodyLength.toInt)
  }

  override def close(): Unit = in.close()
}

/** A dump's metadata (SURVEY.md §2.A1-A3), sized by class and method
  * counts, not object counts, so it lives on the driver. The export's
  * pass 1 and the `format("hprof")` scan both start from it.
  */
final case class HprofMetadata(
    header: HprofParser.Header,
    records: Vector[RecordPtr],
    utf8: Map[Long, String],
    loads: Vector[LoadClassInfo],
    stackFrames: Vector[StackFrameRec],
    stackTraces: Vector[StackTraceRec]) {
  def segments: Vector[RecordPtr] = records.filter(r => Tag.isHeapSegment(r.tag))

  def string(id: Long): String = utf8.getOrElse(id, "(missing utf8)")

  /** The one class-name rule: a LOAD CLASS record's Utf8 name, '/' → '.'. */
  private def loadedName(lc: LoadClassInfo): String = string(lc.nameId).replace('/', '.')

  /** Class object id -> name: what every object is named by. */
  lazy val classNames: Map[Long, String] = loads.map(lc => lc.classObjId -> loadedName(lc)).toMap

  /** Class serial -> name, for stack frames. */
  lazy val classSerialNames: Map[Int, String] = loads.map(lc => lc.serial -> loadedName(lc)).toMap
}

/** The one scan loop over heap segments: one open reader for a slice,
  * each segment parsed by `HprofParser.scanSegment` with the visitor
  * `visit` builds over that segment's output buffer. Output streams one
  * segment at a time. The reader closes after the last segment, or on
  * `close()` — which a Spark task's completion also calls, so a
  * consumer that stops early (`take`) leaks no handle.
  */
final class SegmentScan[T](path: String, idSize: Int, slice: Seq[RecordPtr],
    visit: mutable.Buffer[T] => SubVisitor) extends Iterator[T] with java.io.Closeable {
  private val segments = slice.iterator
  private var reader: HprofReader = _
  private var out: Iterator[T] = Iterator.empty
  Option(TaskContext.get()).foreach(_.addTaskCompletionListener[Unit](_ => close()))

  override def hasNext: Boolean = {
    while (!out.hasNext && segments.hasNext) {
      if (reader == null) reader = new HprofReader(path)
      val buf = mutable.ArrayBuffer.empty[T]
      HprofParser.scanSegment(reader.body(segments.next()), idSize, visit(buf))
      out = buf.iterator
    }
    if (!out.hasNext) close()
    out.hasNext
  }

  override def next(): T = if (hasNext) out.next() else Iterator.empty.next()

  override def close(): Unit = if (reader != null) { reader.close(); reader = null }
}

object SegmentScan {
  /** The one segment split: `segs` as contiguous slices, one per scan
    * task. One per core, but none that reads less than
    * `spark.sql.files.openCostInBytes` (Spark's per-file scan charge,
    * 4 MB by default). An export task writes its own file of every
    * system table, and each file costs a scan task on every later read,
    * so a 0.5 MB dump parses in one task and writes one file per table;
    * a dump of cores × 4 MB or more keeps every core. The cut points are
    * `SparkContext.parallelize`'s.
    */
  def slices(spark: SparkSession, segs: Vector[RecordPtr]): Seq[Vector[RecordPtr]] = {
    val openCost = math.max(1L, spark.sessionState.conf.filesOpenCostInBytes)
    val byBytes = (segs.iterator.map(_.bodyLength).sum + openCost - 1) / openCost
    val n = math.max(1L, Seq(segs.size.toLong, spark.sparkContext.defaultParallelism.toLong, byBytes).min)
    (0L until n).map(i => segs.slice((i * segs.size / n).toInt, ((i + 1) * segs.size / n).toInt))
  }
}

/** Driver-side class index built in pass 1 (SURVEY.md §2.A1-A3): every
  * class with a CLASS DUMP, named by [[HprofMetadata.classNames]], with
  * its full instance layout — same shape as the reference's HprofIndex
  * (hprof_index.rs:34) but the per-object maps are left distributed.
  */
final case class ClassInfo(
    objId: Long, name: String, superId: Long, instanceSize: Int,
    staticFields: Seq[StaticField], ownFields: Seq[FieldDesc],
    layout: Seq[LayoutField], loaderId: Long = 0L)

final class HeapIndex(val classes: Map[Long, ClassInfo])

object HeapIndex {
  def normalizeArrayName(name: String): String =
    if (name.startsWith("[L") && name.endsWith(";")) name.substring(2, name.length - 1) + "[]"
    else if (name.endsWith("[]")) name
    else name + "[]"

  /** The one object-naming rule: a heap sub-record's (kind, type_name)
    * under `classNames` ([[HprofMetadata.classNames]]). The reference
    * appends "[]" to an array class's name (dump_to_parquet.rs:317); we
    * additionally normalize JVM descriptor-style array class names
    * ("[Ljava.lang.String;"). A class id no LOAD CLASS record names is
    * "(unresolved)".
    */
  def kindAndType(ev: AnyRef, classNames: Map[Long, String]): (String, String) = {
    def name(classObjId: Long): String = classNames.getOrElse(classObjId, "(unresolved)")
    ev match {
      case e: InstanceEv => ("instance", name(e.classObjId))
      case e: ObjArrayEv => ("object_array", normalizeArrayName(name(e.arrayClassObjId)))
      case e: PrimArrayEv => ("primitive_array", s"${BasicType.javaName(e.elemType)}[]")
      case e: ClassDumpInfo => ("class", name(e.classObjId))
    }
  }

  /** Full-hierarchy instance layout: own fields first, then the super
    * chain (HPROF instance-dump value order). Shadowed names get a
    * `Declaring@name` prefix (reference util.rs:64-86).
    */
  def buildLayout(classId: Long, dumps: Map[Long, ClassDumpInfo], meta: HprofMetadata): Seq[LayoutField] = {
    val out = mutable.ArrayBuffer.empty[LayoutField]
    val counts = mutable.Map.empty[String, Int]
    val visited = mutable.Set.empty[Long] // corrupt dumps can cycle
    var cur = classId
    while (cur != 0 && dumps.contains(cur) && visited.add(cur)) {
      val cd = dumps(cur)
      val declaring = meta.classNames.getOrElse(cur, "(unresolved)")
      val shortDecl = declaring.substring(declaring.lastIndexOf('.') + 1)
      cd.instanceFields.foreach { fd =>
        val base = meta.string(fd.nameId)
        val n = counts.getOrElse(base, 0)
        counts(base) = n + 1
        out += LayoutField(if (n == 0) base else s"$shortDecl@$base", fd.typeTag)
      }
      cur = cd.superClassObjId
    }
    out.toSeq
  }
}

/** A parsed HPROF heap dump exposed as Spark DataFrames (SURVEY.md
  * §2.A). Ingestion is two-pass: pass 1 reads the metadata on the
  * driver ([[HprofReader.metadata]]: the 9-byte record-header walk and
  * the string, class-load and stack records) and collects the class
  * dumps in one Spark job; pass 2 (`writeParquet`) parses every heap
  * segment exactly once, fully in parallel — elastic to cluster size,
  * same shape as the reference's rayon parallelism
  * (dump_to_parquet.rs:193) but not bound to one machine. Every segment
  * read goes through [[SegmentScan]] over [[SegmentScan.slices]], the
  * same loop and split as the `format("hprof")` source.
  *
  * The one pass has two output modes. Robo mode (default) keeps object
  * references as bare longs; the id→type view is a join against
  * `_object_index` (SURVEY.md §3 — lazy join beats materializing a
  * string per reference cell). Resolved mode rewrites the written
  * robo tables with STRUCT{id,type} references.
  */
final class HeapDump(spark: SparkSession, path: String) {
  private val meta = HeapIO.withReader(path)(_.metadata())
  val header: HprofParser.Header = meta.header
  val records: Vector[RecordPtr] = meta.records
  val idSize: Int = header.idSize

  /** The heap segments as a scan RDD, one slice per partition. */
  private def sliceRdd: RDD[Vector[RecordPtr]] = {
    val slices = SegmentScan.slices(spark, meta.segments)
    spark.sparkContext.parallelize(slices, slices.size)
  }

  /** Every heap segment scanned on executors with a visitor (pass-1
    * class dumps, `renderObjects`).
    */
  private def scan[T: ClassTag](visit: mutable.Buffer[T] => SubVisitor): RDD[T] = {
    val (p, idSz) = (path, idSize)
    sliceRdd.mapPartitions(_.flatMap(slice => new SegmentScan(p, idSz, slice, visit)))
  }

  /** Pass 1's one Spark job: the class dumps, collected to the driver. */
  val index: HeapIndex = {
    val dumps = scan[ClassDumpInfo] { buf =>
      new SubVisitor { override def onClassDump(cd: ClassDumpInfo): Unit = buf += cd }
    }.collect().map(cd => cd.classObjId -> cd).toMap
    new HeapIndex(dumps.map { case (cid, cd) =>
      cid -> ClassInfo(cid, meta.classNames.getOrElse(cid, "(unresolved)"), cd.superClassObjId,
        cd.instanceSize, cd.staticFields, cd.instanceFields,
        HeapIndex.buildLayout(cid, dumps, meta), cd.loaderObjId)
    })
  }

  private lazy val bcClassNames = spark.sparkContext.broadcast(meta.classNames)

  import spark.implicits._

  // -- A12: top-level record tally ------------------------------------
  def countRecords: DataFrame =
    records.groupBy(r => Tag.name(r.tag)).map { case (k, v) => (k, v.size.toLong) }
      .toSeq.sortBy(-_._2).toDF("record_type", "count")

  // -- A9: class hierarchy (driver-side, tiny) ------------------------
  /** instance_size (the class dump's declared per-instance field
    * bytes) is APPENDED after the original 5-column schema so
    * positional readers of earlier exports keep their prefix.
    */
  def classHierarchy: DataFrame =
    index.classes.values.toSeq.sortBy(_.objId)
      .map { c =>
        val sup = index.classes.get(c.superId)
        (c.objId, c.name,
          if (c.superId == 0) None else Some(c.superId),
          sup.map(_.name), c.loaderId, c.instanceSize)
      }.toDF("class_obj_id", "class_name", "super_class_obj_id",
        "super_class_name", "loader_obj_id", "instance_size")

  // -- A18: per-class field-layout metadata ---------------------------
  /** One row per instance-field slot of every class's FULL layout (own
    * fields then the super chain — the exact decode order of the
    * per-class tables). This is the export-side record of what the
    * parser knew: a robo-mode schema alone cannot tell a long VALUE
    * field from a reference field (both land as BIGINT), so any
    * generic graph analytics over the export — referrer counts,
    * ownership chains — needs `field_type = 'object'` to find the
    * reference columns without hardcoding JDK class shapes.
    */
  def fieldsTable: DataFrame =
    index.classes.values.toSeq.sortBy(_.objId).flatMap { c =>
      c.layout.zipWithIndex.map { case (f, i) =>
        (c.objId, c.name, i, f.name, HprofModel.BasicType.javaName(f.typeTag))
      }
    }.toDF("class_obj_id", "class_name", "slot_idx", "field_name", "field_type")

  // -- A7: static fields (driver-side from class dumps) ---------------
  /** slot_idx = the slot's position in the CLASS DUMP's declaration
    * order — the order `dump-objects` renders statics in, which a
    * reader of the export (the q_heap_render oracle included) cannot
    * otherwise reconstruct from an unordered parquet row set.
    * slot_idx is APPENDED after the reference exporter's 6-column
    * robo schema so positional readers of reference-format exports
    * keep their column prefix (the repo's own readers are by-name).
    */
  def staticFields: DataFrame =
    index.classes.values.toSeq.sortBy(_.objId).flatMap { c =>
      c.staticFields.zipWithIndex.map { case (sf, i) =>
        (c.objId, c.name, meta.string(sf.nameId),
          BasicType.javaName(sf.typeTag), sf.primitive, sf.refId, i)
      }
    }.toDF("class_obj_id", "class_name", "field_name",
      "field_type", "primitive_value", "ref_id", "slot_idx")

  // -- A10: stack frames / traces -------------------------------------
  def stackFrames: DataFrame =
    meta.stackFrames.map { f =>
      (f.frameId,
        meta.classSerialNames.getOrElse(f.classSerial, "(unresolved)"),
        meta.string(f.methodNameId),
        meta.string(f.methodSigId),
        meta.string(f.sourceFileId),
        f.lineNum)
    }.toDF("frame_id", "class_name", "method_name", "method_signature", "source_file", "line_num")

  def stackTraces: DataFrame =
    meta.stackTraces.map(t => (t.serial, t.threadSerial, t.frameIds))
      .toDF("stack_trace_serial", "thread_serial", "frame_ids")

  // -- A13: human-readable object rendering ---------------------------
  /** Behavior-parallel to the reference's `dump-objects`
    * (dump_objects.rs): classes with their statics, instances with
    * decoded fields, object arrays with element ids, primitive arrays
    * with a value preview. References render as hex ids (robo-style).
    */
  def renderObjects(limit: Int): Seq[String] = {
    val classInfo = index.classes.map { case (k, v) =>
      k -> (v.name, v.layout, v.staticFields.map(sf =>
        (meta.string(sf.nameId), sf.typeTag, sf.primitive, sf.refId)))
    }
    val idSz = idSize
    scan[String] { buf =>
      new SubVisitor {
        override def onInstance(ev: InstanceEv): Unit = buf += (classInfo.get(ev.classObjId) match {
          case Some((name, layout, _)) =>
            val vals = HprofParser.decodeInstance(ev.fields, idSz, layout)
            val fields = layout.zip(vals).map { case (f, v) =>
              if (f.typeTag == BasicType.Object) f"${f.name}=0x${v.asInstanceOf[Long]}%x"
              else s"${f.name}=$v"
            }.mkString(", ")
            f"$name@0x${ev.objId}%x {$fields}"
          case None => f"(unresolved)@0x${ev.objId}%x"
        })
        override def onClassDump(cd: ClassDumpInfo): Unit = buf += (classInfo.get(cd.classObjId) match {
          case Some((name, _, statics)) =>
            val sf = statics.map { case (n, t, pv, rid) =>
              if (t == BasicType.Object) f"static $n=0x$rid%x" else s"static $n=$pv"
            }.mkString(", ")
            f"class $name@0x${cd.classObjId}%x {$sf}"
          case None => f"class (unresolved)@0x${cd.classObjId}%x"
        })
        override def onObjArray(ev: ObjArrayEv): Unit = {
          val els = ev.elements.take(8).map(e => f"0x$e%x").mkString(", ")
          val more = if (ev.elements.size > 8) ", ..." else ""
          val elemName = classInfo.get(ev.arrayClassObjId)
            .map(c => HeapIndex.normalizeArrayName(c._1).stripSuffix("[]"))
            .getOrElse("(unresolved)")
          buf += f"$elemName[${ev.elements.size}]@0x${ev.objId}%x [$els$more]"
        }
        override def onPrimArray(ev: PrimArrayEv): Unit = {
          val vals: Seq[Any] = ev.elemType match {
            case BasicType.Boolean => ev.booleans
            case BasicType.Byte => ev.bytes
            case BasicType.Char => ev.chars
            case BasicType.Short => ev.shorts
            case BasicType.Int => ev.ints
            case BasicType.Long => ev.longs
            case BasicType.Float => ev.floats
            case _ => ev.doubles
          }
          val preview = vals.take(8).mkString(", ")
          val more = if (vals.size > 8) ", ..." else ""
          buf += f"${BasicType.javaName(ev.elemType)}[${vals.size}]@0x${ev.objId}%x [$preview$more]"
        }
      }
    }.take(limit).toSeq
  }

  // -- A11: full parquet export ---------------------------------------
  /** Write every table under outDir, one directory per table —
    * the Spark-native equivalent of `dump-objects-to-parquet`
    * (16-way chunking falls out of partition count instead of a
    * writer-thread pool).
    *
    * Both modes share ONE pass 2 (`writeTablesSinglePass`): one job
    * parses every heap segment once, writing the system tables from
    * the scan and the per-class tables from the clustered exchange it
    * feeds, while the index-derived metadata tables are written
    * concurrently.
    *
    * Default is robo mode: references stay bare longs and the id→type
    * view is a lazy join against `_object_index` — at 100 TB that
    * costs the join only for the columns a query actually touches.
    * `resolveRefs = true` is the reference's DEFAULT (non-robo) mode
    * and adds only two steps over the written parquet, never a heap
    * re-parse: `_static_fields` gains `ref_type`, and every class
    * table with reference fields is rewritten with STRUCT{id,type}
    * refs (`HeapTables.resolveRef`, one join per ref column against
    * `_object_index`). The pass writes the robo class tables to a
    * hidden stage directory for that rewrite; tables without
    * reference fields are moved out of it unchanged.
    */
  def writeParquet(outDir: String, resolveRefs: Boolean = false): Unit = {
    import scala.concurrent.ExecutionContext.Implicits.global
    // the metadata tables are driver-built and sized by class count: one
    // writer task each, so each is one file, like a small dump's scan tables
    def w(df: DataFrame, name: String): Unit = save(df.coalesce(1), outDir, name)

    val stage = s"$outDir/${HeapDump.ResolveStage}"
    def dropStage(): Unit = HeapIO.withFs(stage)((fs, p) => { fs.delete(p, true); () })
    dropExistingClassTables(outDir)
    dropStage()
    try {
      // The index-derived metadata tables are KB-sized: their
      // wall-clock is job-launch + commit round-trips, not data.
      // Submit them from worker threads so their latency hides behind
      // the heap-scanning job — concurrent job submission is the
      // supported Spark pattern for independent outputs. Resolved
      // `_static_fields` joins `_object_index`, so it waits for the pass.
      val metadataWrites = Future.sequence(Seq(
        Future(w(classHierarchy, "_class_hierarchy")),
        Future(w(fieldsTable, "_fields")),
        Future(w(stackFrames, "_stack_frames")),
        Future(w(stackTraces, "_stack_traces"))) ++
        (if (resolveRefs) Nil else Seq(Future(w(staticFields, "_static_fields")))))
      // If the scan throws, the background metadata writes must still
      // be drained before surfacing the failure — otherwise they keep
      // running into outDir after the caller has already seen the
      // export fail (orphaned jobs, partially-populated directory).
      try {
        writeTablesSinglePass(outDir, if (resolveRefs) stage else outDir)
        Await.result(metadataWrites, Duration.Inf)
      } catch {
        case scanFailure: Throwable =>
          // Await.ready (not result) so a metadata failure can't mask
          // the scan's own exception; interrupt/timeout here is
          // impossible with Duration.Inf outside of JVM shutdown.
          try Await.ready(metadataWrites, Duration.Inf)
          catch { case _: InterruptedException => Thread.currentThread().interrupt() }
          throw scanFailure
      }
      if (resolveRefs) writeResolved(outDir, stage)
    } finally dropStage()
  }

  /** Pass 2 as ONE job over ONE parse: each segment task writes its
    * slice of the system tables to `outDir` directly (SystemTableWriter
    * side files, deterministic names — retry-safe; `SegmentScan.slices`
    * sizes the tasks by bytes, so a small dump's system tables are one
    * file each) while streaming
    * instance events into the (class, salt) exchange that feeds the
    * clustered per-class writers under `classDir`. Total dump reads:
    * pass-1 metadata + this — the same two-pass budget as the
    * reference's rayon pipeline.
    */
  private def writeTablesSinglePass(outDir: String, classDir: String): Unit = {
    HeapIO.withFs(outDir) { (fs, p) =>
      SystemTableWriter.tableNames.foreach { t =>
        val tp = new Path(p, t)
        if (fs.exists(tp)) fs.delete(tp, true)
      }
    }
    val names = bcClassNames
    val (p, idSz) = (path, idSize)
    val evRdd: RDD[InstanceEv] = sliceRdd.mapPartitionsWithIndex { (pid, slices) =>
      val writers = new SystemTableWriter(outDir, pid, names.value)
      try {
        val instances = slices.flatMap(s => new SegmentScan(p, idSz, s, writers.visitor)).toVector
        writers.close()
        instances.iterator
      } catch {
        case e: Throwable => writers.abort(); throw e
      }
    }
    writeClassTables(classDir, evRdd)
  }

  /** Per-class tables from the pass's instance stream: hash-cluster by
    * (class, salt) → class-sorted partitions → executor-side parquet
    * writers (ClassTableWriter). Read volume is O(heap) regardless of
    * class count, and the job count does not depend on it.
    *
    * The salt is SIZE-ADAPTIVE, assigned map-side from a per-task
    * running count: a class contributes one salt bucket per
    * `RowsPerBucket` rows it has IN THAT TASK (capped at
    * `SaltBuckets`). Small classes — the overwhelming majority of a
    * real dump's ~10k classes — land in a single bucket and produce
    * one file; only classes that are actually big (java.lang.String)
    * spread across up to `SaltBuckets` writer tasks. A uniform salt
    * costs classes × salt parquet footers (measured 6× slower on the
    * 200-class bench dump); per-class pre-counts would cost an extra
    * full parse. Zero extra passes, adaptive, deterministic table
    * CONTENT (file boundaries vary with partitioning, row data does
    * not).
    */
  private def writeClassTables(classDir: String, events: RDD[InstanceEv]): Unit = {
    val tables: Map[Long, (String, Seq[LayoutField])] =
      index.classes.map { case (cid, ci) => cid -> (HeapDump.tableName(ci), ci.layout) }
    val bcTables = spark.sparkContext.broadcast(tables)
    val idSz = idSize
    val numParts = math.max(spark.sparkContext.defaultParallelism,
      spark.conf.getOption("spark.sql.shuffle.partitions").map(_.toInt).getOrElse(32))
    val salted = events.mapPartitions { it =>
      val seen = mutable.HashMap.empty[Long, Long]
      it.map { ev =>
        val c = seen.getOrElse(ev.classObjId, 0L)
        seen(ev.classObjId) = c + 1
        (ev.classObjId, ((c / HeapDump.RowsPerBucket) % HeapDump.SaltBuckets).toInt,
          ev.objId, ev.fields)
      }
    }
    spark.createDataFrame(salted)
      .toDF("classObjId", "salt", "objId", "fields")
      .repartition(numParts, col("classObjId"), col("salt"))
      .sortWithinPartitions("classObjId")
      .select("classObjId", "objId", "fields")
      .foreachPartition { (rows: Iterator[Row]) =>
        ClassTableWriter.writePartition(rows,
          org.apache.spark.TaskContext.getPartitionId(), classDir, bcTables.value, idSz)
      }
  }

  /** Resolved mode's additions over the written robo tables: static
    * fields gain `ref_type` (reference build_static_fields_batch: ""
    * for primitives, "null" for null refs, type name otherwise), and
    * each staged class table with reference fields is rewritten with
    * STRUCT{id,type} refs. The jobs run concurrently; the index side
    * of every join is the `_object_index` parquet the pass just wrote.
    * Both reads go through [[HeapTables.read]], so neither runs a
    * schema-inference job.
    */
  private def writeResolved(outDir: String, stage: String): Unit = {
    val oi = HeapTables.read(spark, s"$outDir/_object_index")
    val staged = HeapIO.withFs(stage) { (fs, p) =>
      if (fs.exists(p)) fs.listStatus(p).filter(_.isDirectory).map(_.getPath.getName).toSet
      else Set.empty[String]
    }
    val tables = index.classes.values.toSeq.sortBy(_.objId)
      .map(ci => HeapDump.tableName(ci) -> ci.layout.filter(_.typeTag == BasicType.Object).map(_.name))
      .filter { case (table, _) => staged.contains(table) }
    // a table without reference fields is already final: move it out
    tables.filter(_._2.isEmpty).foreach { case (table, _) =>
      HeapIO.withFs(outDir) { (fs, p) =>
        if (!fs.rename(new Path(s"$stage/$table"), new Path(p, table)))
          throw new java.io.IOException(s"could not move $stage/$table into $outDir")
      }
    }
    val staticFieldsResolved = {
      val ix = oi.select(col("obj_id").as("__ref"), col("type_name"))
      staticFields.join(ix, col("ref_id") === col("__ref"), "left")
        .withColumn("ref_type",
          when(col("field_type") =!= "object", "")
            .when(col("ref_id") === 0, "null")
            .otherwise(coalesce(col("type_name"), lit("(unresolved)"))))
        .drop("__ref", "type_name")
    }
    val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutorService(pool)
    def write(df: => DataFrame, table: String): Future[Unit] = Future(save(df, outDir, table))
    try {
      val jobs = write(staticFieldsResolved, "_static_fields") +: tables.collect {
        case (table, refs) if refs.nonEmpty =>
          write(refs.foldLeft(HeapTables.read(spark, s"$stage/$table"))(
            (d, r) => HeapTables.resolveRef(d, r, oi)), table)
      }
      // drain every job before surfacing the first failure, so none
      // is still writing when the caller sees the export fail
      jobs.foreach(Await.ready(_, Duration.Inf))
      jobs.foreach(Await.result(_, Duration.Inf))
    } finally pool.shutdown()
  }

  private def save(df: DataFrame, outDir: String, table: String): Unit =
    df.write.mode("overwrite").parquet(s"$outDir/$table")

  /** Metadata-only cleanup so a re-export to the same directory can't
    * leave stale part files from a previous layout behind.
    */
  private def dropExistingClassTables(outDir: String): Unit =
    HeapIO.withFs(outDir) { (fs, p) =>
      if (fs.exists(p)) {
        val classDirs = index.classes.values.map(HeapDump.tableName).toSet
        fs.listStatus(p).foreach { st =>
          if (st.isDirectory && classDirs.contains(st.getPath.getName))
            fs.delete(st.getPath, true)
        }
      }
    }
}

object HeapDump {
  /** Hidden directory under a resolved export's outDir holding the
    * pass's robo class tables until they are rewritten.
    */
  private val ResolveStage = ".robo_class_tables"
  /** Class-table salting of `writeClassTables`. */
  private val SaltBuckets = 16
  private val RowsPerBucket = 1 << 16

  /** A class table's directory, `<class>_<classObjId>`. Characters
    * outside printable ASCII, and `%`, are written as `%XX` per UTF-8
    * byte, so the name is a valid file name under any file-name
    * encoding (a POSIX-locale JVM cannot create `Größe`); an ASCII name
    * stays as it is, and so does every glob over the export.
    */
  private[heap] def tableName(ci: ClassInfo): String = {
    val escaped = new StringBuilder
    ci.name.getBytes(UTF_8).foreach { b =>
      if (b >= 0x20 && b < 0x7f && b != '%') escaped += b.toChar else escaped ++= f"%%${b & 0xff}%02X"
    }
    s"${escaped}_${ci.objId}"
  }

  private val Escaped = "(%[0-9A-F]{2})+".r

  /** The class name of a class table's directory: `tableName` undone. */
  private[heap] def tableClass(dir: String): String =
    Escaped.replaceAllIn(dir.replaceAll("_\\d+$", ""), m => Regex.quoteReplacement(new String(
      m.matched.grouped(3).map(h => Integer.parseInt(h.substring(1), 16).toByte).toArray, UTF_8)))

  /** Re-lay an export as FLAT chunked files — the reference robo-mode
    * naming convention (`<table>_chunk<N>.parquet`,
    * dump_to_parquet.rs chunked per-class files) — so glob-based
    * readers (`read_parquet('java.lang.String_*_chunk*.parquet')`,
    * `spark.read.parquet(".../_object_index_chunk*.parquet")`) port
    * verbatim. Caveat: Spark itself treats `_`-prefixed basenames as
    * hidden, so the renamed SYSTEM tables (`_object_index_chunk*`) are
    * for external glob readers; Spark callers should query before
    * flattening (or use the directory layout). Class tables glob fine
    * from Spark. Pure same-filesystem renames of the Spark part-files:
    * metadata ops only, no data movement, so it stays O(files) at any
    * heap size. The directory layout is consumed; call it only when a
    * downstream consumer wants the reference's file contract.
    */
  def flattenExport(outDir: String): Unit = {
    val root = new java.io.File(outDir)
    require(root.isDirectory, s"not an export directory: $outDir")
    for (tableDir <- root.listFiles().filter(_.isDirectory)) {
      val parts = tableDir.listFiles()
        .filter(f => f.isFile && f.getName.endsWith(".parquet"))
        .sortBy(_.getName)
      parts.zipWithIndex.foreach { case (f, i) =>
        val dest = new java.io.File(root, s"${tableDir.getName}_chunk$i.parquet")
        require(f.renameTo(dest), s"rename failed: $f -> $dest")
      }
      // drop the emptied directory and its _SUCCESS/. markers
      tableDir.listFiles().foreach(_.delete())
      if (!tableDir.delete())
        throw new java.io.IOException(s"could not remove $tableDir")
    }
  }
}
