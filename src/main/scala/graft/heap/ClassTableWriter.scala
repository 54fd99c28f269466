package graft.heap

import HprofModel._
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.example.data.Group
import org.apache.parquet.hadoop.{ParquetFileWriter, ParquetWriter}
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.parquet.schema.{LogicalTypeAnnotation, MessageType, Types}
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName

/** Executor-side direct parquet writer for the per-class instance
  * tables (SURVEY.md §2.A4/A11). The export is ONE Spark job: the raw
  * instance stream is hash-clustered by (class, salt) and sorted by
  * class within each partition, so every task streams through its
  * classes in contiguous runs with exactly one parquet writer open at
  * a time. Same single-pass shape as the reference's rayon writer
  * loop (dump_to_parquet.rs:651-780), but elastic: big classes split
  * across `salt` tasks instead of serializing on one writer thread.
  *
  * The parquet schemas are constructed to be byte-compatible with
  * what Spark itself writes for the same typed columns (INT32 +
  * int(8/16) logical annotations for byte/short, plain INT32 for
  * char/int, INT64 for object refs/longs), so readers — Spark,
  * DuckDB, the reference's analysis scripts — see the Spark types.
  */
object ClassTableWriter extends Serializable {

  /** Parquet message type of one class table: `obj_id` + the layout. */
  def parquetSchema(layout: Seq[LayoutField]): MessageType = {
    val b = Types.buildMessage()
    b.addField(Types.required(PrimitiveTypeName.INT64).named("obj_id"))
    layout.foreach { f =>
      val t = f.typeTag match {
        case BasicType.Object | BasicType.Long => Types.required(PrimitiveTypeName.INT64)
        case BasicType.Boolean => Types.required(PrimitiveTypeName.BOOLEAN)
        case BasicType.Char | BasicType.Int => Types.required(PrimitiveTypeName.INT32)
        case BasicType.Byte =>
          Types.required(PrimitiveTypeName.INT32).as(LogicalTypeAnnotation.intType(8, true))
        case BasicType.Short =>
          Types.required(PrimitiveTypeName.INT32).as(LogicalTypeAnnotation.intType(16, true))
        case BasicType.Float => Types.required(PrimitiveTypeName.FLOAT)
        case BasicType.Double => Types.required(PrimitiveTypeName.DOUBLE)
        case other => throw new IllegalStateException(s"bad field type $other")
      }
      b.addField(t.named(f.name))
    }
    b.named("spark_schema")
  }

  def openWriter(file: Path, schema: MessageType, conf: Configuration): ParquetWriter[Group] =
    ExampleParquetWriter.builder(file)
      .withConf(conf)
      .withType(schema)
      .withCompressionCodec(CompressionCodecName.SNAPPY)
      .withWriteMode(ParquetFileWriter.Mode.OVERWRITE)
      .build()

  /** Parquet writer that stages at an ATTEMPT-unique hidden temp name
    * and renames into the deterministic final name on commit.
    * Deterministic names + OVERWRITE alone are safe for sequential
    * task retries but not for CONCURRENT duplicate attempts
    * (speculative execution, or a zombie attempt still running after
    * a stage retry): two attempts opening the same part file would
    * interleave writes into a corrupt file. Staging per-attempt makes
    * the final file always ONE attempt's complete output — whichever
    * commit lands last wins whole-file. The dot-prefixed temp name is
    * invisible to Spark/parquet directory readers even if an aborted
    * attempt leaks it.
    */
  final class AtomicGroupWriter(finalPath: Path, schema: MessageType, conf: Configuration) {
    private val attemptId: Long =
      Option(org.apache.spark.TaskContext.get()).map(_.taskAttemptId()).getOrElse(0L)
    private val tmpPath =
      new Path(finalPath.getParent, s".${finalPath.getName}.attempt-$attemptId.tmp")
    private val writer = openWriter(tmpPath, schema, conf)
    def write(g: Group): Unit = writer.write(g)
    /** Close the temp file and move it into place. */
    def commit(): Unit = {
      writer.close()
      val fs = finalPath.getFileSystem(conf)
      // delete+rename is not atomic: a concurrent duplicate attempt's
      // delete can land between OUR delete and rename, making the
      // rename fail on filesystems where rename-to-existing returns
      // false. One retry closes that window — both attempts hold a
      // complete file, so whichever rename lands last wins whole-file
      // and neither should fail the task.
      fs.delete(finalPath, false)
      if (!fs.rename(tmpPath, finalPath)) {
        fs.delete(finalPath, false)
        if (!fs.rename(tmpPath, finalPath))
          throw new java.io.IOException(s"rename $tmpPath -> $finalPath failed twice")
      }
    }
    /** Close and drop the temp file, leaving any committed final file
      * from another attempt untouched.
      */
    def abort(): Unit = {
      try writer.close() catch { case _: Throwable => () }
      try {
        finalPath.getFileSystem(conf).delete(tmpPath, false); ()
      } catch { case _: Throwable => () }
    }
  }

  /** Append one decoded instance row; value runtime types are exactly
    * HprofParser.decodeInstance's boxing.
    */
  def addRow(g: Group, objId: Long, layout: Seq[LayoutField], vals: Seq[Any]): Unit = {
    g.add(0, objId)
    var i = 0
    while (i < layout.length) {
      val v = vals(i)
      layout(i).typeTag match {
        case BasicType.Object | BasicType.Long => g.add(i + 1, v.asInstanceOf[Long])
        case BasicType.Boolean => g.add(i + 1, v.asInstanceOf[Boolean])
        case BasicType.Char | BasicType.Int => g.add(i + 1, v.asInstanceOf[Int])
        case BasicType.Byte => g.add(i + 1, v.asInstanceOf[Byte].toInt)
        case BasicType.Short => g.add(i + 1, v.asInstanceOf[Short].toInt)
        case BasicType.Float => g.add(i + 1, v.asInstanceOf[Float])
        case BasicType.Double => g.add(i + 1, v.asInstanceOf[Double])
        case other => throw new IllegalStateException(s"bad field type $other")
      }
      i += 1
    }
  }

  /** Consume one sorted-by-class partition of (classObjId, objId,
    * fields) rows, writing `outDir/<table>/part-<pid>.parquet` files.
    * `tables` maps classObjId → (table name, layout); classes absent
    * from it (unresolved class dumps) are skipped, matching the old
    * per-class loop's `index.classes.contains` guard.
    */
  def writePartition(
      rows: Iterator[org.apache.spark.sql.Row],
      partitionId: Int,
      outDir: String,
      tables: Map[Long, (String, Seq[LayoutField])],
      idSize: Int): Unit = {
    val conf = new Configuration()
    var curCid = Long.MinValue
    var writer: AtomicGroupWriter = null
    var factory: SimpleGroupFactory = null
    var layout: Seq[LayoutField] = null
    def commitWriter(): Unit = if (writer != null) { writer.commit(); writer = null }
    try {
      rows.foreach { r =>
        val cid = r.getLong(0)
        if (cid != curCid) {
          commitWriter()
          curCid = cid
          tables.get(cid) match {
            case Some((table, lay)) =>
              layout = lay
              val schema = parquetSchema(lay)
              factory = new SimpleGroupFactory(schema)
              writer = new AtomicGroupWriter(
                new Path(f"$outDir/$table/part-$partitionId%05d.parquet"), schema, conf)
            case None => // unresolved class: no layout, no table
          }
        }
        if (writer != null && curCid == cid) {
          val g = factory.newGroup()
          addRow(g, r.getLong(1), layout,
            HprofParser.decodeInstance(r.getAs[Array[Byte]](2), idSize, layout))
          writer.write(g)
        }
      }
      commitWriter()
    } catch {
      case e: Throwable =>
        if (writer != null) { writer.abort(); writer = null }
        throw e
    }
  }
}
