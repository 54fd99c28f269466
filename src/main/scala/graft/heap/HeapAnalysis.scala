package graft.heap

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.metadata.ParquetMetadata
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetFooterReader, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String
import scala.jdk.CollectionConverters._

/** Resolves the tables of an exported heap-parquet directory — the
  * Spark counterpart of the reference's ParquetResolver
  * (analyze_heap_parquet.py:92): system tables by name, class tables
  * by `<class>_<id>` prefix (all loader copies unioned).
  *
  * Each table resolves at most once per instance: the first `system`
  * or `byClass` call reads it ([[HeapTables.read]]: a file listing and
  * one footer read on the driver, no Spark job) and every later call
  * returns the same DataFrame, from any thread. [[rowCount]] is
  * memoized the same way, from the footers of all the table's files.
  * The files must therefore not change while the instance is in use;
  * a re-export needs a new instance.
  */
final class HeapTables(val spark: SparkSession, val dir: String) {
  /** The table directories under `dir`, system and class tables. */
  val entries: Seq[String] = {
    val f = new java.io.File(dir)
    Option(f.listFiles()).map(_.toSeq.filter(_.isDirectory).map(_.getName)).getOrElse(Nil)
  }

  /** A table read on first use from its directories (a class's loader
    * copies); `lazy val` makes each read happen once even when several
    * analysis threads ask at the same time. Same-named classes from
    * different loaders can have different field layouts;
    * allowMissingColumns gives a copy's missing fields nulls instead of
    * failing every check that reads the class.
    */
  private final class Resolved(dirs: Seq[String]) {
    lazy val df: DataFrame = dirs.map(d => HeapTables.read(spark, s"$dir/$d"))
      .reduce((a, b) => a.unionByName(b, allowMissingColumns = true))
    lazy val rows: Long = dirs.map(d => HeapTables.footerRows(spark, s"$dir/$d")).sum
  }

  /** Exported system tables (`_object_index`, `_fields`, ...). */
  val systemNames: Seq[String] = entries.filter(_.startsWith("_"))

  /** Class name -> its table directories, one per defining loader
    * ("java.lang.String_4242" -> "java.lang.String").
    */
  val classCopies: Map[String, Seq[String]] =
    entries.filterNot(_.startsWith("_")).groupBy(HeapDump.tableClass)

  private val systemTables: Map[String, Resolved] =
    systemNames.map(n => n -> new Resolved(Seq(n))).toMap

  private val classTables: Map[String, Resolved] =
    classCopies.map { case (cls, copies) => cls -> new Resolved(copies) }

  def system(name: String): Option[DataFrame] = systemTables.get(name).map(_.df)

  /** All exported tables with file counts and bytes (the reference's
    * list_parquet_files tool).
    */
  def list: DataFrame = {
    import spark.implicits._
    entries.sorted.map { e =>
      val files = Option(new java.io.File(s"$dir/$e").listFiles())
        .map(_.filter(_.getName.endsWith(".parquet"))).getOrElse(Array.empty)
      (e, files.length, files.map(_.length()).sum)
    }.toDF("table", "n_files", "bytes")
  }

  /** Non-robo view: resolve a bare reference column to STRUCT{id,type}
    * via a lazy join against _object_index (SURVEY.md §3 — strictly
    * better at scale than materializing a type string per cell; the
    * index side broadcasts when small, shuffles on obj_id otherwise).
    */
  def withResolvedRef(df: DataFrame, refCol: String): DataFrame =
    system("_object_index") match {
      case None => df
      case Some(oi) => HeapTables.resolveRef(df, refCol, oi)
    }

  def byClass(className: String): Option[DataFrame] = classTables.get(className).map(_.df)

  /** Rows of a system table, or of a class with all its loader copies,
    * summed from the row counts in its data files' footers on the
    * driver: no Spark job.
    */
  def rowCount(table: String): Option[Long] =
    systemTables.get(table).orElse(classTables.get(table)).map(_.rows)
}

object HeapTables {
  /** `spark.read.parquet(tableDir)` with the schema taken on the
    * driver from one data file's footer. Spark's own inference
    * (`mergeSchema` off) converts the same footer the same way, but in
    * a Spark job per read: a fixed cost per table that every session
    * open paid. The read names the data files rather than the
    * directory: Spark takes a `_`-prefixed directory (every system
    * table) for a hidden path and warns on each read. Past Spark's
    * parallel-listing threshold (32 paths by default) the files would
    * be listed in a Spark job, so such a table is read by directory. A
    * missing directory, or one without a data file, keeps Spark's
    * inference, and so its error.
    */
  def read(spark: SparkSession, tableDir: String): DataFrame = {
    val conf = spark.sparkContext.hadoopConfiguration
    val files = dataFiles(conf, tableDir)
    files.minByOption(_.getPath.getName) match {
      case None => spark.read.parquet(tableDir)
      case Some(st) =>
        val schema = ParquetFileFormat.readSchemaFromFooter(new Footer(st.getPath, footer(conf, st)),
          new ParquetToSparkSchemaConverter(spark.sessionState.conf))
        val paths =
          if (files.size > spark.sessionState.conf.parallelPartitionDiscoveryThreshold) Seq(tableDir)
          else files.map(_.getPath.toString)
        spark.read.schema(schema).parquet(paths: _*)
    }
  }

  /** The rows of `tableDir`'s data files, summed from their footers'
    * row-group counts on the driver; 0 for a missing directory.
    */
  private def footerRows(spark: SparkSession, tableDir: String): Long = {
    val conf = spark.sparkContext.hadoopConfiguration
    dataFiles(conf, tableDir).map(st => footer(conf, st).getBlocks.asScala.map(_.getRowCount).sum).sum
  }

  /** The data files of a table directory, the ones Spark's listing
    * keeps: not `_SUCCESS`, not a `.crc`. None for a missing directory.
    */
  private def dataFiles(conf: Configuration, tableDir: String): Seq[FileStatus] = {
    val p = new Path(tableDir)
    val fs = p.getFileSystem(conf)
    if (!fs.exists(p)) Nil else
      fs.listStatus(p).toSeq.filter(st => st.isFile && !Seq("_", ".").exists(st.getPath.getName.startsWith))
  }

  private def footer(conf: Configuration, st: FileStatus): ParquetMetadata =
    ParquetFooterReader.readFooter(HadoopInputFile.fromStatus(st, conf), ParquetMetadataConverter.NO_FILTER)

  /** Reference-parity ref-field dispatch (analyze_heap_parquet.py's
    * ref_field, :129-133): a reference column is a bare long in a
    * robo-mode export but STRUCT{id,type} in a resolved-mode one —
    * every analysis access goes through this so the SAME waste suite
    * runs unchanged against either export layout.
    */
  def refField(df: DataFrame, name: String): Column =
    df.schema.fields.find(_.name == name) match {
      case Some(f) if f.dataType.isInstanceOf[org.apache.spark.sql.types.StructType] =>
        col(name).getField("id")
      case _ => col(name)
    }

  /** Rewrite a bare-long reference column as STRUCT{id,type} by
    * joining the object index (null id 0 → "null"; dangling →
    * "(unresolved)").
    */
  def resolveRef(df: DataFrame, refCol: String, objectIndex: DataFrame): DataFrame =
    df.join(objectIndex.select(col("obj_id").as(s"__ref_$refCol"), col("type_name")),
        df(refCol) === col(s"__ref_$refCol"), "left")
      .withColumn(refCol, struct(df(refCol).as("id"),
        coalesce(
          when(df(refCol) === 0, "null").otherwise(col("type_name")),
          lit("(unresolved)")).as("type")))
      .drop(s"__ref_$refCol", "type_name")
}

/** One waste-analysis finding (reference WasteFinding,
  * analyze_heap_parquet.py:53).
  */
final case class WasteFinding(
    checkName: String, tier: Int, severity: String,
    affectedCount: Long, estimatedWasteBytes: Long,
    details: String, recommendation: String,
    subFindings: Seq[String] = Nil) {
  def severityRank: Int =
    Seq("CRITICAL", "HIGH", "MEDIUM", "LOW", "INFO").indexOf(severity) match {
      case -1 => 5; case r => r
    }
}

/** Heap report queries and the 13-check waste-detection suite
  * (SURVEY.md §2.B) as DataFrame programs over an exported heap
  * directory. Every check is a distributed scan/join/aggregate that
  * collects only its final one-row rollup — no object-level data ever
  * reaches the driver, so the same programs run against a 100 TB
  * export unchanged.
  *
  * Waste constants are public 64-bit-JVM layout facts (compressed
  * oops), matching analyze_heap_parquet.py:36-47.
  *
  * Every query an analysis runs is a Spark job and a few generated
  * classes, so the report keeps their number down:
  *  - `_object_index` is aggregated once per instance, one row per
  *    class (the census); the summary, top types, categories, class
  *    count and shallow-size top are derived from it on the driver;
  *  - the boxed-wrapper counts and the duplicate-string sampling
  *    threshold are footer row counts ([[HeapTables.rowCount]]);
  *  - a tier-1 result with a constant-bounded row count (one row per
  *    bucket, collection type or pattern) is collected unsorted and
  *    sorted on the driver, under its aggregate's own schema.
  * The DataFrame methods wrap those driver rows as local relations;
  * the checks and [[analyzeJson]] read the rows directly. The other
  * constant-bounded results are coalesced to one partition before
  * their sort: a global sort would plan a range exchange and a
  * sampling job for it.
  */
final class HeapAnalysis(t: HeapTables) {
  import HeapAnalysis._

  /** A small result held on the driver: its rows in order and the
    * schema of the DataFrame it stands for.
    */
  private final class Local(val schema: StructType, val rows: Seq[Row]) {
    /** The rows as a local relation: reading it runs no Spark job. */
    def frame: DataFrame = t.spark.createDataFrame(rows.asJava, schema)
  }

  /** `agg` collected unsorted and sorted on the driver by `ord`. */
  private def sortedOnDriver(agg: DataFrame)(ord: Ordering[Row]): Local =
    new Local(agg.schema, agg.collect().toSeq.sorted(ord))

  // -- B1-B5: report queries ------------------------------------------

  /** Object count per type name, one row per class (a null name is its
    * own row, as in a GROUP BY), collected once per instance: driver
    * state bounded by the class count, like the `_fields` and
    * `_class_hierarchy` walks.
    */
  private lazy val census: Option[(StructField, Seq[(String, Long)])] =
    t.system("_object_index").map { oi =>
      (oi.schema("type_name"), oi.groupBy("type_name").agg(count(lit(1))).collect().toSeq
        .map(r => (r.getString(0), r.getLong(1))))
    }

  /** Census rows by count descending, then type name ascending. */
  private val countThenName: Ordering[(String, Long)] =
    Ordering.by((c: (String, Long)) => (-c._2, c._1))(Ordering.Tuple2(Ordering.Long, SparkStringOrder))

  private def summaryLocal: Option[Local] = census.map { case (_, counts) =>
    new Local(StructType(Seq(StructField("total_objects", LongType, nullable = false),
        StructField("unique_classes", LongType, nullable = false))),
      Seq(Row(counts.map(_._2).sum, counts.count(_._1 != null).toLong)))
  }

  def summary: Option[DataFrame] = summaryLocal.map(_.frame)

  private def topTypesLocal(limit: Int): Option[Local] = census.map { case (f, counts) =>
    new Local(StructType(Seq(f, StructField("obj_count", LongType, nullable = false))),
      counts.sorted(countThenName).take(limit).map { case (n, c) => Row(n, c) })
  }

  def topTypes(limit: Int = 30): Option[DataFrame] = topTypesLocal(limit).map(_.frame)

  /** Object counts per [[category]], largest first, ties by name. */
  private def categoryBreakdownLocal: Option[Local] = census.map { case (_, counts) =>
    new Local(StructType(Seq(StructField("category", StringType, nullable = false),
        StructField("obj_count", LongType, nullable = false))),
      counts.groupMapReduce(c => category(c._1))(_._2)(_ + _).toSeq.sorted(countThenName)
        .map { case (c, n) => Row(c, n) })
  }

  def categoryBreakdown: Option[DataFrame] = categoryBreakdownLocal.map(_.frame)

  private def byteArrayDistributionLocal: Option[Local] = t.system("_primitive_arrays_byte").map { b =>
    val n = size(col("values"))
    val bucket = when(n < 100, "0-99").when(n < 1000, "100-999")
      .when(n < 10000, "1K-10K").when(n < 100000, "10K-100K").otherwise("100K+")
    sortedOnDriver(b.groupBy(bucket.as("bucket"))
      .agg(count(lit(1)).as("count"),
        round(sum(n) / 1048576.0, 2).as("total_mb")))(
      Ordering.by((r: Row) => (-r.getDouble(2), r.getString(0)))(
        Ordering.Tuple2(Ordering.Double.TotalOrdering, SparkStringOrder)))
  }

  def byteArrayDistribution: Option[DataFrame] = byteArrayDistributionLocal.map(_.frame)

  def largeByteArrays(minBytes: Int = 102400, limit: Int = 20): Option[DataFrame] =
    t.system("_primitive_arrays_byte").map { b =>
      b.select(col("obj_id"), size(col("values")).as("size_bytes"),
          round(size(col("values")) / 1024.0, 1).as("size_kb"))
        .filter(col("size_bytes") > minBytes)
        .orderBy(col("size_bytes").desc, col("obj_id")).limit(limit)
    }

  // -- B6: duplicate strings ------------------------------------------

  /** Shared duplicate-content aggregate: group rows by an md5 of a
    * canonical element serialization (null-safe, comma-joined), keep
    * groups with >1 copy. Only (16-byte hash, len) pairs ever reach
    * the exchange — at 100 TB the payloads themselves must never
    * shuffle (reference ships hashes too, dump_to_parquet duplicate
    * checks). The key never surfaces to an oracle: downstream
    * dupRollup compares aggregate NUMBERS only, which are grouping-
    * representation-independent.
    */
  private def dupGrouped(df: DataFrame, elemCol: String,
      lenFilter: Column => Column): DataFrame = {
    val n = size(col(elemCol))
    val ser = concat_ws(",",
      transform(col(elemCol), e => coalesce(e.cast("string"), lit("N"))))
    df.filter(lenFilter(n))
      .select(md5(ser.cast("binary")).as("__v"), n.as("__len"))
      .groupBy("__v")
      .agg(count(lit(1)).as("dup_count"), min("__len").as("len"))
      .filter(col("dup_count") > 1)
  }

  /** One-row rollup over dupGrouped: total duplicate rows, distinct
    * duplicated values, worst fan-out, and wasted bytes including the
    * per-extra-copy object/header overhead.
    */
  private def dupRollup(grouped: DataFrame, elemSize: Int,
      perCopyOverhead: Long): DataFrame =
    grouped.agg(
      coalesce(sum("dup_count"), lit(0L)).as("total_dups"),
      count(lit(1)).as("unique_vals"),
      coalesce(max("dup_count"), lit(0L)).as("worst"),
      (coalesce(sum((col("dup_count") - 1) * col("len") * elemSize), lit(0L)) +
        (coalesce(sum("dup_count"), lit(0L)) - count(lit(1))) * perCopyOverhead)
        .as("wasted_bytes"))

  /** Auto-cap for the duplicate-strings scan, mirroring the
    * reference (scripts/analyze_heap_parquet.py:268-271): above the
    * threshold (default 5M strings,
    * `spark.graft.heap.dupStringsSampleThreshold` for tests) the scan
    * is capped at 20% so a huge dump never pays the full join a naive
    * caller didn't know to sample. The count is summed from the
    * parquet footers on the driver — O(files), not O(rows), no job.
    */
  private def effectiveDupSamplePct(samplePct: Double): Double = {
    val threshold = t.spark.conf
      .getOption("spark.graft.heap.dupStringsSampleThreshold")
      .map(_.toLong).getOrElse(5000000L)
    if (t.rowCount("java.lang.String").exists(_ > threshold)) math.min(samplePct, 20.0) else samplePct
  }

  /** B6 core with the sampling percent ACTUALLY applied (post
    * auto-cap), so callers scale their estimates by the real rate.
    */
  private def dupStringStatsSampled(samplePct: Double): Option[(DataFrame, Double)] =
    for {
      strs0 <- t.byClass("java.lang.String")
      bytes <- t.system("_primitive_arrays_byte")
    } yield {
      val pct = effectiveDupSamplePct(samplePct)
      val strs = if (pct < 100) strs0.sample(pct / 100.0, 42L) else strs0
      val joined = strs.select(HeapTables.refField(strs, "value").as("byte_id"))
        .filter(col("byte_id") =!= 0)
        .join(bytes, col("byte_id") === bytes("obj_id"))
        .select(col("values"))
      (dupRollup(dupGrouped(joined, "values", _ => lit(true)), 1, StringObjOverhead),
        pct)
    }

  /** B6 core as a one-row DataFrame (driver-gate oracle surface). */
  def dupStringStats(samplePct: Double = 100.0): Option[DataFrame] =
    dupStringStatsSampled(samplePct).map(_._1)

  /** Join String→byte[], group content, roll up duplicate waste. At
    * 100 TB only value/len pairs shuffle on the group key; the
    * sampling knob mirrors the reference's USING SAMPLE and
    * AUTO-ENGAGES at 20% past 5M strings, scaling the estimates by
    * the applied rate.
    */
  def checkDuplicateStrings(samplePct: Double = 100.0): Option[WasteFinding] =
    dupStringStatsSampled(samplePct).map { case (df, pct) =>
      val scale = if (pct < 100) 100.0 / pct else 1.0
      val r = df.collect()(0)
      val total = (r.getAs[Long]("total_dups") * scale).toLong
      val uniq = (r.getAs[Long]("unique_vals") * scale).toLong
      val wasted = (r.getAs[Long]("wasted_bytes") * scale).toLong
      WasteFinding("Duplicate Strings", 1, classifySeverity(wasted), total, wasted,
        s"$total duplicate strings across $uniq unique values (worst: ${(r.getAs[Long]("worst") * scale).toLong} copies)",
        "Intern frequently duplicated strings or use a string deduplication agent (-XX:+UseStringDeduplication with G1)")
    }

  /** Decoded java.lang.String contents: join String.value → byte[]
    * and decode by the `coder` field when present (0 = Latin-1,
    * 1 = UTF-16LE; compact strings, JDK 9+) else Latin-1.
    */
  def stringValues: Option[DataFrame] =
    for {
      strs <- t.byClass("java.lang.String")
      bytes <- t.system("_primitive_arrays_byte")
    } yield {
      val coder = if (strs.columns.contains("coder")) col("coder").cast("int") else lit(0)
      strs.select(col("obj_id"), HeapTables.refField(strs, "value").as("byte_id"), coder.as("__coder"))
        .filter(col("byte_id") =!= 0)
        .join(bytes.select(col("obj_id").as("byte_id"), col("values")), "byte_id")
        .select(col("obj_id"),
          graft.functions.DecodeJavaString(col("values"), col("__coder")).as("text"))
    }

  // -- B7: bad collections --------------------------------------------

  /** (display name, class, size column, per-empty waste, per-single
    * waste). The waste formulas are linear in (empty, single), so the
    * same constants serve the driver check and the SQL-oracle gate.
    */
  private val collectionSpecs: Seq[(String, String, String, Long, Long)] = Seq(
    ("ArrayList", "java.util.ArrayList", "size",
      ArrayListShell + ArrayHeader + 10 * RefSize,
      ArrayListShell + ArrayHeader + 10 * RefSize - RefSize),
    ("ConcurrentHashMap", "java.util.concurrent.ConcurrentHashMap", "baseCount",
      ChmShell + ArrayHeader + 16 * RefSize,
      ChmShell + ArrayHeader + 16 * RefSize + ChmNode - 2 * RefSize),
    ("HashMap", "java.util.HashMap", "size",
      HashMapShell + ArrayHeader + 16 * RefSize,
      HashMapShell + ArrayHeader + 16 * RefSize + HashMapEntry - 2 * RefSize),
    ("LinkedList", "java.util.LinkedList", "size",
      LinkedListShell,
      LinkedListShell + LinkedListNode - RefSize),
    ("TreeMap", "java.util.TreeMap", "size",
      64L,
      64L + TreeMapEntry - 2 * RefSize))

  /** B7 core: per-collection-type empty/single counts + waste bytes.
    * The empty and single-element rows of every collection table are
    * unioned first and aggregated in one exchange; each type's waste
    * constants ride along as grouping literals.
    */
  private def badCollectionStatsLocal: Option[Local] = {
    val dfs = collectionSpecs.flatMap { case (name, cls, sizeCol, kEmpty, kSingle) =>
      t.byClass(cls).filter(_.columns.contains(sizeCol)).map { df =>
        df.select(lit(name).as("coll_type"), lit(kEmpty).as("k_empty"),
            lit(kSingle).as("k_single"), col(sizeCol).cast("long").as("n"))
          .filter(col("n") === 0 || col("n") === 1)
      }
    }
    if (dfs.isEmpty) None else Some(sortedOnDriver(dfs.reduce(_ unionByName _)
      .groupBy("coll_type", "k_empty", "k_single")
      .agg(count(when(col("n") === 0, 1)).as("empty_count"),
        count(when(col("n") === 1, 1)).as("single_count"))
      .select(col("coll_type"), col("empty_count"), col("single_count"),
        (col("empty_count") * col("k_empty") + col("single_count") * col("k_single")).as("waste_bytes")))(
      Ordering.by((r: Row) => r.getString(0))(SparkStringOrder)))
  }

  def badCollectionStats: Option[DataFrame] = badCollectionStatsLocal.map(_.frame)

  def checkBadCollections(): Option[WasteFinding] =
    badCollectionStatsLocal.flatMap { l =>
      val found = l.rows
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      if (found.isEmpty) None else {
        val (empty, single, waste) = (found.map(_._2).sum, found.map(_._3).sum, found.map(_._4).sum)
        Some(WasteFinding("Bad Collections (empty/single-element)", 1,
          classifySeverity(waste), empty + single, waste,
          s"$empty empty + $single single-element collections",
          "Replace empty collections with Collections.emptyMap/List/Set(); single-element with Collections.singletonMap/List/Set() or direct fields",
          found.map { case (n, e, s, w) => s"  $n: $e empty, $s single-element (${formatBytes(w)})" }))
      }
    }

  // -- B8: bad object arrays ------------------------------------------

  /** B8 core: wasteful-object-array patterns (zero-length / all-null /
    * single-element / >70%-sparse) with counts and slot totals.
    */
  private def badObjectArrayPatternsLocal: Option[Local] = t.system("_object_arrays").map { oa =>
    val n = size(col("elements"))
    val nulls = size(filter(col("elements"), e => e === 0))
    val pattern = when(n === 0, "zero_length")
      .when(nulls === n, "all_null")
      .when(n === 1, "single_element")
      .when(n > 3 && nulls.cast("double") / n.cast("double") > 0.7, "sparse")
    sortedOnDriver(oa.select(pattern.as("pattern"), n.as("n"))
      .filter(col("pattern").isNotNull)
      .groupBy("pattern")
      .agg(count(lit(1)).as("n_arrays"), sum("n").cast("long").as("total_slots")))(
      Ordering.by((r: Row) => r.getString(0))(SparkStringOrder))
  }

  def badObjectArrayPatterns: Option[DataFrame] = badObjectArrayPatternsLocal.map(_.frame)

  def checkBadObjectArrays(): Option[WasteFinding] = badObjectArrayPatternsLocal.flatMap { l =>
    val rows = l.rows
    if (rows.isEmpty) None else {
      var totalCount = 0L; var totalWaste = 0L
      val sub = rows.map { r =>
        val (pat, cnt, slots) = (r.getString(0), r.getLong(1), r.getLong(2))
        totalCount += cnt
        val (waste, desc) = pat match {
          case "zero_length" => (cnt * ArrayHeader, s"  Zero-length: $cnt arrays")
          case "all_null" => (cnt * ArrayHeader + slots * RefSize, s"  All-null: $cnt arrays, $slots null slots")
          case "single_element" => (cnt * (ArrayHeader - RefSize), s"  Single-element: $cnt arrays")
          case _ => ((slots * 0.7).toLong * RefSize, s"  Sparse (>70% null): $cnt arrays")
        }
        totalWaste += waste
        s"$desc (${formatBytes(waste)})"
      }
      Some(WasteFinding("Bad Object Arrays", 1, classifySeverity(totalWaste),
        totalCount, totalWaste, s"$totalCount wasteful object arrays",
        "Use empty array constants (EMPTY_ARRAY), replace single-element arrays with direct references, compact sparse arrays",
        sub))
    }
  }

  // -- B9: bad primitive arrays ---------------------------------------

  /** B9 core: wasteful-primitive-array patterns per element type with
    * counts, data bytes, and waste bytes (zero-length → header only;
    * all-zero → data + header; single → header minus one element).
    * The patterned rows of all eight tables are unioned first and
    * aggregated in one exchange; the element size rides along as a
    * grouping literal. A table whose footers count no rows adds no row
    * to the aggregate, only a scan stage and its generated classes, so
    * it is left out; one table stays when all are empty, and the result
    * keeps its schema.
    */
  private def badPrimitiveArrayPatternsLocal: Option[Local] = {
    val primTypes = Seq(("boolean", 1), ("byte", 1), ("char", 2), ("short", 2),
      ("int", 4), ("long", 8), ("float", 4), ("double", 8))
    val tables = primTypes.flatMap { case (pt, es) =>
      val name = s"_primitive_arrays_$pt"
      t.system(name).map(df => (pt, es, df, t.rowCount(name).exists(_ > 0)))
    }
    val live = tables.filter(_._4)
    val dfs = (if (live.isEmpty) tables.take(1) else live).map { case (pt, elemSize, df, _) =>
      val n = size(col("values"))
      val allZero = if (pt == "boolean") !array_contains(col("values"), true)
        else array_min(col("values")) === 0 && array_max(col("values")) === 0
      val pattern = when(n === 0, "zero_length").when(n === 1, "single")
        .when(n > 1 && allZero, "all_zero")
      df.select(lit(pt).as("prim_type"), lit(elemSize.toLong).as("es"), pattern.as("pattern"),
          (n * elemSize).cast("long").as("bytes"))
        .filter(col("pattern").isNotNull)
    }
    if (dfs.isEmpty) None else Some(sortedOnDriver(dfs.reduce(_ unionByName _)
      .groupBy("prim_type", "es", "pattern")
      .agg(count(lit(1)).as("n_arrays"), sum("bytes").as("data_bytes"))
      .select(col("prim_type"), col("pattern"), col("n_arrays"), col("data_bytes"),
        when(col("pattern") === "zero_length", col("n_arrays") * ArrayHeader)
          .when(col("pattern") === "all_zero", col("data_bytes") + col("n_arrays") * ArrayHeader)
          .otherwise(col("n_arrays") * (lit(ArrayHeader) - col("es"))).as("waste_bytes")))(
      Ordering.by((r: Row) => (r.getString(0), r.getString(1)))(
        Ordering.Tuple2(SparkStringOrder, SparkStringOrder))))
  }

  def badPrimitiveArrayPatterns: Option[DataFrame] = badPrimitiveArrayPatternsLocal.map(_.frame)

  def checkBadPrimitiveArrays(): Option[WasteFinding] =
    badPrimitiveArrayPatternsLocal.flatMap { l =>
      val perType = l.rows
        .groupBy(_.getString(0)).toSeq.sortBy(_._1)
        .map { case (pt, rows) =>
          (pt, rows.map(_.getLong(2)).sum, rows.map(_.getLong(4)).sum)
        }
        .filter(_._2 > 0)
      if (perType.isEmpty) None else {
        val (cnt, waste) = (perType.map(_._2).sum, perType.map(_._3).sum)
        Some(WasteFinding("Bad Primitive Arrays", 1, classifySeverity(waste), cnt, waste,
          s"$cnt wasteful primitive arrays (zero-length, single, all-zero)",
          "Replace zero-length with shared constants, avoid single-element arrays where a scalar field suffices, check all-zero arrays for uninitialized buffers",
          perType.map { case (pt, c, w) => s"  $pt[]: $c wasteful (${formatBytes(w)})" }))
      }
    }

  // -- B10: boxed primitives ------------------------------------------

  /** B10 core: per-wrapper instance counts + header overhead, from
    * the wrapper tables' footer row counts; a wrapper without
    * instances has no row.
    */
  private def boxedCountsLocal: Option[Local] = {
    val counts = Seq("Boolean", "Byte", "Character", "Double", "Float", "Integer", "Long", "Short")
      .flatMap(w => t.rowCount(s"java.lang.$w").map(w -> _))
    if (counts.isEmpty) None else Some(new Local(
      StructType(Seq(StructField("wrapper", StringType, nullable = false),
        StructField("n_objs", LongType, nullable = false),
        StructField("waste_bytes", LongType, nullable = false))),
      counts.collect { case (w, n) if n > 0 => Row(w, n, n * ObjectHeader) }))
  }

  def boxedCounts: Option[DataFrame] = boxedCountsLocal.map(_.frame)

  def checkBoxedNumbers(): Option[WasteFinding] = {
    val perType = boxedCountsLocal.toSeq.flatMap(_.rows)
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    if (perType.isEmpty) None else {
      val (cnt, waste) = (perType.map(_._2).sum, perType.map(_._3).sum)
      Some(WasteFinding("Boxed Primitives", 1, classifySeverity(waste), cnt, waste,
        s"$cnt boxed primitives (16-byte overhead each vs raw primitive)",
        "Use primitive types directly, IntArrayList/LongArrayList from fastutil/Eclipse Collections instead of List<Integer>/List<Long>",
        perType.map { case (w, c, b) => s"  $w: $c (${formatBytes(b)})" }))
    }
  }

  // -- B11: collection sizing -----------------------------------------

  /** B11 core: sparse HashMaps (<33% full, >=16 slots) and oversized
    * ArrayList backing arrays (>2x needed, >8 spare) with counts and
    * wasted slot bytes.
    */
  def collectionSizingStats: Option[DataFrame] = t.system("_object_arrays").flatMap { oa0 =>
    val oa = oa0.select(col("obj_id").as("__aid"), size(col("elements")).as("cap"))
    val parts = Seq(
      t.byClass("java.util.HashMap")
        .filter(d => d.columns.contains("size") && d.columns.contains("table"))
        .map { hm =>
          hm.filter(col("size") >= 2 && HeapTables.refField(hm, "table") =!= 0)
            .select(col("size"), HeapTables.refField(hm, "table").as("__aid"))
            .join(oa, "__aid")
            .filter(col("cap") >= 16 && col("size").cast("double") / col("cap").cast("double") < 0.33)
            .agg(count(lit(1)).as("n_colls"),
              coalesce(sum(col("cap") * RefSize), lit(0L)).as("wasted_bytes"))
            .select(lit("sparse_hashmap").as("kind"), col("n_colls"), col("wasted_bytes"))
        },
      t.byClass("java.util.ArrayList")
        .filter(d => d.columns.contains("size") && d.columns.contains("elementData"))
        .map { al =>
          al.filter(col("size") >= 1 && HeapTables.refField(al, "elementData") =!= 0)
            .select(col("size"), HeapTables.refField(al, "elementData").as("__aid"))
            .join(oa, "__aid")
            .filter(col("cap") > col("size") * 2 && col("cap") - col("size") > 8)
            .agg(count(lit(1)).as("n_colls"),
              coalesce(sum((col("cap") - col("size")) * RefSize), lit(0L)).as("wasted_bytes"))
            .select(lit("oversized_arraylist").as("kind"), col("n_colls"), col("wasted_bytes"))
        }).flatten
    if (parts.isEmpty) None
    else Some(parts.reduce(_ unionByName _).filter(col("n_colls") > 0).coalesce(1).orderBy("kind"))
  }

  def checkCollectionSizing(): Option[WasteFinding] = {
    val rows = collectionSizingStats.toSeq.flatMap(_.collect().toSeq)
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    if (rows.isEmpty) None else {
      val (cnt, waste) = (rows.map(_._2).sum, rows.map(_._3).sum)
      val sub = rows.map {
        case ("sparse_hashmap", c, w) =>
          s"  Sparse HashMaps (<33% full, >=16 slots): $c (wasted slots: ${formatBytes(w)})"
        case (_, c, w) =>
          s"  Oversized ArrayList backing arrays (>2x needed, >8 spare): $c (${formatBytes(w)})"
      }
      Some(WasteFinding("Collection Sizing Issues", 2,
        classifySeverity(waste), cnt, waste, s"$cnt poorly-sized collections",
        "Use initial capacity hints: new HashMap<>(expectedSize) or new ArrayList<>(expectedSize); call trimToSize() after bulk adds",
        sub))
    }
  }

  // -- B12: duplicate byte arrays -------------------------------------

  /** B12 core: duplicate byte[] rollup (arrays <=10KB). */
  def dupByteArrayStats: Option[DataFrame] =
    t.system("_primitive_arrays_byte").map(b =>
      dupRollup(dupGrouped(b, "values", n => n > 0 && n <= 10240), 1, ArrayHeader))

  /** B17 core: duplicate object-array rollup (1-100 elements). */
  def dupObjectArrayStats: Option[DataFrame] =
    t.system("_object_arrays").map(oa =>
      dupRollup(dupGrouped(oa, "elements", n => n.between(1, 100)), RefSize.toInt, ArrayHeader))

  def checkDuplicateByteArrays(): Option[WasteFinding] =
    dupByteArrayStats.flatMap { df =>
      val r = df.collect()(0)
      val (total, uniq, wasted) =
        (r.getAs[Long]("total_dups"), r.getAs[Long]("unique_vals"), r.getAs[Long]("wasted_bytes"))
      if (total == 0) None else {
        Some(WasteFinding("Duplicate byte[] Arrays", 2, classifySeverity(wasted), total, wasted,
          s"$total duplicate byte arrays across $uniq unique values (arrays <=10KB)",
          "Cache/intern frequently reused byte arrays; check for serialization producing identical buffers"))
      }
    }

  // -- B13: class count -----------------------------------------------

  /** B13 core: distinct loaded-class count (non-null type names). */
  private def classCount: Option[Long] = census.map(_._2.count(_._1 != null).toLong)

  def classCountStats: Option[DataFrame] = classCount.map(n =>
    new Local(StructType(Seq(StructField("n_classes", LongType, nullable = false))), Seq(Row(n))).frame)

  /** B26 core: duplicate-class / classloader census — the classic
    * metaspace-leak signature B13's flat count can only hint at: the
    * SAME class name defined by MULTIPLE loaders (hot-redeploy, OSGi,
    * plugin frameworks — each redeploy leaks a loader holding a full
    * copy of every class it defined). One row per class name defined
    * more than once: copy count, distinct-loader count, and the
    * loader ids themselves (numerically sorted, CSV — the ids an
    * investigation greps the dump for). `loader_obj_id = 0` is the
    * bootstrap loader. Dimension-sized end to end: the input is the
    * class-count-sized `_class_hierarchy`, never the object stream.
    */
  def classloaderCensus: Option[DataFrame] = t.system("_class_hierarchy").map { ch =>
    ch.groupBy("class_name")
      .agg(count(lit(1)).as("n_copies"),
        countDistinct(col("loader_obj_id")).as("n_loaders"),
        concat_ws(",", transform(sort_array(collect_list(col("loader_obj_id"))),
          x => x.cast("string"))).as("loader_ids"))
      .filter(col("n_copies") > 1)
      .orderBy(col("n_copies").desc, col("class_name"))
  }

  def checkClassloaders(): Option[WasteFinding] = classloaderCensus.flatMap { df =>
    val rows = df.collect()
    if (rows.isEmpty) None else {
      val nNames = rows.length.toLong
      val nExtra = rows.map(r => r.getLong(1) - 1).sum
      // a leaked duplicate class costs its metaspace footprint; the
      // reference's B13 heuristic prices a class at 8 KiB — reuse it
      val severity = if (nExtra > 1000) "HIGH" else if (nExtra > 100) "MEDIUM" else "INFO"
      Some(WasteFinding("Duplicate Classes / Classloader Leaks", 2, severity,
        nNames, nExtra * 8192L,
        s"$nNames class names defined by multiple loaders ($nExtra duplicate definitions)",
        "Multiple definitions of one class name mean several classloaders each define it — the hot-redeploy/OSGi/plugin leak shape. Find what pins the stale loaders (threads, statics, caches holding any instance from the old deployment)."))
    }
  }

  def checkClassCount(): Option[WasteFinding] = classCount.flatMap { cnt =>
    if (cnt < 10000) None else {
      val severity = if (cnt > 50000) "HIGH" else if (cnt > 20000) "MEDIUM" else "INFO"
      Some(WasteFinding("Class Count / Leak Detection", 2, severity, cnt, cnt * 8192L,
        s"$cnt unique classes loaded",
        "If >20K, investigate classloader leaks (hot-deploy, OSGi, reflection-generated classes). Check for lambda/proxy class proliferation."))
    }
  }

  // -- B14: GC roots ---------------------------------------------------

  /** B14 core: GC-root counts per root type. */
  def gcRootBreakdown: Option[DataFrame] = t.system("_gc_roots").map(
    _.groupBy("root_type").agg(count(lit(1)).as("n_roots"))
      .coalesce(1).orderBy(col("n_roots").desc, col("root_type")))

  def checkGcRoots(): Option[WasteFinding] = gcRootBreakdown.flatMap { df =>
    val rows = df.collect()
    if (rows.isEmpty) None else {
      val total = rows.map(_.getLong(1)).sum
      val severity = if (total > 100000) "MEDIUM" else if (total > 50000) "LOW" else "INFO"
      Some(WasteFinding("GC Roots Breakdown", 2, severity, total, 0L,
        s"$total GC roots across ${rows.length} root types",
        "High JavaStackFrame roots may indicate thread bloat. High JNI roots may indicate native resource leaks.",
        rows.toSeq.map(r => s"  ${r.getString(0)}: ${r.getLong(1)}")))
    }
  }

  // -- B15: DirectByteBuffer ------------------------------------------

  /** B15 core: DirectByteBuffer rollup (count, capacity, untouched,
    * empty, max). Average rides as total/count so both engines fold
    * the same exact integers.
    */
  def directByteBufferStats: Option[DataFrame] =
    t.byClass("java.nio.DirectByteBuffer")
      .filter(_.columns.contains("capacity"))
      .map(db => db.agg(
        count(lit(1)).as("n_buffers"),
        coalesce(sum("capacity"), lit(0L)).as("total_cap"),
        coalesce(sum(when(col("position") === 0 && col("limit") === col("capacity"),
          col("capacity")).otherwise(0)), lit(0L)).as("untouched"),
        count(when(col("capacity") === 0, 1)).as("n_empty"),
        coalesce(max("capacity"), lit(0)).cast("long").as("max_cap")))

  def checkDirectByteBuffers(): Option[WasteFinding] =
    directByteBufferStats.flatMap { df =>
      {
        val r = df.collect()(0)
        val cnt = r.getAs[Long]("n_buffers")
        if (cnt == 0) None else {
          val totalCap = r.getAs[Long]("total_cap")
          val untouched = r.getAs[Long]("untouched")
          val empty = r.getAs[Long]("n_empty")
          val waste = empty * 64L + untouched
          Some(WasteFinding("DirectByteBuffer Off-Heap", 2,
            if (totalCap > 10L * 1024 * 1024) classifySeverity(totalCap) else "INFO",
            cnt, waste,
            s"$cnt DirectByteBuffers, ${formatBytes(totalCap)} total off-heap capacity",
            "Release unused DirectByteBuffers explicitly (sun.misc.Cleaner). Consider pooling for short-lived buffers.",
            Seq(s"  Total buffers: $cnt",
              s"  Total capacity: ${formatBytes(totalCap)} (off-heap)",
              s"  Empty buffers: $empty",
              s"  Max single buffer: ${formatBytes(r.getAs[Long]("max_cap"))}",
              s"  Avg buffer size: ${formatBytes((totalCap.toDouble / cnt).toLong)}")))
        }
      }
    }

  // -- B16: thread stacks ---------------------------------------------

  /** B16 core: thread counts per raw threadStatus value. */
  def threadStatusBreakdown: Option[DataFrame] =
    t.byClass("java.lang.Thread")
      .filter(_.columns.contains("threadStatus"))
      .map(th => th.groupBy(col("threadStatus").cast("int").as("thread_status"))
        .agg(count(lit(1)).as("n_threads"))
        .coalesce(1).orderBy(col("n_threads").desc, col("thread_status")))

  /** B16 core: stack-trace depth histogram. */
  def stackDepthDistribution: Option[DataFrame] = t.system("_stack_traces").map { traces =>
    val depth = size(col("frame_ids"))
    val bucket = when(depth === 0, "0 (empty)").when(depth <= 5, "1-5")
      .when(depth <= 20, "6-20").when(depth <= 50, "21-50").otherwise("50+")
    traces.groupBy(bucket.as("depth_bucket")).agg(count(lit(1)).as("n_traces"))
      .coalesce(1).orderBy(col("n_traces").desc, col("depth_bucket"))
  }

  // -- B20: referrer-graph analytics ----------------------------------

  /** The object-typed `_fields` slots as (class, field), split into
    * STRONG slots and the `referent` slots of Reference subtypes (a
    * slot named `referent` or `…@referent` in a class whose super chain
    * reaches java.lang.ref.Reference — incl. shapes like
    * WeakHashMap$Entry that extend WeakReference outside the
    * java.lang.ref package, which a name-prefix test would miss). Both
    * tables are class-count-sized metadata, collected and walked on
    * the driver once per instance; names from several loaders merge
    * (supers union), so one reference-typed copy marks the name.
    * Without `_class_hierarchy` every slot is strong.
    */
  private lazy val objectSlots: Option[(Seq[(String, String)], Seq[(String, String)])] =
    t.system("_fields").map { fm =>
      val refTypes = t.system("_class_hierarchy").fold(Set.empty[String]) { ch =>
        val sup = ch.select("class_name", "super_class_name").collect()
          .groupBy(_.getString(0)).map { case (n, rows) =>
            n -> rows.flatMap(r => Option(r.getString(1))).toSet
          }
        val root = "java.lang.ref.Reference"
        def reaches(n: String, seen: Set[String]): Boolean =
          n == root || (!seen(n) &&
            sup.getOrElse(n, Set.empty[String]).exists(p => reaches(p, seen + n)))
        sup.keySet.filter(n => reaches(n, Set.empty)).toSet
      }
      fm.filter(col("field_type") === "object")
        .select("class_name", "field_name")
        .collect().map(r => (r.getString(0), r.getString(1))).toSeq
        .partition { case (c, f) => !(refTypes(c) && (f == "referent" || f.endsWith("@referent"))) }
    }

  /** Every object→object reference edge in the heap: instance ref
    * fields (the columns `_fields` marks `field_type = 'object'` —
    * schema alone cannot tell a long VALUE from a robo ref) plus
    * object-array elements. Null refs (id 0) drop. The field list is
    * driver-collected metadata bounded by class count × arity; the
    * edge frame itself is a union of per-class projections and one
    * posexplode — scan-shaped, no joins, no shuffle until the
    * consumer aggregates.
    *
    * STRONG references only: `referent` slots of Reference subtypes
    * are excluded — a weak/soft/phantom referent does NOT keep its
    * target alive, so counting it would corrupt every downstream
    * liveness answer (B21 ownership, B22 retained, B23 reachability,
    * B24 paths) on any real dump, all of which carry reference
    * objects. B28's referenceCensus is the first-class read of the
    * excluded edges.
    *
    * Derived once per HeapAnalysis instance and checkpointed: every
    * B20–B24/B27 consumer (referrers, ownership, retained, top
    * objects, reachability, exemplars) walks the SAME edge table —
    * one investigation session derives the graph once, not once per
    * question asked of it.
    */
  lazy val refEdges: Option[DataFrame] = refEdgesImpl.map(_.localCheckpoint())

  private def refEdgesImpl: Option[DataFrame] = objectSlots.map { case (strong, _) =>
    val fieldEdges = strong.flatMap { case (cls, fld) =>
      t.byClass(cls).map { df =>
        df.select(col("obj_id").as("src"),
          HeapTables.refField(df, fld).as("dst"),
          lit(cls).as("src_class"), lit(fld).as("via"))
      }
    }
    val arrEdges = t.system("_object_arrays").map { oa =>
      oa.select(col("obj_id").as("src"), explode(col("elements")).as("dst"),
        col("class_name").as("src_class"), lit("[]").as("via"))
    }
    // static ref fields: class object → referenced instance. Without
    // these, everything held alive ONLY through a static (caches,
    // registries, singletons — the classic leak shapes) reads as
    // unreferenced/unreachable in B20–B23; sticky-class GC roots pin
    // class objects, so this is the edge that connects them onward.
    val staticEdges = t.system("_static_fields").map { sf =>
      sf.filter(col("field_type") === "object")
        .select(col("class_obj_id").as("src"), col("ref_id").as("dst"),
          concat(lit("class "), col("class_name")).as("src_class"),
          col("field_name").as("via"))
    }
    // reduceOption: a dump with no object-typed field slots (or none
    // with exported per-class tables) and no _object_arrays or
    // _static_fields table has zero edge frames — an empty edge set,
    // not an exception
    (fieldEdges ++ arrEdges.toSeq ++ staticEdges.toSeq)
      .reduceOption(_ unionByName _)
      .map(_.filter(col("dst") =!= 0L))
  }.flatten

  /** The distinct (src, dst) pairs of [[refEdges]]: the reference graph
    * every liveness pass walks (B22 ownership, B23/B24/B31 root BFS,
    * B33 dominators), derived and checkpointed once per instance. B20
    * and B21 count in-degree over the raw edges instead, where two
    * slots of one object pointing at one target are two references.
    */
  private lazy val refGraph: Option[DataFrame] =
    refEdges.map(_.select("src", "dst").distinct().localCheckpoint())

  /** Frontier BFS over [[refGraph]] from `seeds` (label columns…,
    * obj_id): the distinct seeds at dist 0, plus every (labels…,
    * object) first reached within `maxHops` with its hop count. Each
    * round expands only the NEWLY reached rows (the delta), so total
    * exchange is O(reachable edges), not O(rounds × reachable); labels
    * ride along, so one pass answers every label at once and an
    * object reachable under two labels appears under both.
    */
  private def reachFrom(ref: DataFrame, seeds: DataFrame, maxHops: Int): DataFrame = {
    val labels = seeds.columns.toSeq.filterNot(_ == "obj_id")
    var reach = seeds.distinct().withColumn("dist", lit(0)).localCheckpoint()
    var frontier = reach
    for (h <- 1 to maxHops) {
      val nxt = frontier.join(ref, frontier("obj_id") === ref("src"))
        .select(labels.map(col) :+ col("dst").as("obj_id"): _*).distinct()
        .join(reach, labels :+ "obj_id", "left_anti")
        .withColumn("dist", lit(h)).localCheckpoint()
      reach = reach.unionByName(nxt).localCheckpoint()
      frontier = nxt
    }
    reach
  }

  /** Bounded owner chase: each object of `oi` starts at its owner in
    * `own` (o, p), or itself when it has none, then follows `own`
    * `rounds - 1` more steps. Returns (o, r), r being where the chase
    * stopped: an object with no owner, or the end of a chain (or
    * cycle) deeper than `rounds` — both deterministic. Each step is
    * one hash join of fixed-width rows against the owner table.
    */
  private def chaseOwners(oi: DataFrame, own: DataFrame, rounds: Int): DataFrame = {
    var p = oi.select(col("obj_id").as("o")).join(own, Seq("o"), "left")
      .select(col("o"), coalesce(col("p"), col("o")).as("r"))
    for (_ <- 1 until rounds)
      p = p.join(own.select(col("o").as("r"), col("p").as("__p2")), Seq("r"), "left")
        .select(col("o"), coalesce(col("__p2"), col("r")).as("r"))
    p
  }

  /** B20 — shared-object census: the in-degree distribution of the
    * reference graph rolled up by REFERENCED type. High max_in_deg on
    * a value-like type (boxed numbers, interned-able strings, shared
    * byte arrays) is the sharing signal the dup checks approach from
    * the content side — this is the same waste read off the graph
    * side, and the natural first question of any retained-size
    * investigation. Targets without an index row (unresolved ids)
    * drop, mirroring the reference's resolver behavior.
    */
  def referrerStats: Option[DataFrame] = for {
    edges <- refEdges
    oi <- t.system("_object_index")
  } yield {
    val deg = edges.groupBy("dst").agg(count(lit(1)).as("in_deg"))
    deg.join(oi, deg("dst") === oi("obj_id"))
      .groupBy("type_name")
      .agg(count(lit(1)).as("n_referenced"),
        sum("in_deg").as("n_refs"),
        max("in_deg").as("max_in_deg"))
  }

  /** B28 — weak/soft/phantom reference census: per Reference-subtype
    * class, total reference objects, CLEARED ones (referent = 0 —
    * the collector already took the target; a large cleared
    * population that never shrinks means reference processing or the
    * owning map's expunge isn't running), and LIVE ones (still
    * pointing at a reachable target). These are exactly the referent
    * edges refEdges excludes from the liveness graph — the census is
    * their first-class read: WeakHashMap health, soft-cache pressure,
    * finalizer backlog. Scan-shaped: one pass over each
    * reference-class table (type set and slot names are
    * driver-bounded class metadata), one dimension-keyed aggregate.
    */
  def referenceCensus: Option[DataFrame] = for {
    _ <- t.system("_class_hierarchy")
    (_, referent) <- objectSlots
  } yield {
    val frames = referent.flatMap { case (cls, fld) =>
      t.byClass(cls).map(df => df.select(lit(cls).as("ref_class"),
        HeapTables.refField(df, fld).as("referent")))
    }
    import t.spark.implicits._
    frames.reduceOption(_ unionByName _)
      .map(_.groupBy("ref_class").agg(
        count(lit(1)).as("n_total"),
        sum(when(col("referent") === 0L, 1L).otherwise(0L)).as("n_cleared"),
        sum(when(col("referent") =!= 0L, 1L).otherwise(0L)).as("n_live"))
        .orderBy("ref_class"))
      .getOrElse(Seq.empty[(String, Long, Long, Long)]
        .toDF("ref_class", "n_total", "n_cleared", "n_live"))
  }

  /** B21 — unique-owner ownership collapse, the first-order retained
    * size: an object with exactly ONE incoming reference is wholly
    * owned by its referrer, so ownership chains (String→byte[],
    * List→Object[]→elements — the chains real leak reports are made
    * of) collapse upward. `rounds` linear owner-chase steps assign
    * every object an owner ROOT (an object not uniquely owned, or a
    * chain deeper than `rounds` — both deterministically stay put);
    * the rollup reports, per root TYPE, how many roots exist, how
    * many objects collapse into them, and the worst single owner.
    * Exact retained size needs a dominator tree; this is the cheap
    * graph half that covers the single-referrer majority, and every
    * step replays in SQL as an unrolled LEFT JOIN.
    *
    * Scale shape: `own` is one aggregate of the edge scan; each round
    * is one hash join of fixed-width (o, p) rows against the
    * owner-sized table; the rollup is an aggregate + index join. No
    * driver state beyond the bounded `_fields` metadata.
    */
  def ownershipCollapse(rounds: Int = 8): Option[DataFrame] = for {
    edges <- refEdges
    oi <- t.system("_object_index")
  } yield {
    val own = edges.groupBy("dst")
      .agg(count(lit(1)).as("__deg"), min("src").as("p"))
      .filter(col("__deg") === 1)
      .select(col("dst").as("o"), col("p"))
      .localCheckpoint() // consumed once per round
    val sizes = chaseOwners(oi, own, rounds).groupBy("r").agg(count(lit(1)).as("owned"))
    sizes.join(oi, sizes("r") === oi("obj_id"))
      .groupBy("type_name")
      .agg(count(lit(1)).as("n_roots"), sum("owned").as("total_owned"),
        max("owned").as("max_owned"))
  }

  /** B22 (support) — per-object shallow-size estimate, derivable from
    * the export alone: primitive arrays are header + n×width, object
    * arrays header + n×ref, instances header + the summed slot widths
    * of the class's FULL `_fields` layout (exact for the compressed-
    * oops model the other checks use; classes without field rows fall
    * back to a bare header). The reference stops at a flat per-type
    * estimate (`check_estimated_shallow_size`); this is the per-object
    * refinement retained-size aggregation needs.
    */
  def perObjectShallowSizes: Option[DataFrame] = t.system("_object_index").map { oi =>
    val primTypes = Seq(("boolean", 1), ("byte", 1), ("char", 2), ("short", 2),
      ("int", 4), ("float", 4), ("long", 8), ("double", 8))
    val primSizes = primTypes.flatMap { case (pt, w) =>
      t.system(s"_primitive_arrays_$pt").map(df =>
        df.select(col("obj_id"),
          (lit(ArrayHeader) + size(col("values")).cast("long") * w).as("bytes")))
    }
    val arrSizes = primSizes ++ t.system("_object_arrays").map(df =>
      df.select(col("obj_id"),
        (lit(ArrayHeader) + size(col("elements")).cast("long") * RefSize).as("bytes"))).toSeq
    val arrays = arrSizes.reduceOption(_ unionByName _)
    val width = when(col("field_type").isin("boolean", "byte"), 1L)
      .when(col("field_type").isin("char", "short"), 2L)
      .when(col("field_type").isin("long", "double"), 8L)
      .when(col("field_type") === "object", RefSize)
      .otherwise(4L) // int, float
    val classSizes = t.system("_fields").map(
      _.groupBy("class_name").agg((lit(ObjectHeader) + sum(width)).as("inst_bytes"))
        .withColumnRenamed("class_name", "type_name"))
    val nonArrays = arrays match {
      case Some(a) => oi.join(a.select("obj_id"), Seq("obj_id"), "left_anti")
      case None => oi
    }
    val inst = classSizes match {
      case Some(cs) => nonArrays.join(cs, Seq("type_name"), "left")
        .select(col("obj_id"), coalesce(col("inst_bytes"), lit(ObjectHeader)).as("bytes"))
      case None => nonArrays.select(col("obj_id"), lit(ObjectHeader).as("bytes"))
    }
    arrays.map(inst.unionByName(_)).getOrElse(inst)
  }

  /** Per-type (count, shallow bytes) census — the histogram both the
    * single-dump reports and the two-dump growth diff (B25) aggregate
    * from; one join of the object index against the per-object sizes,
    * one aggregate.
    */
  def typeSizeCensus: Option[DataFrame] = for {
    oi <- t.system("_object_index")
    sizes <- perObjectShallowSizes
  } yield oi.join(sizes, Seq("obj_id"), "left")
    .groupBy("type_name")
    .agg(count(lit(1)).as("n_objects"),
      sum(coalesce(col("bytes"), lit(0L))).as("shallow_bytes"))

  /** Shared B22/B27 core: the (r, owned, retained) per-final-root
    * frame — every object assigned to the root its ownership chain
    * (unique-owner collapse + one diamond-adoption pass) ends at,
    * with shallow bytes summed per root.
    */
  private def retainedPerRoot(chaseRounds: Int): Option[DataFrame] = for {
    fin <- finalOwnership(chaseRounds)
    sizes <- perObjectShallowSizes
  } yield fin.join(sizes.withColumnRenamed("obj_id", "o"), Seq("o"))
    .groupBy(col("r"))
    .agg(count(lit(1)).as("owned"), sum("bytes").as("retained"))

  /** The (o, r) final ownership assignment both B22 rollups and the
    * B30 attribution matrix aggregate from: unique-owner collapse,
    * one diamond-adoption pass, bounded chase.
    */
  private def finalOwnership(chaseRounds: Int): Option[DataFrame] = for {
    ref <- refGraph
    oi <- t.system("_object_index")
  } yield {
    val deg = ref.groupBy("dst")
      .agg(count(lit(1)).as("__deg"), min("src").as("__only"))
      .localCheckpoint() // consumed by own1 and the shared-node prune
    val own1 = deg.filter(col("__deg") === 1)
      .select(col("dst").as("o"), col("__only").as("p"))
      .localCheckpoint() // consumed once per chase round, twice
    val r0 = chaseOwners(oi, own1, chaseRounds).localCheckpoint()
    val shared = deg.filter(col("__deg") >= 2).select(col("dst").as("o"))
    val adopt = ref.join(shared, ref("dst") === shared("o"))
      .select(shared("o"), ref("src"))
      .join(r0.withColumnRenamed("o", "src"), Seq("src"))
      .groupBy("o")
      .agg(countDistinct("r").as("__nr"), min("r").as("__r"))
      .filter(col("__nr") === 1 && col("__r") =!= col("o"))
      .select(col("o"), col("__r").as("p"))
    val own2 = own1.unionByName(adopt).localCheckpoint()
    chaseOwners(oi, own2, chaseRounds)
  }

  /** B30 — retained-attribution MATRIX: retained bytes grouped by
    * (root type, owned type) — MAT's "class histogram grouped by
    * dominator" reduced to the distributed bounded-ownership answer.
    * Where B22 says "HashMap roots retain 4 MB", the matrix says
    * WHAT that 4 MB is made of (byte[] payloads vs Node spine vs
    * boxed keys) — the breakdown that turns "this type is heavy"
    * into an actionable fix. Same approximation contract as B22
    * (under-collapse, never over-attribution); one extra hash join
    * against the object index per side, aggregate is
    * type-pair-bounded.
    */
  def retainedMatrix(chaseRounds: Int = 4): Option[DataFrame] = for {
    fin <- finalOwnership(chaseRounds)
    sizes <- perObjectShallowSizes
    oi <- t.system("_object_index")
  } yield fin
    .join(sizes.withColumnRenamed("obj_id", "o"), Seq("o"))
    .join(oi.select(col("obj_id").as("o"), col("type_name").as("owned_type")), Seq("o"))
    .join(oi.select(col("obj_id").as("r"), col("type_name").as("root_type")), Seq("r"))
    .groupBy("root_type", "owned_type")
    .agg(count(lit(1)).as("n_objects"), sum("bytes").as("bytes"))

  /** B22 — dominator-approximate retained size: "what does deleting X
    * free?" answered per root type. The exact answer is a dominator
    * tree (Lengauer–Tarjan); this is the bounded-round distributed
    * approximation over the B20 edge set, strictly tighter than B21:
    *
    *  1. unique-referrer targets (distinct in-degree 1) are owned by
    *     that referrer — chased `chaseRounds` owner steps upward;
    *  2. a SHARED target whose referrers ALL collapse to one common
    *     root is owned by that root (the diamond case: A→B→D, A→C→D
    *     gives D to A — the dominator answer first-order ownership
    *     misses); referrers with differing roots keep the target a
    *     root of its own ("kept alive by multiple", the conservative
    *     MAT answer);
    *  3. one more `chaseRounds` chase folds adopted subtrees in, and
    *     every object's shallow bytes roll up to its final root.
    *
    * Approximation contract (stated, deterministic): chains deeper
    * than `chaseRounds` and diamonds-of-diamonds beyond one adoption
    * pass stay put (under-collapse, never over-attribution); cycles
    * resolve by bounded unroll exactly as B21. Scale shape: every
    * step is an aggregate or hash join of fixed-width (o, p) rows —
    * the label-propagation discipline of Components.scala — and the
    * only driver-resident state is the bounded `_fields` metadata.
    */
  def retainedSize(chaseRounds: Int = 4): Option[DataFrame] = for {
    perRoot <- retainedPerRoot(chaseRounds)
    oi <- t.system("_object_index")
  } yield perRoot.join(oi, perRoot("r") === oi("obj_id"))
    .groupBy("type_name")
    .agg(count(lit(1)).as("n_roots"), sum("owned").as("total_owned"),
      sum("retained").as("retained_bytes"), max("retained").as("max_retained"))

  /** B27 — biggest single objects by retained bytes (the MAT
    * "Biggest Objects" pie, per object instead of B22's per-type
    * rollup): the top-N final ownership roots with what each owns and
    * retains — the artifact that names the ONE cache/buffer/list a
    * heap investigation should delete first. Same approximation
    * contract as B22 (chains beyond the chase bound and
    * diamonds-of-diamonds under-collapse, never over-attribute).
    * Global top-N is a TakeOrdered over the root-count-sized frame
    * (deterministic via the obj_id tie-break), never a full sort of
    * the object stream.
    */
  def retainedTopObjects(chaseRounds: Int = 4, limit: Int = 20): Option[DataFrame] = for {
    perRoot <- retainedPerRoot(chaseRounds)
    oi <- t.system("_object_index")
  } yield perRoot.join(oi, perRoot("r") === oi("obj_id"))
    .select(col("r").as("obj_id"), col("type_name"), col("owned"),
      col("retained").as("retained_bytes"))
    .orderBy(col("retained_bytes").desc, col("obj_id"))
    .limit(limit)

  /** B33 — EXACT dominator-tree retained size (the MAT-exact answer
    * B22/B27 bound from below): per reachable object, the number of
    * objects it strictly dominates and the exact retained bytes
    * (its dominator-subtree shallow sum) — v dominates u iff every
    * GC-root path to u passes through v, equivalently u becomes
    * unreachable when v is removed, which is what the gate's DuckDB
    * oracle replays literally. Computed with the iterative dominator
    * dataflow of Cooper, Harvey & Kennedy ("A Simple, Fast Dominance
    * Algorithm", 2001) over a virtual super-root that edges to every
    * GC root, then subtree sums in reverse postorder.
    *
    * Tier contract (stated): this is the AUDIT tier — the graph is
    * collected to the driver, which is the right architecture for
    * heap dumps: a dump is a single-machine artifact (MAT computes
    * exact dominators the same way), and the distributed B22/B27
    * approximation carries the 100 TB many-dumps story. Since round
    * 14 the driver-side representation is dense-int CSR over
    * primitive arrays (ids remapped by binary search — no boxed maps,
    * no per-node cons cells): steady memory is ~52 bytes/node +
    * ~16 bytes/edge, so the default bound covers a 16M-object dump in
    * ~1.3 GB — 5× the 3M-object bench dump, 8× the previous bound.
    * The id/edge collection folds each partition's arrays into the
    * CSR builders and frees them immediately (round-15 advice), so
    * the TRANSIENT peak stays near the steady figure instead of the
    * ~2.5× a full collect-then-build would hold at once.
    * On graphs past the bound, use B22 and treat its numbers as the
    * documented lower bound.
    */
  def exactDominatorTop(limit: Int = 25,
      maxNodes: Int = 16000000): Option[DataFrame] = for {
    ref <- refGraph
    oi <- t.system("_object_index")
    gcr <- t.system("_gc_roots")
    sizes <- perObjectShallowSizes
  } yield {
    val spark = oi.sparkSession
    import spark.implicits._
    // phase clock for the bench-readable breakdown (companion doc)
    val phaseSecs = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    var phaseMark = System.nanoTime()
    def endPhase(name: String): Unit = {
      val now = System.nanoTime()
      phaseSecs(name) = phaseSecs.getOrElse(name, 0.0) + (now - phaseMark) / 1e9
      phaseMark = now
    }
    val ids: Array[Long] = {
      val parts: Array[Array[Long]] = oi.select("obj_id").rdd.mapPartitions { it =>
        val b = new scala.collection.mutable.ArrayBuilder.ofLong
        it.foreach(r => b += r.getLong(0))
        Iterator(b.result())
      }.collect()
      val a = new Array[Long](parts.iterator.map(_.length).sum)
      var off = 0
      // copy-and-free, as in the edge fold below: keep peak memory at
      // one id array + the partition being copied, not two full copies
      locally {
        var pi = 0
        while (pi < parts.length) {
          val p = parts(pi)
          System.arraycopy(p, 0, a, off, p.length); off += p.length
          parts(pi) = null; pi += 1
        }
      }
      java.util.Arrays.sort(a); a
    }
    endPhase("ids_collect")
    require(ids.length <= maxNodes,
      s"exactDominatorTop is the bounded audit tier: ${ids.length} objects " +
        s"exceed maxNodes=$maxNodes — use the distributed B22 approximation")
    val n = ids.length + 1
    // node index = 1 + position in the sorted id array; 0 = super-root
    def lookup(id: Long): Int = {
      val i = java.util.Arrays.binarySearch(ids, id)
      if (i >= 0) i + 1 else 0 // 0 doubles as "unresolved" and is filtered below
    }
    // edge collection as per-partition PRIMITIVE long arrays in ONE
    // job (toLocalIterator would run a sequential job per partition —
    // 32 scheduler round-trips; an Array[Row] collect would box 4M
    // rows on the driver)
    val (eSrc, eDst) = {
      val parts: Array[(Array[Long], Array[Long])] =
        ref.rdd.mapPartitions { it =>
          val bs = new scala.collection.mutable.ArrayBuilder.ofLong
          val bd = new scala.collection.mutable.ArrayBuilder.ofLong
          it.foreach { r => bs += r.getLong(0); bd += r.getLong(1) }
          Iterator((bs.result(), bd.result()))
        }.collect()
      val bs = new scala.collection.mutable.ArrayBuilder.ofInt
      val bd = new scala.collection.mutable.ArrayBuilder.ofInt
      bs.sizeHint(parts.iterator.map(_._1.length).sum + 64)
      bd.sizeHint(parts.iterator.map(_._1.length).sum + 64)
      // fold-and-free: each partition's collected Long pairs (16 B/edge)
      // are released as soon as they land in the int builders, so peak
      // driver memory stays near the documented steady CSR figure
      // (~52 B/node + 16 B/edge) instead of the collect and the builders
      // coexisting in full (a ~2.5× transient that could OOM a driver
      // sized to the steady bound near maxNodes)
      locally {
        var pi = 0
        while (pi < parts.length) {
          val (ss, ds) = parts(pi)
          var i = 0
          while (i < ss.length) {
            val s0 = lookup(ss(i)); val d0 = lookup(ds(i))
            if (s0 != 0 && d0 != 0 && s0 != d0) { bs += s0; bd += d0 }
            i += 1
          }
          parts(pi) = null
          pi += 1
        }
      }
      gcr.select("obj_id").distinct().collect().foreach { r =>
        val d0 = lookup(r.getLong(0))
        if (d0 != 0) { bs += 0; bd += d0 }
      }
      (bs.result(), bd.result())
    }
    endPhase("edge_collect")
    val m = eSrc.length
    // successor CSR: counting sort by src
    val succOff = new Array[Int](n + 1)
    locally {
      var i = 0
      while (i < m) { succOff(eSrc(i) + 1) += 1; i += 1 }
      i = 0
      while (i < n) { succOff(i + 1) += succOff(i); i += 1 }
    }
    val succ = new Array[Int](m)
    locally {
      val fill = java.util.Arrays.copyOf(succOff, n)
      var i = 0
      while (i < m) { succ(fill(eSrc(i))) = eDst(i); fill(eSrc(i)) += 1; i += 1 }
    }
    // reverse postorder from the super-root — iterative DFS on two
    // explicit int stacks (node + CSR child cursor); rpo(v) = -1
    // marks unreachable
    val rpoNum = Array.fill(n)(-1)
    val order = new Array[Int](n) // rpo position -> node
    val reachCount = {
      val seen = new Array[Boolean](n)
      val post = new Array[Int](n)
      var nPost = 0
      val stkNode = new Array[Int](n)
      val stkPtr = new Array[Int](n)
      var top = 0
      stkNode(0) = 0; stkPtr(0) = succOff(0); seen(0) = true
      while (top >= 0) {
        val v = stkNode(top)
        val p = stkPtr(top)
        if (p < succOff(v + 1)) {
          stkPtr(top) = p + 1
          val h = succ(p)
          if (!seen(h)) {
            seen(h) = true
            top += 1
            stkNode(top) = h; stkPtr(top) = succOff(h)
          }
        } else {
          post(nPost) = v; nPost += 1
          top -= 1
        }
      }
      var i = 0
      while (i < nPost) { // reverse postorder
        val v = post(nPost - 1 - i)
        rpoNum(v) = i; order(i) = v
        i += 1
      }
      nPost
    }
    // predecessor CSR within the reachable subgraph
    val predOff = new Array[Int](n + 1)
    locally {
      var i = 0
      while (i < m) {
        if (rpoNum(eSrc(i)) >= 0 && rpoNum(eDst(i)) >= 0) predOff(eDst(i) + 1) += 1
        i += 1
      }
      i = 0
      while (i < n) { predOff(i + 1) += predOff(i); i += 1 }
    }
    val pred = new Array[Int](predOff(n))
    locally {
      val fill = java.util.Arrays.copyOf(predOff, n)
      var i = 0
      while (i < m) {
        if (rpoNum(eSrc(i)) >= 0 && rpoNum(eDst(i)) >= 0) {
          pred(fill(eDst(i))) = eSrc(i); fill(eDst(i)) += 1
        }
        i += 1
      }
    }
    endPhase("csr_rpo")
    // Cooper-Harvey-Kennedy iteration to the fixpoint
    val idom = Array.fill(n)(-1)
    idom(0) = 0
    def intersect(a0: Int, b0: Int): Int = {
      var a = a0; var b = b0
      while (a != b) {
        while (rpoNum(a) > rpoNum(b)) a = idom(a)
        while (rpoNum(b) > rpoNum(a)) b = idom(b)
      }
      a
    }
    var changed = true
    while (changed) {
      changed = false
      var i = 1
      while (i < reachCount) {
        val v = order(i)
        var newIdom = -1
        var j = predOff(v)
        while (j < predOff(v + 1)) {
          val p = pred(j)
          if (idom(p) >= 0)
            newIdom = if (newIdom < 0) p else intersect(p, newIdom)
          j += 1
        }
        if (newIdom >= 0 && idom(v) != newIdom) { idom(v) = newIdom; changed = true }
        i += 1
      }
    }
    endPhase("chk_fixpoint")
    // per-node shallow bytes into a primitive array aligned with the
    // sorted id array (binary search, no boxed map) — same one-job
    // per-partition primitive collect as the edges
    val bytesOf = new Array[Long](n)
    java.util.Arrays.fill(bytesOf, 16L) // default for ids missing a size row
    locally {
      val parts: Array[(Array[Long], Array[Long])] =
        sizes.select("obj_id", "bytes").rdd.mapPartitions { it =>
          val bi = new scala.collection.mutable.ArrayBuilder.ofLong
          val bb = new scala.collection.mutable.ArrayBuilder.ofLong
          it.foreach { r => bi += r.getLong(0); bb += r.getLong(1) }
          Iterator((bi.result(), bb.result()))
        }.collect()
      parts.foreach { case (is, bs) =>
        var i = 0
        while (i < is.length) {
          val v = lookup(is(i))
          if (v != 0) bytesOf(v) = bs(i)
          i += 1
        }
      }
      bytesOf(0) = 0L
    }
    endPhase("sizes_collect")
    // subtree shallow sums + counts in reverse RPO (children before
    // parents: idom(v) always precedes v in RPO)
    val total = new Array[Long](n)
    val nsub = new Array[Long](n)
    for (i <- 0 until reachCount) {
      val v = order(i)
      if (v != 0) { total(v) = bytesOf(v); nsub(v) = 1L }
    }
    var i = reachCount - 1
    while (i >= 1) {
      val v = order(i)
      total(idom(v)) += total(v)
      nsub(idom(v)) += nsub(v)
      i -= 1
    }
    // top-`limit` selection happens driver-side on the primitive
    // arrays (bounded ordered buffer — never a 3M-tuple Seq, never a
    // cluster sort of per-node rows); only the winners become a
    // DataFrame, joined against the object index for type names
    val topOrd = Ordering.by[(Long, Long, Long), (Long, Long)] {
      case (id, _, ret) => (-ret, id)
    }
    var top = Vector.empty[(Long, Long, Long)] // kept sorted, ≤ limit entries
    var v = 1
    while (v < n) {
      if (rpoNum(v) >= 0) {
        val cand = (ids(v - 1), nsub(v) - 1L, total(v))
        if (top.size < limit || topOrd.lt(cand, top.last)) {
          val at = top.indexWhere(topOrd.gt(_, cand))
          top = (if (at < 0) top :+ cand else (top.take(at) :+ cand) ++ top.drop(at))
            .take(limit)
        }
      }
      v += 1
    }
    endPhase("sums_topk")
    HeapAnalysis.lastDominatorPhases = phaseSecs.toMap
    top.toDF("obj_id", "n_dominated", "retained_bytes")
      .join(oi.select("obj_id", "type_name"), Seq("obj_id"))
      .select("obj_id", "type_name", "n_dominated", "retained_bytes")
      .orderBy(col("retained_bytes").desc, col("obj_id"))
  }

  /** B23 — GC-root reachability distance: per-object minimum hop
    * count from any GC root along the B20 reference edges, rolled up
    * per type — the "why is X alive / is X reachable at all" answer
    * (MAT's path-to-GC-roots, reduced to the distance census that is
    * computable distributed). A type with n_reached = 0 within
    * `maxHops` is either garbage-in-waiting or held only through
    * edges outside the exported field model (statics, JNI structures)
    * — both worth a look; min_dist says how directly a root pins the
    * type (1 = root-adjacent), max_dist how deep its liveness chains
    * run.
    *
    * Frontier BFS ([[reachFrom]]): total exchange is O(reachable
    * edges) — the scale shape Bellman-style re-relaxation lacks.
    * First-reach depth IS the minimum distance, so the result equals
    * a `maxHops`-round Bellman unroll (the form the SQL oracle
    * replays) exactly. Approximation contract: objects
    * whose shortest root path exceeds `maxHops` report unreached —
    * deterministic, never over-claimed.
    */
  def rootReachability(maxHops: Int = 8): Option[DataFrame] = for {
    ref <- refGraph
    roots <- t.system("_gc_roots")
    oi <- t.system("_object_index")
  } yield oi.join(reachFrom(ref, roots.select("obj_id"), maxHops), Seq("obj_id"), "left")
    .groupBy("type_name")
    .agg(count(lit(1)).as("n_objects"),
      sum(when(col("dist").isNotNull, 1L).otherwise(0L)).as("n_reached"),
      coalesce(min("dist").cast("long"), lit(-1L)).as("min_dist"),
      coalesce(max("dist").cast("long"), lit(-1L)).as("max_dist"))

  /** B31 — per-root-KIND reachable census: for each GC-root kind
    * (JNI global, sticky class, thread object, Java frame, …), the
    * objects and shallow bytes reachable within `maxHops` from THAT
    * kind's roots — "how much memory is pinned via JNI vs threads vs
    * classes", the attribution that says which retention CHANNEL to
    * investigate before any per-type drilldown. Labeled frontier BFS
    * ([[reachFrom]]) keyed by (root_type, obj), so one pass answers
    * every kind at once; per-kind totals overlap by design (an object
    * reachable from two kinds counts in both — attribution, not
    * partition). Same bounded-hop contract as B23.
    */
  def rootKindReachability(maxHops: Int = 8): Option[DataFrame] = for {
    ref <- refGraph
    roots <- t.system("_gc_roots")
    sizes <- perObjectShallowSizes
  } yield reachFrom(ref, roots.select("root_type", "obj_id"), maxHops)
    .join(sizes, Seq("obj_id"), "left")
    .groupBy("root_type")
    .agg(count(lit(1)).as("n_reached"),
      sum(coalesce(col("bytes"), lit(0L))).as("reached_bytes"))

  /** B24 — exemplar shortest PATH to a GC root, per type: B23 answers
    * "how far from a root"; the question an investigation acts on is
    * "held alive through WHAT" — the concrete root→…→object chain
    * (MAT's path-to-GC-roots). Deterministic derivation with no
    * per-node parent tracking in the BFS: after the B23 distance pass,
    * parent(d) = MIN(src) over edges whose src sits exactly one hop
    * closer (every node at dist h has one — that is what dist h
    * means), the per-type exemplar is the (min dist, then min id)
    * reached object, and the path unrolls by walking parents at most
    * maxHops times. Every walk frame is type-count-sized (broadcast
    * side); the parent table is derived once and checkpointed, so the
    * unroll joins never replay the BFS.
    */
  def rootPathExemplars(maxHops: Int = 8): Option[DataFrame] = for {
    ref <- refGraph
    roots <- t.system("_gc_roots")
    oi <- t.system("_object_index")
  } yield {
    val dist = reachFrom(ref, roots.select("obj_id"), maxHops)
    val ds = dist.select(col("obj_id").as("src"), col("dist").as("sd"))
    val dd = dist.select(col("obj_id").as("pdst"), col("dist").as("dd"))
    val parent = ref.join(ds, Seq("src"))
      .join(dd, ref("dst") === dd("pdst"))
      .where(col("sd") + 1 === col("dd"))
      .groupBy(col("dst")).agg(min("src").as("parent"))
      .localCheckpoint()
    // two exemplars per type: the root-NEAREST instance (why is this
    // type reachable at all) and the DEEPEST one (what chain its far
    // tail hangs off — the one that exposes multi-hop structure);
    // ties break to the smallest id on both
    val reached = oi.join(dist, Seq("obj_id"))
    val nearest = reached.groupBy("type_name")
      .agg(min(struct(col("dist"), col("obj_id"))).as("m"))
      .select(col("type_name"), lit("nearest").as("kind"),
        col("m.obj_id").as("exemplar_id"), col("m.dist").as("dist"))
    val deepest = reached.groupBy("type_name")
      .agg(min(struct((-col("dist")).as("nd"), col("obj_id"))).as("m"))
      .select(col("type_name"), lit("deepest").as("kind"),
        col("m.obj_id").as("exemplar_id"), (-col("m.nd")).as("dist"))
    val exemplar = nearest.unionByName(deepest)
    var walk = exemplar.select(col("type_name"), col("kind"), col("exemplar_id"),
      col("dist"), col("exemplar_id").as("node_id"), col("dist").as("step"))
    var acc = walk
    for (_ <- 1 to maxHops) {
      walk = walk.where(col("step") > 0)
        .join(parent, walk("node_id") === parent("dst"))
        .select(col("type_name"), col("kind"), col("exemplar_id"), col("dist"),
          col("parent").as("node_id"), (col("step") - 1).as("step"))
      acc = acc.unionByName(walk)
    }
    val nodeTypes = oi.select(col("obj_id").as("node_id"),
      col("type_name").as("node_type"))
    acc.join(nodeTypes, Seq("node_id"), "left")
      .select(col("type_name"), col("kind"), col("exemplar_id"),
        col("dist").cast("long").as("dist"), col("step").cast("long").as("step"),
        col("node_id"), coalesce(col("node_type"), lit("(root)")).as("node_type"))
  }

  def checkThreadStacks(): Option[WasteFinding] = t.system("_stack_traces").flatMap { traces =>
    val traceCount = traces.count()
    if (traceCount == 0) None else {
      val sub = scala.collection.mutable.ArrayBuffer.empty[String]
      var alive = 0L; var totalThreads = 0L
      threadStatusBreakdown.foreach { th =>
        val statusRows = th.collect()
        val decoded = statusRows.map { r =>
          val s = r.getInt(0); val c = r.getLong(1)
          totalThreads += c
          val flags = if (s == 0) Seq("NEW") else Seq(
            0x0001 -> "ALIVE", 0x0002 -> "TERMINATED", 0x0004 -> "RUNNABLE",
            0x0010 -> "WAITING", 0x0020 -> "TIMED_WAITING", 0x0080 -> "SLEEPING",
            0x0100 -> "IN_OBJECT_WAIT", 0x0200 -> "PARKED", 0x0400 -> "BLOCKED")
            .collect { case (bit, nm) if (s & bit) != 0 => nm }
          if (s != 0 && (s & 0x0001) != 0 && (s & 0x0002) == 0) alive += c
          (if (flags.nonEmpty) flags.mkString("|") else s"UNKNOWN($s)") -> c
        }
        sub += s"java.lang.Thread instances: $totalThreads (alive: $alive, terminated: ${totalThreads - alive})"
        sub += s"HPROF stack trace records: $traceCount"
        sub += "Thread status breakdown:"
        decoded.foreach { case (st, c) => sub += f"  $c%6d  $st" }
      }
      if (totalThreads == 0) sub += s"HPROF stack trace records: $traceCount"

      val depthRows = stackDepthDistribution.map(_.collect()).getOrElse(Array.empty)
      if (depthRows.nonEmpty) {
        sub += "Stack depth distribution:"
        depthRows.foreach(r => sub += f"  ${r.getString(0)}%12s: ${r.getLong(1)}")
      }
      t.system("_stack_frames").foreach { frames =>
        val pool = frames.filter(col("class_name").like("%Thread%") ||
            col("class_name").like("%Pool%") || col("class_name").like("%Executor%") ||
            col("class_name").like("%Worker%"))
          .groupBy("class_name").agg(count(lit(1)).as("cnt"))
          .orderBy(col("cnt").desc).limit(10).collect()
        if (pool.nonEmpty) {
          sub += "Top thread-related classes in frames:"
          pool.foreach(r => sub += f"  ${r.getLong(1)}%6d  ${r.getString(0)}")
        }
      }
      val effective = if (alive > 0) alive else traceCount
      val severity = if (effective > 5000) "CRITICAL" else if (effective > 2000) "HIGH"
        else if (effective > 1000) "MEDIUM" else "INFO"
      Some(WasteFinding("Thread Stacks", 2, severity, effective, effective * 512L * 1024,
        s"$effective alive threads" + (if (totalThreads > 0)
          s" ($totalThreads total Thread instances, ${totalThreads - alive} terminated)" else "") +
          ". Classloader leak threshold is typically >1000.",
        "High thread counts increase memory overhead (~512KB stack per thread) and GC pressure. Check for thread pool over-provisioning or unbounded thread creation.",
        sub.toSeq))
    }
  }

  // -- B17: duplicate object arrays -----------------------------------

  def checkDuplicateObjectArrays(): Option[WasteFinding] =
    dupObjectArrayStats.flatMap { df =>
      val r = df.collect()(0)
      val (total, uniq, wasted) =
        (r.getAs[Long]("total_dups"), r.getAs[Long]("unique_vals"), r.getAs[Long]("wasted_bytes"))
      if (total == 0) None else {
        Some(WasteFinding("Duplicate Object Arrays", 3, classifySeverity(wasted), total, wasted,
          s"$total duplicate object arrays across $uniq unique values (arrays 1-100 elements)",
          "Share immutable arrays or use flyweight pattern for identical element sequences"))
      }
    }

  // -- B18: estimated shallow size ------------------------------------

  /** B18 core: top-N types by instance count with the flat-estimate
    * shallow bytes (avg ObjectHeader+32 per object).
    */
  private def shallowSizeTopLocal(limit: Int): Option[Local] = census.map { case (f, counts) =>
    new Local(StructType(Seq(f, StructField("n_objs", LongType, nullable = false),
        StructField("est_bytes", LongType, nullable = false))),
      counts.sorted(countThenName).take(limit).map { case (n, c) => Row(n, c, c * (ObjectHeader + 32)) })
  }

  def shallowSizeTop(limit: Int = 50): Option[DataFrame] = shallowSizeTopLocal(limit).map(_.frame)

  def checkEstimatedShallowSize(): Option[WasteFinding] = shallowSizeTopLocal(50).flatMap { l =>
    val rows = l.rows
    if (rows.isEmpty) None else {
      val avgObj = ObjectHeader + 32
      val total = rows.map(_.getLong(1)).sum
      val est = rows.map(_.getLong(2)).sum
      Some(WasteFinding("Estimated Shallow Size (top 50 types)", 3, "INFO", total, 0L,
        s"Top 50 types estimated at ~${formatBytes(est)} (assuming avg ${avgObj}B per object)",
        "Use -XX:+PrintClassHistogram for exact shallow sizes. This is an approximation.",
        rows.take(15).map(r => s"  ${r.getString(0)}: ${r.getLong(1)} (~${formatBytes(r.getLong(2))})")))
    }
  }

  // -- B19: orchestrator ----------------------------------------------

  def runWasteAnalysis(maxTier: Int = 2, samplePct: Double = 100.0): Seq[WasteFinding] = {
    val checks: Seq[(Int, () => Option[WasteFinding])] = Seq(
      1 -> (() => checkDuplicateStrings(samplePct)),
      1 -> (() => checkBadCollections()),
      1 -> (() => checkBadObjectArrays()),
      1 -> (() => checkBadPrimitiveArrays()),
      1 -> (() => checkBoxedNumbers()),
      2 -> (() => checkCollectionSizing()),
      2 -> (() => checkDuplicateByteArrays()),
      2 -> (() => checkClassCount()),
      2 -> (() => checkGcRoots()),
      2 -> (() => checkDirectByteBuffers()),
      2 -> (() => checkThreadStacks()),
      3 -> (() => checkDuplicateObjectArrays()),
      3 -> (() => checkEstimatedShallowSize()))
    // run the independent checks concurrently: each is a few small
    // driver-blocking jobs whose latency, not data volume, dominates
    // on a small heap, so a small pool overlaps their waits. Results
    // are gathered in declaration order, so the stable sort's
    // tie-break order is unchanged.
    val selected = checks.filter(_._1 <= maxTier)
    inJobGroup(math.max(1, math.min(4, selected.size))) { implicit ec =>
      val fs = selected.map { case (_, f) => scala.concurrent.Future(f()) }
      fs.flatMap(scala.concurrent.Await.result(_, concurrentSectionTimeout))
        .sortBy(f => (f.severityRank, -f.estimatedWasteBytes))
    }
  }

  /** Runs `body` on an execution context of `threads` pool threads
    * whose Spark jobs all carry one fresh job group. If `body` throws
    * (a failed or timed-out section), the pool is interrupted and the
    * group's jobs, running or submitted later, are cancelled before
    * the error propagates: the sibling sections must not keep running
    * Spark jobs in the background.
    */
  private def inJobGroup[A](threads: Int)(body: scala.concurrent.ExecutionContext => A): A = {
    val sc = t.spark.sparkContext
    val group = s"$JobGroupPrefix${java.util.UUID.randomUUID()}"
    val pool = java.util.concurrent.Executors.newFixedThreadPool(threads)
    val ec = new scala.concurrent.ExecutionContext {
      def execute(task: Runnable): Unit = pool.execute { () =>
        sc.setJobGroup(group, s"heap analysis of ${t.dir}", interruptOnCancel = true)
        task.run()
      }
      def reportFailure(e: Throwable): Unit = scala.concurrent.ExecutionContext.defaultReporter(e)
    }
    try body(ec) catch {
      case e: Throwable =>
        pool.shutdownNow()
        sc.cancelJobGroupAndFutureJobs(group)
        throw e
    } finally pool.shutdown()
  }

  /** Bound on every concurrent waste-check/report-section await: the
    * happy path completes in seconds, so a generous bound changes
    * nothing there, but a wedged Spark job now surfaces as a
    * TimeoutException instead of hanging the report path forever.
    */
  private val concurrentSectionTimeout =
    scala.concurrent.duration.Duration(30, java.util.concurrent.TimeUnit.MINUTES)

  /** Structured analysis result with the reference MCP tool's shape
    * (server.py analyze_heap: summary / top_types / categories /
    * byte_array_distribution / large_byte_arrays / waste_findings /
    * total_estimated_waste) as a JSON string — the machine-readable
    * counterpart of renderReport.
    *
    * @param graph include the B20-B28 graph sections (referrers /
    *              ownership / retained / reachability / exemplars /
    *              classloaders / top retained / references) — the
    *              expensive closure passes; `false` = summary + waste
    *              checks only, the reference tool's exact surface at a
    *              fraction of the cost (the HTTP gate's setting).
    */
  def analyzeJson(topN: Int = 30, waste: Boolean = true, maxTier: Int = 2,
      sessionId: String = "", graph: Boolean = true): String = {
    import graft.Json.{arr => jArr, obj => jObj, rowJson, rowsJson, str => jStr}
    def dfRows(dfOpt: Option[DataFrame]): String =
      dfOpt.fold("[]")(df => rowsJson(df.columns.toSeq, df.collect().toSeq))
    def localRows(l: Option[Local]): String =
      l.fold("[]")(l => rowsJson(l.schema.fieldNames.toSeq, l.rows))
    // reference shape (server.py analyze_heap): summary is ONE object,
    // not a row array, next to session/dir metadata
    def localRow(l: Option[Local]): String =
      l.flatMap(l => l.rows.headOption.map(rowJson(l.schema.fieldNames.toSeq, _))).getOrElse("null")
    // independent sections run concurrently, as in runWasteAnalysis:
    // each is a few small driver-blocking jobs, so a small pool
    // overlaps their waits. Names are assembled in declaration order,
    // so the JSON document does not depend on completion order.
    import scala.concurrent.{Await, Future}
    def await(kvs: Seq[(String, Future[String])]): Seq[(String, String)] =
      kvs.map { case (k, f) => k -> Await.result(f, concurrentSectionTimeout) }
    val withWaste = inJobGroup(4) { implicit ec =>
      val base = Seq(
        "session_id" -> Future.successful(
          if (sessionId.nonEmpty) jStr(sessionId) else "null"),
        "parquet_dir" -> Future.successful(jStr(t.dir)),
        "summary" -> Future(localRow(summaryLocal)),
        "top_types" -> Future(localRows(topTypesLocal(topN))),
        "categories" -> Future(localRows(categoryBreakdownLocal)),
        "byte_array_distribution" -> Future(localRows(byteArrayDistributionLocal)),
        "large_byte_arrays" -> Future(dfRows(largeByteArrays())))
      if (!waste) await(base) else {
        // the waste suite runs on ITS OWN pool inside runWasteAnalysis,
        // concurrent with the sections futures above/below
        val findingsF = Future(runWasteAnalysis(maxTier))
        // B20-B22 graph sections ride with the full (waste) analysis:
        // the quick look stays scan-cheap, the report answers "who
        // shares it / who owns it / what would deleting it free"
        val graphSections = if (!graph) Seq.empty else Seq(
          "referrer_stats" -> Future(dfRows(referrerStats.map(
            _.orderBy(col("n_refs").desc, col("type_name")).limit(topN)))),
          "ownership" -> Future(dfRows(ownershipCollapse().map(
            _.orderBy(col("total_owned").desc, col("type_name")).limit(topN)))),
          "retained" -> Future(dfRows(retainedSize().map(
            _.orderBy(col("retained_bytes").desc, col("type_name")).limit(topN)))),
          "root_reachability" -> Future(dfRows(rootReachability().map(
            _.orderBy(col("n_objects").desc, col("type_name")).limit(topN)))),
          "path_exemplars" -> Future(dfRows(rootPathExemplars().map(
            _.orderBy(col("type_name"), col("kind"), col("step")).limit(topN * 8)))),
          "classloaders" -> Future(dfRows(classloaderCensus.map(_.limit(topN)))),
          "top_retained" -> Future(dfRows(retainedTopObjects(limit = topN))),
          "references" -> Future(dfRows(referenceCensus.map(_.limit(topN)))))
        val findings = Await.result(findingsF, concurrentSectionTimeout)
        val total = findings.map(_.estimatedWasteBytes).sum
        await(base ++ graphSections) ++ Seq(
          "waste_findings" -> jArr(findings.map(f => jObj(Seq(
            "check_name" -> jStr(f.checkName),
            "tier" -> f.tier.toString,
            "severity" -> jStr(f.severity),
            "affected_count" -> f.affectedCount.toString,
            "estimated_waste_bytes" -> f.estimatedWasteBytes.toString,
            "estimated_waste_human" -> jStr(formatBytes(f.estimatedWasteBytes)),
            "details" -> jStr(f.details),
            "recommendation" -> jStr(f.recommendation),
            "sub_findings" -> jArr(f.subFindings.map(jStr)))))),
          "total_estimated_waste" -> jStr(formatBytes(total)),
          "total_estimated_waste_bytes" -> total.toString)
      }
    }
    jObj(withWaste)
  }

  def renderReport(findings: Seq[WasteFinding]): String = {
    val sb = new StringBuilder
    sb.append("=== HEAP WASTE ANALYSIS ===\n")
    findings.foreach { f =>
      sb.append(f"\n[${f.severity}] ${f.checkName} (tier ${f.tier})\n")
      sb.append(s"  affected: ${f.affectedCount}  est. waste: ${formatBytes(f.estimatedWasteBytes)}\n")
      sb.append(s"  ${f.details}\n")
      f.subFindings.foreach(s => sb.append(s"  $s\n"))
      sb.append(s"  -> ${f.recommendation}\n")
    }
    sb.toString
  }
}

object HeapAnalysis {
  /** Wall-clock phase breakdown of this JVM's most recent
    * [[HeapAnalysis.exactDominatorTop]] run (ids_collect,
    * edge_collect, csr_rpo, chk_fixpoint, sizes_collect, sums_topk),
    * seconds. Written once per run, read by the bench so the
    * slow-tier q_heap_dominators_big cost is ATTRIBUTABLE in the
    * record before anyone tunes it (round-15 stretch task).
    */
  @volatile var lastDominatorPhases: Map[String, Double] = Map.empty

  /** Prefix of the Spark job group each `runWasteAnalysis` and
    * `analyzeJson` call runs its concurrent sections under.
    */
  val JobGroupPrefix = "graft-heap-analysis-"

  // 64-bit JVM, compressed oops (analyze_heap_parquet.py:36-47)
  val ObjectHeader = 16L
  val ArrayHeader = 16L
  val RefSize = 4L
  val HashMapEntry = 32L
  val HashMapShell = 48L
  val ArrayListShell = 40L
  val LinkedListShell = 48L
  val LinkedListNode = 24L
  val TreeMapEntry = 48L
  val ChmShell = 64L
  val ChmNode = 32L
  val StringObjOverhead = 40L

  /** Spark's ascending order of strings: UTF-8 bytes, nulls first. */
  private[heap] val SparkStringOrder: Ordering[String] = (a, b) =>
    if (a == null || b == null) java.lang.Boolean.compare(a != null, b != null)
    else UTF8String.fromString(a).compareTo(UTF8String.fromString(b))

  /** The report's category of a type name, by the first matching
    * substring or prefix; a null name is "Other".
    */
  private[heap] def category(typeName: String): String = {
    def has(subs: String*) = typeName != null && subs.exists(typeName.contains)
    if (has("kafka", "Kafka")) "Kafka"
    else if (has("MBean", "javax.management", "jmx")) "JMX/MBeans"
    else if (has("netty", "Netty")) "Netty"
    else if (has("rocksdb", "RocksDB")) "RocksDB"
    else if (has("grpc", "Grpc")) "gRPC"
    else if (has("guava", "google.common")) "Guava"
    else if (typeName != null && Seq("java.", "sun.", "jdk.").exists(typeName.startsWith)) "JDK"
    else "Other"
  }

  def classifySeverity(wasteBytes: Long): String =
    if (wasteBytes > 100L * 1024 * 1024) "CRITICAL"
    else if (wasteBytes > 10L * 1024 * 1024) "HIGH"
    else if (wasteBytes > 1024 * 1024) "MEDIUM"
    else if (wasteBytes > 100 * 1024) "LOW"
    else "INFO"

  def formatBytes(n: Long): String =
    if (n >= 1024L * 1024 * 1024) f"${n / (1024.0 * 1024 * 1024)}%.1f GB"
    else if (n >= 1024 * 1024) f"${n / (1024.0 * 1024)}%.1f MB"
    else if (n >= 1024) f"${n / 1024.0}%.1f KB"
    else s"$n B"
}
