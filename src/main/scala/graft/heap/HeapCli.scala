package graft.heap

/** Command-line surface mirroring the reference binary + analysis
  * script (`dump-objects-to-parquet`, `count-records`, `dump-objects`,
  * `analyze_heap_parquet.py`, `query_heap`):
  *
  *   graft.heap.HeapCli convert <dump.hprof> <outDir> [--resolve-refs]
  *   graft.heap.HeapCli count-records <dump.hprof>
  *   graft.heap.HeapCli dump-objects <dump.hprof> [limit]
  *   graft.heap.HeapCli analyze <parquetDir> [maxTier]
  *   graft.heap.HeapCli analyze-json <parquetDir> [maxTier]
  *   graft.heap.HeapCli query <parquetDir> <sql>
  *
  * Run via spark-submit on a cluster or `sbt "runMain ..."` locally.
  */
object HeapCli {

  import graft.SparkFactory.session

  def main(args: Array[String]): Unit = args.toList match {
    case "convert" :: hprof :: out :: rest =>
      val spark = session()
      new HeapDump(spark, hprof).writeParquet(out, resolveRefs = rest.contains("--resolve-refs"))
      println(s"wrote heap tables to $out")
      spark.stop()
    case "count-records" :: hprof :: Nil =>
      val spark = session()
      new HeapDump(spark, hprof).countRecords.collect()
        .foreach(r => println(f"${r.getLong(1)}%10d  ${r.getString(0)}"))
      spark.stop()
    case "dump-objects" :: hprof :: rest =>
      val spark = session()
      val limit = rest.headOption.map(_.toInt).getOrElse(100)
      new HeapDump(spark, hprof).renderObjects(limit).foreach(println)
      spark.stop()
    case "analyze" :: dir :: rest =>
      val spark = session()
      val maxTier = rest.headOption.map(_.toInt).getOrElse(2)
      val an = new HeapAnalysis(new HeapTables(spark, dir))
      an.summary.foreach(df => { println("== summary =="); df.show(false) })
      an.topTypes().foreach(df => { println("== top types =="); df.show(30, truncate = false) })
      println(an.renderReport(an.runWasteAnalysis(maxTier)))
      spark.stop()
    case "analyze-json" :: dir :: rest =>
      val spark = session()
      val maxTier = rest.headOption.map(_.toInt).getOrElse(2)
      println(new HeapAnalysis(new HeapTables(spark, dir)).analyzeJson(maxTier = maxTier))
      spark.stop()
    case "query" :: dir :: sql :: Nil =>
      val spark = session()
      HeapSql.query(spark, dir, sql).show(100, truncate = false)
      spark.stop()
    case "diff" :: dirBefore :: dirAfter :: Nil =>
      val spark = session()
      import org.apache.spark.sql.functions.col
      HeapDiff.typeDelta(new HeapTables(spark, dirBefore), new HeapTables(spark, dirAfter))
        .map(_.orderBy(col("delta_bytes").desc, col("type_name")))
        .foreach(_.show(50, truncate = false))
      spark.stop()
    case "diff-retained" :: dirBefore :: dirAfter :: Nil =>
      val spark = session()
      import org.apache.spark.sql.functions.col
      HeapDiff.retainedDelta(new HeapTables(spark, dirBefore), new HeapTables(spark, dirAfter))
        .map(_.orderBy(col("delta_retained").desc, col("type_name")))
        .foreach(_.show(50, truncate = false))
      spark.stop()
    case other =>
      System.err.println(s"unknown command: ${other.mkString(" ")}")
      System.err.println("commands: convert | count-records | dump-objects | analyze | analyze-json | query | diff | diff-retained")
      sys.exit(2)
  }
}
