package graft

import graft.operators.{Curate, Dedup, Similarity}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Command-line surface for the training-data pipeline operators:
  *
  *   graft.PipelineCli curate   <docs.parquet> <outDir> [minTokens]
  *   graft.PipelineCli dedup    <docs.parquet> <outDir>
  *   graft.PipelineCli neardup  <docs.parquet> <outDir> [threshold]
  *   graft.PipelineCli knn      <emb.parquet> <queries.parquet> <outDir> [k]
  *   graft.PipelineCli ivf-build <emb.parquet> <indexDir> [nLists]
  *   graft.PipelineCli ivf-append <indexDir> <emb.parquet>
  *   graft.PipelineCli ivf-remove <indexDir> <ids.parquet>
  *   graft.PipelineCli ivf-query <indexDir> <queries.parquet> <outDir> [k] [nProbe]
  *   graft.PipelineCli redact   <docs.parquet> <outDir>
  *   graft.PipelineCli kmv-build <in.parquet> <tableDir> <groupCol> <valueCol> [k] [shard]
  *   graft.PipelineCli kmv-estimate <tableDir> <outDir> [shard,shard,...]
  *   graft.PipelineCli kmv-remove-shard <tableDir> <shard>
  *   graft.PipelineCli cs-build <in.parquet> <gridDir> <valueCol> [width] [depth]
  *   graft.PipelineCli cs-estimate <gridDir> <outDir> <marker,marker,...>
  *   graft.PipelineCli cs-inner <gridDirA> <gridDirB> <outDir>
  *   graft.PipelineCli cs-topk <in.parquet> <valueCol> <outDir> [width] [depth] [k]
  *
  * Input schemas: docs(doc_id, text), emb(vec_id, embedding).
  */
object PipelineCli {

  import SparkFactory.session

  /** Read-or-write the (width, depth) params row of a CountSketch
    * grid dir: `requested` Some on build (first build records, later
    * builds refuse a mismatch), None on read paths (params must
    * already exist).
    */
  private def csParams(spark: SparkSession, gridDir: String,
      requested: Option[(Int, Int)]): (Int, Int) = {
    val p = new org.apache.hadoop.fs.Path(s"$gridDir/params")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) {
      val row = spark.read.parquet(p.toString).select("width", "depth").head()
      val stored = (row.getInt(0), row.getInt(1))
      requested.foreach(r => require(r == stored,
        s"grid at $gridDir was built with (width,depth)=$stored but this " +
          s"invocation uses $r; delete the grid dir to change params"))
      stored
    } else requested match {
      case Some((w, d)) =>
        spark.range(1).select(lit(w).as("width"), lit(d).as("depth"))
          .coalesce(1).write.mode("errorifexists").parquet(p.toString)
        (w, d)
      case None => sys.error(s"no CountSketch grid at $gridDir (missing params)")
    }
  }

  def main(args: Array[String]): Unit = args.toList match {
    case "curate" :: in :: out :: rest =>
      val spark = session()
      val minTokens = rest.headOption.map(_.toInt).getOrElse(10)
      Curate.curate(spark.read.parquet(in), "doc_id", "text", minTokens = minTokens)
        .write.mode("overwrite").parquet(out)
      spark.stop()
    case "dedup" :: in :: out :: Nil =>
      val spark = session()
      Dedup.dropExactDuplicates(spark.read.parquet(in), "doc_id", "text")
        .write.mode("overwrite").parquet(out)
      spark.stop()
    case "neardup" :: in :: out :: rest =>
      val spark = session()
      val threshold = rest.headOption.map(_.toDouble).getOrElse(0.6)
      Dedup.minhashLsh(spark.read.parquet(in), "doc_id", "text",
          shingleN = 3, numHashes = 12, numBands = 4, threshold = threshold)
        .write.mode("overwrite").parquet(out)
      spark.stop()
    case "knn" :: emb :: queries :: out :: rest =>
      val spark = session()
      val k = rest.headOption.map(_.toInt).getOrElse(10)
      Similarity.knnBruteForce(spark.read.parquet(emb), spark.read.parquet(queries),
          "vec_id", "embedding", k)
        .write.mode("overwrite").parquet(out)
      spark.stop()
    case "ivf-build" :: emb :: indexDir :: rest =>
      val spark = session()
      val nLists = rest.headOption.map(_.toInt).getOrElse(64)
      Similarity.writeIvfIndex(spark.read.parquet(emb), "vec_id", "embedding",
        nLists = nLists, dir = indexDir)
      spark.stop()
    case "ivf-query" :: indexDir :: queries :: out :: rest =>
      val spark = session()
      val k = rest.headOption.map(_.toInt).getOrElse(10)
      val nProbe = rest.drop(1).headOption.map(_.toInt).getOrElse(8)
      Similarity.knnIvfIndexed(spark, indexDir, spark.read.parquet(queries),
          "vec_id", "embedding", k = k, nProbe = nProbe)
        .write.mode("overwrite").parquet(out)
      spark.stop()
    case "ivf-append" :: indexDir :: emb :: Nil =>
      val spark = session()
      Similarity.appendIvfIndex(spark, indexDir, spark.read.parquet(emb),
        "vec_id", "embedding")
      spark.stop()
    case "ivf-remove" :: indexDir :: ids :: Nil =>
      // ids.parquet needs a vec_id column; rewrites only touched cells
      val spark = session()
      Similarity.removeDocsFromIvfIndex(spark, indexDir,
        spark.read.parquet(ids), "vec_id")
      spark.stop()
    case "redact" :: in :: out :: Nil =>
      val spark = session()
      spark.read.parquet(in)
        .withColumn("text", graft.functions.TextFunctions.redactPii(col("text")))
        .write.mode("overwrite").parquet(out)
      spark.stop()
    case "kmv-build" :: in :: table :: groupCol :: valueCol :: rest =>
      // one bottom-k shard write per invocation (append cadence);
      // k is params-as-law after the first write
      val spark = session()
      val k = rest.headOption.map(_.toInt).getOrElse(64)
      val shard = rest.drop(1).headOption.getOrElse("0")
      graft.operators.Sketches.writeKmvShard(
        spark.read.parquet(in), groupCol, valueCol, k, table, shard)
      spark.stop()
    case "kmv-estimate" :: table :: out :: rest =>
      // distinct estimates per group from the sketch table alone;
      // optional comma-separated shard subset
      val spark = session()
      val shards = rest.headOption.map(_.split(",").toSeq)
      graft.operators.Sketches.kmvEstimateFromShards(spark, table, shards)
        .write.mode("overwrite").parquet(out)
      spark.stop()
    case "kmv-remove-shard" :: table :: shard :: Nil =>
      val spark = session()
      graft.operators.Sketches.removeKmvShard(spark, table, shard)
      spark.stop()
    case "cs-build" :: in :: gridDir :: valueCol :: rest =>
      // one CountSketch grid per invocation; (width, depth) are
      // params-as-law after the first build — a grid merged or
      // compared under different hashing params is silently garbage,
      // so mismatch refuses exactly like the kmv table's k
      val spark = session()
      val width = rest.headOption.map(_.toInt).getOrElse(256)
      val depth = rest.drop(1).headOption.map(_.toInt).getOrElse(5)
      val (w, d) = csParams(spark, gridDir, Some((width, depth)))
      graft.operators.Sketches.countSketchGrid(
          spark.read.parquet(in), valueCol, w, d)
        .write.mode("overwrite").parquet(s"$gridDir/grid")
      spark.stop()
    case "cs-estimate" :: gridDir :: out :: markers :: Nil =>
      val spark = session()
      val (w, d) = csParams(spark, gridDir, None)
      graft.operators.Sketches.countSketchEstimates(
          spark.read.parquet(s"$gridDir/grid"), markers.split(",").toSeq, w, d)
        .write.mode("overwrite").parquet(out)
      spark.stop()
    case "cs-inner" :: dirA :: dirB :: out :: Nil =>
      val spark = session()
      val (wa, da) = csParams(spark, dirA, None)
      val (wb, db) = csParams(spark, dirB, None)
      require(wa == wb && da == db,
        s"inner product needs matching grids: ($wa,$da) vs ($wb,$db)")
      graft.operators.Sketches.countSketchInner(
          spark.read.parquet(s"$dirA/grid"), spark.read.parquet(s"$dirB/grid"), da)
        .write.mode("overwrite").parquet(out)
      spark.stop()
    case "cs-topk" :: in :: valueCol :: out :: rest =>
      // heavy-hitter extraction reads the CORPUS (it scores the
      // vocabulary and exact-verifies the survivors), so unlike
      // cs-estimate it takes the input table, not a grid dir
      val spark = session()
      val width = rest.headOption.map(_.toInt).getOrElse(256)
      val depth = rest.drop(1).headOption.map(_.toInt).getOrElse(5)
      val k = rest.drop(2).headOption.map(_.toInt).getOrElse(20)
      graft.operators.Sketches.countSketchTopK(
          spark.read.parquet(in), valueCol, width, depth, k)
        .orderBy("rank")
        .write.mode("overwrite").parquet(out)
      spark.stop()
    case other =>
      System.err.println(s"unknown command: ${other.mkString(" ")}")
      System.err.println(
        "commands: curate | dedup | neardup | knn | ivf-build | ivf-append | " +
          "ivf-remove | ivf-query | redact | kmv-build | kmv-estimate | " +
          "kmv-remove-shard | cs-build | cs-estimate | cs-inner | cs-topk")
      sys.exit(2)
  }
}
