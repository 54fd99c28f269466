package graftbench

import graft.operators.{Components, Curate, Dedup}
import graft.streaming.StreamingOps
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.StreamingQueryProgress
import scala.collection.mutable.ArrayBuffer

/** `corpus`: a document corpus with planted duplicate families goes
  * through batch curation, edit-distance near-dup detection, and a
  * streamed curation fed in fixed micro-batches. Covers operators/ and
  * streaming/, which the heap workloads never touch.
  */
final class CorpusWorkload(ctx: Ctx) extends Workload {
  import CorpusWorkload._
  private val spark = ctx.spark
  import spark.implicits._
  private var corpus: Corpus = _
  private var docs: DataFrame = _
  private var expectedExact: Set[Long] = _
  private var expectedPairs: Set[(Long, Long)] = _
  private var streams = 0

  def inputProps: Seq[(String, String)] = corpus.props

  def prepare(): Unit = {
    val c = CorpusGen.generate(ctx.seed, Docs)
    ctx.ops.check("corpus input is identical across set-ups", corpus == null || corpus.sha256 == c.sha256)
    corpus = c
    expectedExact = c.ids.zip(c.texts).groupBy(_._2).values.map(_.map(_._1).min).toSet
    // planted pairs the edit-distance call must return: within the
    // distance budget and above its shingle-blocking threshold (3/5)
    expectedPairs = c.families.flatMap { f =>
      for (i <- f; j <- f if i < j) yield (i, j)
    }.filter { case (i, j) =>
      val (a, b) = (c.texts(i), c.texts(j))
      CorpusGen.levenshtein(a, b) <= math.max(a.length, b.length) * MaxDistPct / 100 &&
        CorpusGen.shingleJaccard(a, b, 3) >= 0.6
    }.map { case (i, j) => (c.ids(i), c.ids(j)) }.toSet
  }

  /** Writes the corpus to parquet and runs one warm-up job. */
  def warmup(): Unit = {
    val path = ctx.dir("corpus") + "/docs"
    corpus.ids.zip(corpus.texts).toSeq.toDF("doc_id", "text").repartition(ctx.cores)
      .write.mode("overwrite").parquet(path)
    docs = spark.read.parquet(path).filter(col("doc_id") <= WarmDocs)
    job(warm = true)
    docs = spark.read.parquet(path)
  }

  private def curate(): Array[Long] =
    Curate.curate(docs, "doc_id", "text").select("doc_id").as[Long].collect()

  private def checkCurate(out: Array[Long]): Seq[String] = {
    val texts = corpus.ids.zip(corpus.texts).toMap
    val problems = Seq.newBuilder[String]
    if (out.distinct.length != out.length) problems += "curate returned a document twice"
    if (out.map(texts).distinct.length != out.length) problems += "curate kept two exact duplicates"
    if (!out.forall(texts.contains)) problems += "curate returned an unknown id"
    problems.result()
  }

  private def editDist(): Array[(Long, Long, Long)] =
    Dedup.editDistancePairs(docs, "doc_id", "text", 3, MaxDistPct)
      .select("d1", "d2", "dist").as[(Long, Long, Long)].collect()

  private def checkEditDist(pairs: Array[(Long, Long, Long)]): Seq[String] = {
    val texts = corpus.ids.zip(corpus.texts).toMap
    val wrong = pairs.filterNot { case (a, b, d) =>
      val (x, y) = (texts(a), texts(b))
      CorpusGen.levenshtein(x, y) == d && d <= math.max(x.length, y.length) * MaxDistPct / 100
    }
    val found = pairs.map(p => (p._1, p._2)).toSet
    val missed = expectedPairs.diff(found)
    (if (wrong.nonEmpty) Seq(s"editDistancePairs: ${wrong.length} pairs fail the reference DP, e.g. ${wrong.head}")
      else Nil) ++
      (if (missed.nonEmpty) Seq(s"editDistancePairs: ${missed.size} planted pairs missing, e.g. ${missed.head}")
      else Nil)
  }

  /** Feeds `rows` to a new curateStream in `batches` micro-batches,
    * each one timed call, and returns the streamed survivors' ids.
    */
  private def stream(rows: Seq[(Long, String)], batches: Int,
      progress: ArrayBuffer[StreamingQueryProgress]): Set[Long] = {
    streams += 1
    val base = ctx.dir(s"corpus/stream-$streams")
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[(Long, String)]
    val q = StreamingOps.curateStream(input.toDF().toDF("doc_id", "text"), "doc_id", "text",
      s"$base/corpus", s"$base/ckpt")
    try {
      val per = (rows.size + batches - 1) / batches
      rows.grouped(per).foreach { b =>
        ctx.ops.call("batch") {
          ctx.tracer.span("StreamingOps.batch") {
            input.addData(b)
            q.processAllAvailable()
          }
        }
        progress ++= Option(q.lastProgress)
      }
    } finally q.stop()
    val out = spark.read.parquet(s"$base/corpus/docs").select("doc_id").as[Long].collect().toSet
    Files.rm(base)
    out
  }

  private def streamCall(warm: Boolean = false,
      progress: ArrayBuffer[StreamingQueryProgress] = ArrayBuffer.empty): Unit = {
    val rows = corpus.ids.zip(corpus.texts).toSeq
    val got = stream(if (warm) rows.take(WarmDocs) else rows, Batches, progress)
    if (!warm) ctx.ops.check("streamed survivors equal batch dropExactDuplicates", got == expectedExact)
  }

  /** Curate, then edit distance, then a streamed feed of the corpus;
    * a warm-up job runs on the first `WarmDocs` documents, unchecked.
    */
  private def job(warm: Boolean = false): Unit = ctx.tracer.span("corpus.job") {
    ctx.ops.call("curate")(ctx.tracer.span("Curate.curate")(curate()))
      .foreach(r => if (!warm) ctx.ops.verify(checkCurate(r._1)))
    ctx.ops.call("editdist")(ctx.tracer.span("Dedup.editDistancePairs")(editDist()))
      .foreach(r => if (!warm) ctx.ops.verify(checkEditDist(r._1)))
    ctx.tracer.span("StreamingOps.curateStream")(streamCall(warm))
  }

  def measure(seconds: Double): Measured = {
    ctx.ops.clear()
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    val jobs = Seq.newBuilder[Double]
    // at least two jobs: a job takes most of a window, and a run with
    // one sample reads far from runs with two
    var n = 0
    while (n < 2 || System.nanoTime() < deadline) {
      val t0 = System.nanoTime()
      ctx.tracer.request(job())
      jobs += (System.nanoTime() - t0) / 1e9
      n += 1
    }
    val batches = ctx.ops.ms("batch")
    Measured(jobs.result(), batches, Seq(
      ("curate_docs_per_s", Docs / (Stats.median(ctx.ops.ms("curate")) / 1e3), "1/s"),
      ("editdist_docs_per_s", Docs / (Stats.median(ctx.ops.ms("editdist")) / 1e3), "1/s"),
      ("stream_batch_ms", Stats.median(batches), "ms")))
  }

  def layers(): Seq[(String, Double)] = {
    val (exact, exactS, _) = ctx.alone("Dedup.dropExactDuplicates") {
      val e = Dedup.dropExactDuplicates(docs, "doc_id", "text").select("doc_id", "text").localCheckpoint()
      e.count(); e
    }
    val (pairs, jacS, _) = ctx.alone("Dedup.jaccardPairs") {
      val p = Dedup.jaccardPairs(exact, "doc_id", "text", 3, 0.6).localCheckpoint()
      p.count(); p
    }
    val (_, clusterS, _) = ctx.alone("Components.clusterDocuments") {
      Components.clusterDocuments(exact, "doc_id", pairs).count()
    }
    val (_, _, cu) = ctx.alone("Curate.curate")(curate())
    // the slowest task of the edit-distance call, from a listener of its own
    val slowest = new MaxTaskListener
    spark.sparkContext.addSparkListener(slowest)
    val (pairsOut, editS, ed) =
      try ctx.alone("Dedup.editDistancePairs")(editDist())
      finally spark.sparkContext.removeSparkListener(slowest)
    val ps = ArrayBuffer.empty[StreamingQueryProgress]
    val (_, streamS, st) = ctx.alone("StreamingOps.curateStream")(streamCall(progress = ps))
    def dur(k: String): Double = Stats.median(ps.toSeq.map(p =>
      Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)))
    Seq(
      "Dedup.exact_s" -> exactS,
      "Dedup.jaccard_pairs_s" -> jacS,
      "Dedup.jaccard_pairs" -> pairs.count().toDouble,
      "Components.cluster_s" -> clusterS,
      "Curate.jobs" -> cu.jobs.toDouble,
      "Curate.stages" -> cu.stages.toDouble,
      "Curate.task_s" -> cu.taskS,
      "Curate.shuffle_write_mb" -> cu.shuffleWrite / 1e6,
      "Dedup.editdist_s" -> editS,
      "Dedup.editdist_pairs" -> pairsOut.length.toDouble,
      "Dedup.editdist_stages" -> ed.stages.toDouble,
      "Dedup.editdist_tasks" -> ed.tasks.toDouble,
      "Dedup.editdist_task_s" -> ed.taskS,
      "Dedup.editdist_max_task_s" -> slowest.maxS,
      "Dedup.editdist_core_busy" -> ed.coreBusy(editS, ctx.cores),
      "StreamingOps.batch_trigger_ms" -> dur("triggerExecution"),
      "StreamingOps.batch_add_ms" -> dur("addBatch"),
      "StreamingOps.batch_wal_ms" -> dur("walCommit"),
      "StreamingOps.batch_jobs" -> st.jobs.toDouble / math.max(1, ps.size),
      "StreamingOps.rows_per_s" -> corpus.ids.length / streamS)
  }
}

final class MaxTaskListener extends org.apache.spark.scheduler.SparkListener {
  @volatile var maxS = 0.0
  override def onTaskEnd(e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
    if (e.taskMetrics != null) synchronized {
      maxS = math.max(maxS, e.taskMetrics.executorRunTime / 1e3)
    }
}

object CorpusWorkload {
  val Docs = 200
  val Batches = 3
  val WarmDocs = 50
  val MaxDistPct = 20
}
