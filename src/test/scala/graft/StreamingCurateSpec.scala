package graft

import graft.streaming.StreamingOps
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

/** E15 — continuous corpus curation: a document stream is
  * incrementally exact-deduped against the persisted corpus (hash
  * index only) and survivors appended, batch-stamped so replays are
  * idempotent. The streaming counterpart of Dedup.incremental.
  */
class StreamingCurateSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  test("stream batches dedupe against the growing corpus; first-wins survives") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft_curate_stream")
    val corpusDir = dir.resolve("corpus").toString
    val ckpt = dir.resolve("ckpt").toString
    val input = MemoryStream[(Long, String)]
    val q = StreamingOps.curateStream(
      input.toDF().toDF("doc_id", "text"), "doc_id", "text", corpusDir, ckpt)
    try {
      // batch 0: one intra-batch duplicate (11 vs 10)
      input.addData((10L, "alpha beta"), (11L, "alpha beta"), (12L, "gamma"))
      q.processAllAvailable()
      // batch 1: 20 duplicates corpus content, 21 is fresh, 22/23 dup each other
      input.addData((20L, "alpha beta"), (21L, "delta"), (22L, "eps"), (23L, "eps"))
      q.processAllAvailable()
    } finally q.stop()

    val docs = spark.read.parquet(s"$corpusDir/docs")
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(docs === Seq(10L, 12L, 21L, 22L))
    // hash index matches the surviving content exactly
    val nHashes = spark.read.parquet(s"$corpusDir/hashes")
      .select("content_hash").distinct().count()
    assert(nHashes === 4)

    // a NEW query over the same corpus (fresh checkpoint = replayed
    // world) still dedupes against persisted state
    val input2 = MemoryStream[(Long, String)]
    val q2 = StreamingOps.curateStream(
      input2.toDF().toDF("doc_id", "text"), "doc_id", "text",
      corpusDir, dir.resolve("ckpt2").toString)
    try {
      input2.addData((30L, "gamma"), (31L, "zeta"))
      q2.processAllAvailable()
    } finally q2.stop()
    val docs2 = spark.read.parquet(s"$corpusDir/docs")
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(docs2 === Seq(10L, 12L, 21L, 22L, 31L))
  }

  /** Stages `rows` as one parquet file named `name` in `staged`, with
    * modification time `mtime`, so a file source with
    * maxFilesPerTrigger 1 reads the staged files as one batch each, in
    * mtime order (the q_stream_curate set-up).
    */
  private def stage(staged: java.nio.file.Path, name: String, mtime: Long,
      rows: Seq[(Long, String)]): Unit = {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft_curate_stage").resolve("out").toString
    rows.toDF("doc_id", "text").coalesce(1).write.parquet(tmp)
    val part = new java.io.File(tmp).listFiles().filter(_.getName.endsWith(".parquet")).head
    val dest = staged.resolve(s"$name.parquet")
    java.nio.file.Files.copy(part.toPath, dest)
    dest.toFile.setLastModified(mtime)
  }

  test("a restart replays its uncommitted batch exactly once, then curates new files") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_curate_restart")
    val staged = dir.resolve("staged")
    java.nio.file.Files.createDirectories(staged)
    val corpusDir = dir.resolve("corpus").toString
    val ckpt = dir.resolve("ckpt").toString
    stage(staged, "b0", 1700000000000L, Seq((10L, "alpha"), (11L, "alpha"), (12L, "beta")))
    stage(staged, "b1", 1700000060000L, Seq((20L, "beta"), (21L, "gamma"), (22L, "delta")))
    def run(): Unit = {
      val stream = spark.readStream.schema("doc_id LONG, text STRING")
        .option("maxFilesPerTrigger", 1).parquet(staged.toString)
      val q = StreamingOps.curateStream(stream, "doc_id", "text", corpusDir, ckpt)
      try q.processAllAvailable() finally q.stop()
    }
    def docIds: Seq[Long] =
      spark.read.parquet(s"$corpusDir/docs").select("doc_id").as[Long].collect().sorted.toSeq
    def hashRows: Long = spark.read.parquet(s"$corpusDir/hashes").count()
    def hashFiles: Set[String] = new java.io.File(s"$corpusDir/hashes").list().toSet

    run()
    assert(docIds === Seq(10L, 12L, 21L, 22L))
    assert(hashRows === 4L)

    // forget batch 1's commit: the restarted run re-executes it first,
    // finds its hashes and writes nothing
    val commits = new java.io.File(ckpt, "commits")
    Seq("1", ".1.crc").foreach(n => assert(new java.io.File(commits, n).delete(), n))
    val before = hashFiles
    run()
    assert(new java.io.File(commits, "1").exists(), "the replayed batch committed")
    assert(docIds === Seq(10L, 12L, 21L, 22L))
    assert(hashRows === 4L)
    assert(hashFiles === before)

    // a new file after the replay is curated against everything before it
    stage(staged, "b2", 1700000120000L, Seq((30L, "gamma"), (31L, "eps"), (32L, "eps")))
    run()
    assert(docIds === Seq(10L, 12L, 21L, 22L, 31L))
    assert(hashRows === 5L)
  }

  test("a micro-batch after the first runs at most 5 Spark jobs") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft_curate_jobs")
    val input = MemoryStream[(Long, String)]
    val q = StreamingOps.curateStream(input.toDF().toDF("doc_id", "text"), "doc_id", "text",
      dir.resolve("corpus").toString, dir.resolve("ckpt").toString)
    val perBatch = new java.util.concurrent.ConcurrentHashMap[String, Int]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (js.properties != null && js.properties.getProperty("sql.streaming.queryId") == q.id.toString)
          Option(js.properties.getProperty("streaming.sql.batchId"))
            .foreach(b => perBatch.merge(b, 1, (a: Int, b: Int) => a + b))
    }
    val sc = spark.sparkContext
    org.apache.spark.ListenerDrain(sc)
    sc.addSparkListener(listener)
    try {
      Seq(Seq((1L, "a"), (2L, "a"), (3L, "b")), Seq((4L, "b"), (5L, "c"), (6L, "c")),
          Seq((7L, "a"), (8L, "d"))).foreach { b =>
        input.addData(b: _*)
        q.processAllAvailable()
      }
      org.apache.spark.ListenerDrain(sc)
    } finally {
      sc.removeSparkListener(listener)
      q.stop()
    }
    val jobs = (0 to 2).map(b => perBatch.getOrDefault(b.toString, 0))
    info(s"jobs per batch: ${jobs.mkString(", ")}")
    assert(jobs.forall(_ > 0), jobs)
    assert(jobs.tail.forall(_ <= 5), s"jobs per batch: $jobs")
  }
}
