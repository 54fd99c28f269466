package graft

import graft.operators.Dedup
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** D51 — the bloom prefilter must be invisible in results (exact
  * verification removes false positives; false negatives are
  * impossible by construction) while actually pruning the anti-join
  * input. These pin equality with the plain incremental path, the
  * no-false-negative guarantee, the prefilter's selectivity, and the
  * empty-corpus edge.
  */
class BloomDedupSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._
  private val sf = "/root/testdata/sf0.001"

  private def docs = Tables(spark, sf, "documents").select("doc_id", "lang", "text")

  test("bloomIncremental equals incremental bit-for-bit on testdata") {
    val corpus = Dedup.corpusHashIndex(docs.filter(col("doc_id") % 3 === 0), "text")
    val batch = docs.filter(col("doc_id") % 3 =!= 0)
    val plain = Dedup.incremental(batch, corpus, "doc_id", "text")
      .select("doc_id", "content_hash").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    val bloomed = Dedup.bloomIncremental(batch, corpus, "doc_id", "text")
      .select("doc_id", "content_hash").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(plain.nonEmpty)
    assert(bloomed === plain)
  }

  test("no false negatives: every corpus hash probes true") {
    val corpus = Dedup.corpusHashIndex(docs, "text").localCheckpoint()
    val bloom = Dedup.corpusBloom(corpus, expectedItems = 10000L).get
    val misses = corpus
      .filter(!Dedup.mightContainBloom(bloom, col("content_hash"))).count()
    assert(misses === 0L)
  }

  test("prefilter prunes: most non-corpus hashes probe false") {
    val corpus = Dedup.corpusHashIndex(docs.filter(col("doc_id") % 3 === 0), "text")
    val bloom = Dedup.corpusBloom(corpus, expectedItems = 10000L).get
    // distinct batch-only hashes; dup rate across thirds is low, so
    // nearly all of these are absent from the corpus
    val batchHashes = Dedup.corpusHashIndex(docs.filter(col("doc_id") % 3 =!= 0), "text")
      .join(corpus.select(col("content_hash").as("__c")),
        col("content_hash") === col("__c"), "left_anti")
      .localCheckpoint()
    val total = batchHashes.count()
    val falsePos = batchHashes
      .filter(Dedup.mightContainBloom(bloom, col("content_hash"))).count()
    assert(total > 100, s"fixture too small: $total")
    // default fpp is 3%; 20% is an astronomically safe ceiling
    assert(falsePos.toDouble / total < 0.2, s"$falsePos of $total probed true")
  }

  test("empty corpus: everything fresh, keep-first within batch") {
    val corpus = Dedup.corpusHashIndex(docs.filter(lit(false)), "text")
    val batch = Seq((1L, "en", "a"), (2L, "en", "a"), (3L, "en", "b"))
      .toDF("doc_id", "lang", "text")
    val got = Dedup.bloomIncremental(batch, corpus, "doc_id", "text")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(got === Set(1L, 3L))
  }

  test("keep-first keeps one row per text when an id repeats across texts") {
    val batch = Seq((5L, "A"), (5L, "B"), (3L, "B"), (7L, "C")).toDF("doc_id", "text")
    val empty = Seq.empty[String].toDF("content_hash")
    // a non-empty index that matches nothing: bloomIncremental's own path
    val other = Dedup.corpusHashIndex(Seq("Z").toDF("text"), "text")
    for (index <- Seq(empty, other)) {
      for ((name, out) <- Seq(
          "incremental" -> Dedup.incremental(batch, index, "doc_id", "text"),
          "bloomIncremental" -> Dedup.bloomIncremental(batch, index, "doc_id", "text", 100L),
          "dropExactDuplicates" -> Dedup.dropExactDuplicates(batch, "doc_id", "text"))) {
        val got = out.select("doc_id", "text").collect().map(r => (r.getLong(0), r.getString(1))).sorted.toSeq
        assert(got === Seq((3L, "B"), (5L, "A"), (7L, "C")), name)
      }
    }
  }

  test("bloom bytes are deterministic for a given index") {
    val corpus = Dedup.corpusHashIndex(docs.filter(col("doc_id") % 3 === 0), "text")
    val a = Dedup.corpusBloom(corpus, 10000L).get
    val b = Dedup.corpusBloom(corpus.repartition(7), 10000L).get
    assert(java.util.Arrays.equals(a, b),
      "filter bytes must not depend on physical partitioning")
  }

  // --- D115: Bloom-sketched tier of the gram-index span guard -------

  test("gram bloom sketch: exact recall (no false negatives) and span superset") {
    val work = java.nio.file.Files.createTempDirectory("graft_gram_bloom_spec")
    val corpus = docs.filter(col("doc_id") % 2 === 0)
    val batch = docs.filter(col("doc_id") % 2 === 1)
    val exactDir = work.resolve("exact").toString
    val sketchDir = work.resolve("sketch").toString
    Dedup.writeGramIndex(corpus, "doc_id", "text", n = 5, exactDir)
    Dedup.writeGramBloomIndex(corpus, "doc_id", "text", n = 5, sketchDir,
      numBuckets = 8, fppPpm = 10000L)
    // per-position recall contract: zero exact dup starts unseen by
    // the sketch, on every doc
    val audit = Dedup.sketchGuardRecallAudit(spark, exactDir, sketchDir,
      batch, "doc_id", "text").collect()
    assert(audit.nonEmpty)
    assert(audit.forall(_.getAs[Long]("missed_by_sketch") == 0L),
      "bloom sketch missed an exact dup gram — false negative")
    // the sketch report dominates the exact report per doc (superset
    // of flagged starts => counts >=, first_dup <=)
    val exact = Dedup.incrementalDuplicatedSpans(spark, exactDir, batch,
      "doc_id", "text").collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("dup_ngrams"), r.getAs[Long]("covered_tok"), r.getAs[Int]("first_dup"))).toMap
    val sk = Dedup.incrementalDuplicatedSpansSketch(spark, sketchDir, batch,
      "doc_id", "text").collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("dup_ngrams"), r.getAs[Long]("covered_tok"), r.getAs[Int]("first_dup"))).toMap
    assert(exact.keySet === sk.keySet)
    exact.foreach { case (id, (dn, cov, fd)) =>
      val (sdn, scov, sfd) = sk(id)
      assert(sdn >= dn && scov >= cov, s"doc $id: sketch report below exact")
      if (fd >= 0) assert(sfd >= 0 && sfd <= fd, s"doc $id: sketch first_dup after exact")
    }
    // the sketch is materially smaller than the exact index on disk
    def bytes(p: String): Long = {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(java.nio.file.Paths.get(p)).iterator().asScala
        .filter(java.nio.file.Files.isRegularFile(_))
        .map(java.nio.file.Files.size).sum
    }
    assert(bytes(s"$sketchDir/bloom") * 3 < bytes(s"$exactDir/grams"),
      s"sketch ${bytes(s"$sketchDir/bloom")} B not materially smaller than exact ${bytes(s"$exactDir/grams")} B")
  }

  test("gram bloom sketch probe plan never scans the index directory") {
    val work = java.nio.file.Files.createTempDirectory("graft_gram_bloom_plan")
    val d = work.resolve("s").toString
    Dedup.writeGramBloomIndex(docs.limit(60), "doc_id", "text", n = 3, d,
      numBuckets = 4, fppPpm = 50000L)
    val probe = Dedup.incrementalDuplicatedSpansSketch(spark, d,
      docs.limit(20), "doc_id", "text")
    val plan = probe.queryExecution
      .explainString(org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    // the whole point of the sketch tier: the blooms ride a broadcast
    // (collected at call time), so the probe PLAN reads only the
    // batch — no scan of the persisted index, no semi-join against a
    // corpus-scale gram table
    assert(!plan.contains(d), s"probe plan scans the index dir:\n$plan")
    assert(!plan.contains("LeftSemi"), s"probe plan semi-joins an index table:\n$plan")
  }

  test("gram bloom sketch: build params are law (bucket layout pinned, rebuild refused)") {
    val work = java.nio.file.Files.createTempDirectory("graft_gram_bloom_spec2")
    val d = work.resolve("s").toString
    Dedup.writeGramBloomIndex(docs.limit(50), "doc_id", "text", n = 3, d,
      numBuckets = 4, fppPpm = 50000L)
    // a re-build with DIFFERENT params must refuse — a bloom folded
    // under another gram size or bucket layout is a silent
    // false-negative factory
    intercept[IllegalArgumentException] {
      Dedup.writeGramBloomIndex(docs.limit(50), "doc_id", "text", n = 4, d,
        numBuckets = 4, fppPpm = 50000L)
    }
    intercept[IllegalArgumentException] {
      Dedup.writeGramBloomIndex(docs.limit(50), "doc_id", "text", n = 3, d,
        numBuckets = 8, fppPpm = 50000L)
    }
    // a re-build with MATCHING params routes through the OR-merge
    // append — idempotent, still one bucket table
    Dedup.writeGramBloomIndex(docs.limit(50), "doc_id", "text", n = 3, d,
      numBuckets = 4, fppPpm = 50000L)
    val buckets = spark.read.parquet(s"$d/bloom").select("bucket").collect().map(_.getInt(0))
    assert(buckets.length === buckets.distinct.length, "duplicate bucket rows after re-build")
    // recall audit refuses mismatched gram sizes across tiers
    val exactDir = work.resolve("e").toString
    Dedup.writeGramIndex(docs.limit(50), "doc_id", "text", n = 5, exactDir)
    intercept[IllegalArgumentException] {
      Dedup.sketchGuardRecallAudit(spark, exactDir, d,
        docs.limit(10), "doc_id", "text")
    }
  }

  test("gram bloom sketch REBUILD (the tier's delete story): survivors keep flagging, removed-only grams stop") {
    import spark.implicits._
    val work = java.nio.file.Files.createTempDirectory("bloom_rebuild")
    val d = work.resolve("s").toString
    // doc 0 (to be deleted) has unique grams; doc 2 (survivor) shares
    // one gram span with it and owns another
    val corpus = Seq(
      (0L, "x y z u v w"),   // grams: "x y z","y z u","z u v","u v w"
      (2L, "x y z p q r"))   // shares "x y z"; owns "y z p","z p q","p q r"
      .toDF("doc_id", "text")
    Dedup.writeGramBloomIndex(corpus, "doc_id", "text", n = 3, d,
      numBuckets = 4, fppPpm = 1000L)
    val probe = Seq((11L, "x y z"), (13L, "u v w"), (17L, "p q r"))
      .toDF("doc_id", "text")
    def hits(): Map[Long, Long] =
      Dedup.incrementalDuplicatedSpansSketch(spark, d, probe, "doc_id", "text")
        .collect().map(r => r.getLong(0) -> r.getAs[Long]("dup_ngrams")).toMap
    val before = hits()
    assert(before(11L) === 1L && before(13L) === 1L && before(17L) === 1L)
    // rebuild from the survivor only — the sketch cannot subtract
    // bits, so delete = staged survivor fold (same publish protocol)
    Dedup.rebuildGramBloomIndex(spark, d,
      corpus.filter($"doc_id" === 2L), "doc_id", "text")
    val after = hits()
    assert(after(11L) === 1L, "shared gram must keep flagging (survivor owns it)")
    assert(after(17L) === 1L, "survivor-only gram must keep flagging")
    assert(after(13L) === 0L,
      "removed-only gram must stop flagging after the rebuild (and the " +
        "probe cache must have been invalidated by the publish)")
    // params survive the rebuild; a mismatched follow-up still refuses
    intercept[IllegalArgumentException] {
      Dedup.writeGramBloomIndex(corpus, "doc_id", "text", n = 4, d,
        numBuckets = 4, fppPpm = 1000L)
    }
    Dedup.unloadBloomIndex(d)
  }
}
