package graft.operators

import graft.functions.TextFunctions._
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication operators for training-data pipelines (SURVEY.md
  * §2.D1–D5). All operators are shuffle-minimal by construction:
  * content is reduced to fixed-width hashes before any exchange, and
  * pairwise work only ever happens inside bounded LSH buckets — never
  * across the full corpus.
  */
object Dedup {

  /** D1 — exact dedup: group by content hash, keep the smallest id.
    * At 100 TB this shuffles only (hash, id, len) triples, never text.
    */
  def exact(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(col(idCol), md5(col(textCol).cast("binary")).as("content_hash"),
        length(col(textCol)).as("n_len"))
      .groupBy("content_hash")
      .agg(min(col(idCol)).as("survivor_id"),
        count(lit(1)).as("n_copies"),
        min("n_len").as("doc_len"))

  /** D45 — canonical-form dedup: documents that differ only in case,
    * punctuation, or whitespace are the same document (the web-corpus
    * normalization step that exact hashing misses). The canonical
    * form is `lower → strip non-[a-z0-9 ] → collapse spaces → trim`,
    * stated in portable regexes both engines evaluate identically;
    * grouping/survivor semantics then match D1. Same 100 TB shape:
    * normalization is a zero-shuffle projection, only (hash, id, len)
    * triples move.
    */
  def canonicalKey(text: Column): Column =
    trim(regexp_replace(
      regexp_replace(lower(text), "[^a-z0-9 ]", ""), " +", " "))

  def canonicalDedup(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(col(idCol),
        md5(canonicalKey(col(textCol)).cast("binary")).as("canon_hash"),
        length(canonicalKey(col(textCol))).as("n_len"))
      .groupBy("canon_hash")
      .agg(min(col(idCol)).as("survivor_id"),
        count(lit(1)).as("n_copies"),
        min("n_len").as("canon_len"))

  /** D1 apply-step: the deduplicated corpus itself — keep the
    * smallest id per content hash. Window-free: a self-join against
    * the survivor set keeps the plan a hash-aggregate + semi-join,
    * both map-side-partial and skew-tolerant at 100 TB. The semi-join
    * matches on (content hash, id): on the id alone a row would also
    * survive when its id is the minimum of a DIFFERENT text. The hash
    * compares null-safe, so null-text rows form one group like any
    * other text.
    */
  def dropExactDuplicates(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val hash = md5(col(textCol).cast("binary"))
    val survivors = docs
      .select(col(idCol).as("__id"), hash.as("__h"))
      .groupBy("__h").agg(min("__id").as("__sid"))
    docs.join(survivors, docs(idCol) === col("__sid") && hash <=> col("__h"), "left_semi")
  }

  /** Content hash with NULL text coalesced to the empty string: a
    * NULL hash would never match in joins (NULL != NULL), so null-text
    * rows would silently pass every anti-join and accumulate across
    * incremental batches — and DuckDB's NOT IN treats NULL hashes
    * differently still. Coalescing makes null-text rows behave as
    * empty documents identically on every engine.
    */
  private def contentHash(text: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    md5(coalesce(text, lit("")).cast("binary"))

  /** The hash index a continuously-updated corpus keeps alongside its
    * data: one fixed-width row per distinct content hash. At 100 TB
    * of text this is the ONLY corpus-side state incremental dedup
    * ever touches — new batches never rescan corpus content.
    */
  def corpusHashIndex(corpus: DataFrame, textCol: String): DataFrame =
    corpus.select(contentHash(col(textCol)).as("content_hash")).distinct()

  /** D24 — incremental dedup: curate a NEW batch against an existing
    * corpus. Drops batch rows whose content hash is already in the
    * corpus index (anti-join on fixed-width hashes — shuffles only
    * the batch, broadcastable when the batch is small relative to the
    * index), then keep-first deduplicates WITHIN the batch
    * ([[keepFirst]]). The index is not `distinct`-ed first: an
    * anti-join's result does not depend on duplicates on its right
    * side. Output: the rows to append to the corpus.
    */
  def incremental(batch: DataFrame, corpusHashes: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    val hashed = batch.withColumn("content_hash", contentHash(col(textCol)))
    keepFirst(notIn(hashed, corpusHashes), idCol)
  }

  /** `hashed`'s rows whose content_hash is not in `corpusHashes`. */
  private def notIn(hashed: DataFrame, corpusHashes: DataFrame): DataFrame =
    hashed.join(corpusHashes.select(col("content_hash").as("__known")),
      col("content_hash") === col("__known"), "left_anti")

  /** Keep-first: a row survives iff its id is the minimum id of its
    * content hash (rows tied on that minimum all survive; a null id
    * never does). One exchange on content_hash and a window, so no
    * aggregate and no join back: a join back on the id alone would
    * also keep a row whose id is the minimum of a DIFFERENT hash. The
    * trade-off: every copy of one text meets in one task, where an
    * aggregate joined back on (content_hash, id) would combine
    * map-side and so tolerate a text with millions of copies, at the
    * cost of a second exchange or a broadcast job.
    */
  private def keepFirst(fresh: DataFrame, idCol: String): DataFrame =
    fresh.withColumn("__min", min(col(idCol)).over(Window.partitionBy("content_hash")))
      .filter(col(idCol) === col("__min"))
      .drop("__min")

  /** Serialized Bloom filter over the corpus hash index (probed via
    * [[mightContainBloom]]). Built with Spark's own
    * BloomFilterAggregate — the aggregate behind runtime row-level
    * filtering — so partial filters merge associatively up the
    * executor tree and ONE binary blob reaches the driver (sized by
    * numBits, not by corpus rows; ~9 bits/key at 1% fpp). Keys enter
    * as xxhash64(content_hash): deterministic, so the filter bytes are
    * reproducible for a given index. Returns None for an empty index.
    *
    * At 10^9+ keys raise the sketch size confs
    * (spark.sql.optimizer.runtime.bloomFilter.maxNumItems/maxNumBits)
    * — a too-small filter only raises the false-positive rate, which
    * costs prefilter efficiency, never correctness (exact verification
    * always follows).
    */
  def corpusBloom(corpusHashes: DataFrame, expectedItems: Long): Option[Array[Byte]] = {
    import org.apache.spark.sql.GraftColumnBridge
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
    val h = corpusHashes.select(xxhash64(col("content_hash")).as("__h"))
    val agg = new BloomFilterAggregate(
      GraftColumnBridge.expression(col("__h")), Literal(expectedItems))
      .toAggregateExpression()
    Option(h.select(GraftColumnBridge.column(agg).as("bf"))
      .head().getAs[Array[Byte]](0))
  }

  /** Probe column: true iff `hash` MIGHT be in the corpus bloom —
    * false means DEFINITELY absent (no false negatives). Codegen'd;
    * the filter bytes ride the plan as a literal, deserialized once.
    */
  def mightContainBloom(bloom: Array[Byte], hash: Column): Column = {
    import org.apache.spark.sql.GraftColumnBridge
    import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal}
    GraftColumnBridge.column(BloomFilterMightContain(
      Literal(bloom), GraftColumnBridge.expression(xxhash64(hash))))
  }

  /** D51 — Bloom-prefiltered incremental dedup: same contract and
    * EXACT same result as [[incremental]], different economics. The
    * plain anti-join shuffles the whole batch against the whole
    * corpus index every epoch. Here bloom-negative batch rows — in
    * steady state the vast majority, since most new content is fresh
    * — are accepted as definitely-new in a zero-shuffle projection;
    * only bloom-positive suspects (true duplicates + the fpp sliver)
    * enter the anti-join, so the per-epoch exchange is sized by the
    * duplicate rate, not the batch. False positives are removed by
    * that exact verification; false negatives cannot occur, so the
    * union below reconstructs [[incremental]]'s output bit-for-bit.
    */
  def bloomIncremental(batch: DataFrame, corpusHashes: DataFrame, idCol: String,
      textCol: String, expectedItems: Long = 1000000L): DataFrame =
    corpusBloom(corpusHashes, expectedItems) match {
      case None => incremental(batch, corpusHashes, idCol, textCol) // empty corpus
      case Some(bloom) =>
        val hashed = batch.withColumn("content_hash", contentHash(col(textCol)))
        val suspect = mightContainBloom(bloom, col("content_hash"))
        val definitelyFresh = hashed.filter(!suspect)
        val verifiedFresh = notIn(hashed.filter(suspect), corpusHashes)
        keepFirst(definitelyFresh.unionByName(verifiedFresh), idCol)
    }

  /** D4 — exact n-gram Jaccard near-dup pairs. The shingle inverted-
    * index self-join is the candidate generator; pairs are verified by
    * exact set intersection. Use minhashLsh below when the corpus is
    * too large for the exact index join.
    */
  /** Shared: (doc_id, distinct-shingle array) with the words array
    * materialized first — see TextFunctions.shinglesFromWords.
    */
  private[operators] def shingleTable(docs: DataFrame, idCol: String, textCol: String,
      n: Int): DataFrame = {
    // Shingling + salted hashing is CPU-bound; a small input (one
    // parquet file = one partition) would pin it to a single core.
    // Fan out only when the source has fewer splits than the cluster
    // has slots — at real scale the input is already wide and this is
    // a no-op.
    val base = docs.select(col(idCol).as("doc_id"), col(textCol).as("text"))
    val slots = base.sparkSession.sparkContext.defaultParallelism
    val wide = if (base.rdd.getNumPartitions < slots) base.repartition(slots) else base
    wide.select(col("doc_id"), tokens(col("text")).as("ws"))
      .select(col("doc_id"), shinglesFromWords(col("ws"), n).as("sh"))
  }

  /** Exploded (doc_id, shingle) inverted index. `explode_outer` + a
    * post-generate null filter, NOT plain `explode`: for plain explode
    * the InferFiltersFromGenerate rule synthesizes `size(sh)>0 AND
    * isnotnull(sh)` and pushes it to the scan with aliases
    * substituted, re-evaluating the whole shingle expression (with
    * split() inlined per element — quadratic) once more per row. The
    * outer variant is exempt from that rule; the null filter on the
    * generated attribute is free and cannot be pushed below the
    * generate. ~8x faster at sf0.1.
    */
  /** Uncheckpointed exploded-index plan — prefixFilteredPairs
    * materializes it; PlanSpec asserts its scan pruning (the
    * checkpoint hides the parquet scan from the downstream plan).
    */
  private[graft] def shingleIndexPlan(docs: DataFrame, idCol: String,
      textCol: String, n: Int): DataFrame =
    explodeShingles(shingleTable(docs, idCol, textCol, n))

  private[operators] def explodeShingles(sh: DataFrame): DataFrame =
    sh.select(col("doc_id"), explode_outer(col("sh")).as("shingle"))
      .filter(col("shingle").isNotNull)

  /** @param maxShingleDf posting-list cap: shingles appearing in more
    *   than this many docs are dropped from the CANDIDATE index only.
    *   Without it one boilerplate shingle shared by k docs creates k²
    *   join rows (the classic inverted-index skew bomb); such shingles
    *   carry ~zero Jaccard signal anyway. Verification below uses the
    *   FULL shingle sets, so surviving pairs keep exact n_inter and
    *   jaccard; a pair is lost only if ALL its shared shingles exceed
    *   the cap. `0` disables the cap.
    */
  /** Round 13: the DEFAULT path is LOSSLESS — candidates come from
    * the D68 prefix+size+positional machinery at the threshold's own
    * rational (a percent), so every pair with J ≥ threshold is found
    * AND the hot-shingle k² fan-out never happens; 11.7 s → ~3 s on
    * the sf0.1 gate, strictly better recall. `maxShingleDf` keeps the
    * two legacy blockings reachable where their semantics are the
    * point: > 0 = the df-capped inverted index (the calibration
    * audit's stated contract), < 0 = the UNCAPPED inverted index (the
    * spec's brute-force reference, quadratic on hot shingles by
    * construction). Boundary note: the prefix path's integer test
    * n_inter·tDen ≥ (s1+s2−n_inter)·tNum and the legacy double test
    * jaccard ≥ threshold agree for all set sizes here (they could
    * only differ within one double ULP of the threshold, which needs
    * shingle-set denominators ~1e17).
    */
  def jaccardPairs(docs: DataFrame, idCol: String, textCol: String,
      n: Int, threshold: Double, maxShingleDf: Int = 0): DataFrame =
    if (maxShingleDf != 0)
      verifiedCandidatePairs(docs, idCol, textCol, n, math.max(maxShingleDf, 0))
        .withColumn("jaccard", col("n_inter").cast("double") /
          (size(col("sh1")) + size(col("sh2")) - col("n_inter")).cast("double"))
        .filter(col("jaccard") >= threshold)
        .select("d1", "d2", "n_inter", "jaccard")
    else {
      // fail fast on impossible thresholds — silently routing NaN or
      // t > 1 to the uncapped fallback would burn a quadratic
      // candidate join to return an empty result
      require(!threshold.isNaN && threshold > 0 && threshold <= 1,
        s"jaccard threshold must be in (0, 1], got $threshold")
      asExactRational(threshold, 1000) match {
      // the prefix path needs the threshold as an EXACT small
      // rational (its integer test n_inter·tDen ≥ (s1+s2−n_inter)·tNum
      // must agree with the double predicate); continued-fraction
      // convergents find one for any denominator ≤ 1000 — 0.6, 1.0/3,
      // 0.125, 19/37 all qualify — so callers with non-percent
      // thresholds keep the lossless path instead of throwing
      case Some((tNum, tDen)) if tNum > 0 && tNum <= tDen =>
        prefixFilteredPairs(docs, idCol, textCol, n, tNum, tDen)
      // genuinely irrational-ish threshold: fall back to the UNCAPPED
      // inverted-index blocking (any share-a-shingle superset is
      // lossless; this one is quadratic on hot shingles, which is the
      // price of a threshold the integer machinery can't express)
      case _ =>
        verifiedCandidatePairs(docs, idCol, textCol, n, 0)
          .withColumn("jaccard", col("n_inter").cast("double") /
            (size(col("sh1")) + size(col("sh2")) - col("n_inter")).cast("double"))
          .filter(col("jaccard") >= threshold)
          .select("d1", "d2", "n_inter", "jaccard")
      }
    }

  /** Smallest-denominator rational p/q (q ≤ maxDen) whose double
    * quotient reproduces `x` EXACTLY, via continued-fraction
    * convergents; None when no such rational exists. Exactness is the
    * contract: the caller switches from a double comparison to
    * integer cross-multiplication, so p.toDouble / q == x (bitwise)
    * is required, not approximation.
    */
  private[graft] def asExactRational(x: Double, maxDen: Long): Option[(Int, Int)] = {
    if (x.isNaN || x.isInfinite || x <= 0) return None
    var p0 = 0L; var q0 = 1L; var p1 = 1L; var q1 = 0L
    var r = x
    var i = 0
    while (i < 64) {
      val a = math.floor(r).toLong
      // a tiny fractional part makes r (and so a) unboundedly large:
      // bail BEFORE forming a·p1+p0 — past the first iteration (q1 ≥ 1)
      // a partial quotient a > maxDen forces q2 = a·q1+q0 > maxDen, so
      // every further convergent is out of range anyway, and the early
      // return removes the Long-overflow path where a wrapped-negative
      // q2 would slip past the q2 > maxDen guard and feed garbage
      // convergents into later iterations (first iteration is safe:
      // p1=1, q1=0 make p2=a, q2=1 — no products)
      if (i > 0 && a > maxDen) return None
      val p2 = a * p1 + p0
      val q2 = a * q1 + q0
      if (q2 > maxDen || p2 > Int.MaxValue) return None
      if (q2 > 0 && p2.toDouble / q2.toDouble == x)
        return Some((p2.toInt, q2.toInt))
      val frac = r - a
      if (frac == 0.0) return None
      p0 = p1; q0 = q1; p1 = p2; q1 = q2
      r = 1.0 / frac
      i += 1
    }
    None
  }

  /** D102 — LSH banding calibration audit ("measure, don't guess"
    * applied to the MinHash parameters, the LSH sibling of the ANN
    * recall audit): per Jaccard decile of the exact-verified candidate
    * pairs, the EMPIRICAL band-collision rate next to the ANALYTIC
    * s-curve 1−(1−j^r)^b — the two numbers that justify a
    * (numHashes, numBands) choice before a 100 TB corpus relies on
    * it. A decile where empirical and analytic diverge means the
    * signature pipeline (not the theory) is broken; a threshold
    * decile with low collision ppm means the banding misses real
    * near-dups.
    *
    * Replayability: j is the IEEE double n_inter/union; j^r and
    * (1−x)^b expand to EXPLICIT multiplications (no pow — library
    * pow implementations differ), and each pair contributes
    * floor(prob·10^6) as a BIGINT, so sums never depend on double
    * fold order. Collision ppm is an integer cross-divide.
    */
  def lshCalibration(docs: DataFrame, idCol: String, textCol: String,
      n: Int, numHashes: Int, numBands: Int,
      maxShingleDf: Int = 1000,
      samplePairMod: Int = 1, sampleSeed: Long = 42L): DataFrame = {
    require(numHashes % numBands == 0, "bands must evenly divide hashes")
    require(samplePairMod >= 1, "samplePairMod must be >= 1")
    val r = numHashes / numBands
    // Audit economics at 100 TB: the exact-verify side at threshold 0
    // is the most expensive operator in the repo run at its loosest
    // setting, yet the calibration answer is a per-decile STATISTIC —
    // a deterministic 1-in-mod pair sample (seeded md5 over (d1, d2),
    // applied BEFORE the shingle-set join, so verification cost is
    // O(sample)) estimates it with the same replayability: the oracle
    // re-applies the identical draw. mod = 1 keeps full-census mode.
    // ONE materialized exploded index feeds blocking, verification
    // AND signatures (r16): before, the tokenize→shingle→explode pass
    // over the corpus ran once for blocking, once for the candidate
    // re-shingle, and twice more under the band self-join — four
    // CPU-bound corpus passes for one audit.
    val inv = explodeShingles(shingleTable(docs, idCol, textCol, n))
      .localCheckpoint()
    val cand0 = blockedCandidatePairsFromIndex(inv, maxShingleDf)
    val cand = if (samplePairMod <= 1) cand0 else
      cand0.filter(
        Sampling.hashMod(sampleSeed, col("d1"), col("d2")) % samplePairMod === 0)
    // verification stays on ARRAYS here (measured, r16): at this
    // audit's candidate volume (df-cap 1000, sample mod 2 → ~0.5M
    // pairs at sf0.1) the exploded-index intersection join fans out
    // to |pairs|·|shingles-per-doc| rows and read 1.5× SLOWER than
    // the per-pair array_intersect — the opposite balance from the
    // prefix gate's 193k candidates, where verifyOnIndex won 2×.
    val exact = verifyCandidates(docs, idCol, textCol, n, cand)
      .withColumn("jaccard", col("n_inter").cast("double") /
        (size(col("sh1")) + size(col("sh2")) - col("n_inter")).cast("double"))
      .select("d1", "d2", "jaccard")
    // checkpoint the banded signatures: the collide self-join consumes
    // them twice, and uncheckpointed each side re-ran the whole
    // signature aggregate (r16)
    val bands = bandsFromRawSignatures(
      rawSignaturesFromIndex(inv, numHashes), numHashes, numBands)
      .localCheckpoint()
    val collide = bands.as("a").join(bands.as("b"),
        col("a.band") === col("b.band") && col("a.band_sig") === col("b.band_sig") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"))
      .distinct()
      .withColumn("__hit", lit(1L))
    val jr = (1 to r).map(_ => col("jaccard")).reduce(_ * _)
    val miss1 = lit(1.0) - jr
    val missB = (1 to numBands).map(_ => miss1).reduce(_ * _)
    exact.join(collide, Seq("d1", "d2"), "left")
      .withColumn("__prob_ppm",
        floor((lit(1.0) - missB) * 1000000d).cast("long"))
      .withColumn("decile", least(floor(col("jaccard") * 10).cast("int"), lit(9)))
      .groupBy("decile")
      .agg(count(lit(1)).as("n_pairs"),
        sum(coalesce(col("__hit"), lit(0L))).as("n_collided"),
        sum("__prob_ppm").as("__psum"))
      .withColumn("collide_ppm", expr("n_collided * 1000000 div n_pairs"))
      .withColumn("expected_ppm", expr("__psum div n_pairs"))
      .select("decile", "n_pairs", "n_collided", "collide_ppm", "expected_ppm")
  }

  /** D61 — asymmetric CONTAINMENT near-dup: |A∩B| / min(|A|,|B|).
    * Jaccard misses doc-inside-doc duplication (a page quoted whole
    * inside a larger page scores low on union but 100% on the smaller
    * set); containment is the curation metric for quote/boilerplate
    * inclusion. Integer-exact: the threshold test is
    * `100·n_inter ≥ pct·min(|A|,|B|)` and the reported score is
    * floor(100·n_inter / min) — no float division to disagree over.
    * Same candidate economics as jaccardPairs (shared machinery).
    */
  /** Round 13: containment is now LOSSLESS — the blocking is the D68
    * prefix+positional machinery in its asymmetric form, so every
    * pair with containment ≥ threshold is found (the old df-capped
    * blocking lost pairs sharing only hot shingles). The prefix
    * argument transfers because the NON-prefix side joins its FULL
    * index: order shingles globally by (df, shingle); a pair with
    * C = o/m ≥ t (m = smaller size) has o ≥ ceil(t·m) shared keys,
    * so the smaller doc's first m − ceil(t·m) + 1 keys must contain
    * one. Positional bound at the first joined key (ranks i in the
    * smaller doc S, j in the other doc B): a shared key globally
    * earlier would rank earlier in S — inside S's prefix, since
    * prefixes are down-sets of the global order — and B's side is
    * unrestricted, so it would have joined; hence no shared key
    * precedes it and o ≤ 1 + min(m−i, |B|−j). Pairs whose bound
    * misses ceil(t·m) are dropped before verification, losslessly.
    */
  def containmentPairs(docs: DataFrame, idCol: String, textCol: String,
      n: Int, thresholdPct: Int): DataFrame = {
    require(thresholdPct > 0 && thresholdPct <= 100, s"invalid pct $thresholdPct")
    val ex = shingleIndexPlan(docs, idCol, textCol, n).localCheckpoint()
    val dfreq = ex.groupBy("shingle").agg(count(lit(1)).as("df"))
    val sizes = ex.groupBy("doc_id").agg(count(lit(1)).as("n_sh"))
    val ranked = ex.join(dfreq, "shingle").join(sizes, "doc_id")
      .withColumn("rn", row_number().over(
        Window.partitionBy("doc_id").orderBy(col("df"), col("shingle"))))
      .localCheckpoint() // prefix side AND full side of the self-join
    // prefix of the SMALLER side: first m − ceil(pct·m/100) + 1 keys
    val pref = ranked.filter(col("rn") <=
      col("n_sh") - expr(s"(n_sh * $thresholdPct + 99) div 100") + 1)
    val cand = pref.as("a").join(ranked.as("b"),
        col("a.shingle") === col("b.shingle") &&
          (col("a.n_sh") < col("b.n_sh") ||
            (col("a.n_sh") === col("b.n_sh") && col("a.doc_id") < col("b.doc_id"))))
      .select(col("a.doc_id").as("da"), col("b.doc_id").as("db"),
        col("a.rn").as("i"), col("b.rn").as("j"),
        col("a.n_sh").as("m"), col("b.n_sh").as("nb"))
      .groupBy("da", "db")
      // first joined key = (min i, min j): both ranks increase with
      // the shared keys' global order (the prefixFilteredPairs move)
      .agg(min("i").as("i"), min("j").as("j"),
        min("m").as("m"), min("nb").as("nb"))
      .filter((lit(1) + least(col("m") - col("i"), col("nb") - col("j"))) *
        lit(100) >= col("m") * thresholdPct)
      .select(least(col("da"), col("db")).as("d1"),
        greatest(col("da"), col("db")).as("d2"))
    val inter = cand
      .join(ex.select(col("doc_id").as("d1"), col("shingle")), "d1")
      .join(ex.select(col("doc_id").as("d2"), col("shingle")), Seq("d2", "shingle"))
      .groupBy("d1", "d2")
      .agg(count(lit(1)).cast("int").as("n_inter"))
    inter
      .join(sizes.select(col("doc_id").as("d1"), col("n_sh").as("s1")), "d1")
      .join(sizes.select(col("doc_id").as("d2"), col("n_sh").as("s2")), "d2")
      .withColumn("n_small", least(col("s1"), col("s2")).cast("long"))
      .filter(col("n_small") > 0 &&
        col("n_inter") * 100L >= col("n_small") * thresholdPct.toLong)
      .withColumn("cont_pct", expr("n_inter * 100 div n_small"))
      .select("d1", "d2", "n_inter", "n_small", "cont_pct")
  }

  /** D62 — edit-distance near-dup: Levenshtein distance ≤ pct% of the
    * longer document, over shingle-blocked candidates. Character-level
    * edit distance catches near-dups that shingle metrics blur (small
    * in-place edits shift every overlapping shingle) and is the
    * standard last-mile verifier for short fields (titles, captions).
    * O(len²) per comparison — affordable ONLY because the df-capped
    * shingle index has already reduced the corpus-sized pair space to
    * the candidate list; the distance never runs corpus×corpus. The
    * threshold test is integer (100·dist ≤ pct·max_len), no float.
    * 100 TB shape: candidate generation shuffles (shingle, doc_id)
    * pairs; only candidate docs' TEXTS are joined back (two id-keyed
    * joins), so full text moves for the candidate set alone.
    */
  /** Round 13: blocking switched from the df-capped inverted index to
    * the D68 PREFIX+POSITIONAL candidates at Jaccard 3/5 (the r12
    * verdict's prescription — the lossy cap generated 1.13M
    * candidates at sf0.1 of which 405k survived the length filter and
    * paid the O(len·k) banded distance, while only 256 pairs passed;
    * measured true-pair shingle Jaccard on the gate corpus bottoms
    * out at 0.78, so the 3/5 prefix block retains every passing pair
    * with wide margin at a fraction of the candidate volume).
    * `blockTNum/blockTDen` expose the blocking threshold: it is part
    * of D62's candidate contract (replayed by the oracle), chosen
    * below the corpus's measured true-pair floor. An exact
    * character-histogram prefilter (Ukkonen count filtering) was
    * measured too: it pruned 0.6% on this corpus (template docs share
    * char distributions) and cost more than it saved — dropped.
    */
  def editDistancePairs(docs: DataFrame, idCol: String, textCol: String,
      n: Int, maxDistPct: Int, blockTNum: Int = 3, blockTDen: Int = 5): DataFrame = {
    val (_, _, cand) = prefixMachinery(docs, idCol, textCol, n, blockTNum, blockTDen)
    val t = docs.select(col(idCol), col(textCol))
    cand
      .join(t.select(col(idCol).as("d1"), col(textCol).as("t1")), "d1")
      .join(t.select(col(idCol).as("d2"), col(textCol).as("t2")), "d2")
      .withColumn("max_len",
        greatest(length(col("t1")), length(col("t2"))).cast("long"))
      // per-pair distance budget: `dist ≤ floor(max_len·pct/100)` IS
      // the acceptance predicate (dist is integral), so the budget can
      // drive the computation instead of being applied after it
      .withColumn("__k", (col("max_len") * maxDistPct.toLong / lit(100L)).cast("int"))
      // exact O(1) prefilter: dist ≥ |len1 − len2|, so over-budget
      // length gaps never reach the distance computation
      .filter(abs(length(col("t1")) - length(col("t2"))) <= col("__k"))
      // thresholded levenshtein: banded O(len·k) instead of O(len²),
      // early-exits over-budget pairs with -1; within-budget distances
      // are exact — same surviving rows and dist values as the
      // unbounded form, at a fraction of the cell work
      .withColumn("dist", expr("levenshtein(t1, t2, __k)").cast("long"))
      .filter(col("dist") >= 0L)
      .select("d1", "d2", "dist", "max_len")
  }

  /** Blocking step shared by every verified near-dup metric (Jaccard,
    * containment, edit distance): df-capped inverted-index self-join
    * proposes (d1, d2) candidate pairs. Shuffles (shingle, doc_id)
    * pairs only; the cap bounds the self-join fan-out per shingle.
    */
  private[graft] def blockedCandidatePairs(docs: DataFrame, idCol: String,
      textCol: String, n: Int, maxShingleDf: Int): DataFrame =
    blockedCandidatePairsFromIndex(
      explodeShingles(shingleTable(docs, idCol, textCol, n)), maxShingleDf)

  /** [[blockedCandidatePairs]] over a PRE-EXPLODED index — see
    * [[rawSignaturesFromIndex]] for why the audit family shares it.
    */
  private[graft] def blockedCandidatePairsFromIndex(inv: DataFrame,
      maxShingleDf: Int): DataFrame = {
    // one added aggregate: shingle document frequency (shingle rows are
    // distinct per doc, so count == df); shuffles (shingle) keys only
    val capped = if (maxShingleDf <= 0) inv else {
      val rare = inv.groupBy("shingle").agg(count(lit(1)).as("__df"))
        .filter(col("__df") <= maxShingleDf)
        .select("shingle")
      inv.join(rare, "shingle")
    }
    // localCheckpoint: cand feeds both the final join and (via the
    // semi-join) the verification lineage — without it the df-aggregate
    // + self-join + distinct, the dominant cost, re-runs per consumer
    // (same move as minhashLsh below)
    capped.as("a").join(capped.as("b"),
        col("a.shingle") === col("b.shingle") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"))
      .distinct()
      .localCheckpoint()
  }

  /** Shared candidate generator + exact verification: blocked pairs
    * from the df-capped inverted index; full shingle sets of
    * semi-join-pruned candidate docs verify them. Returns
    * (d1, d2, sh1, sh2, n_inter) for a metric-specific filter.
    */
  private def verifiedCandidatePairs(docs: DataFrame, idCol: String,
      textCol: String, n: Int, maxShingleDf: Int): DataFrame =
    verifyCandidates(docs, idCol, textCol, n,
      blockedCandidatePairs(docs, idCol, textCol, n, maxShingleDf))

  /** Exact verification of a (d1, d2) candidate table: full shingle
    * sets of semi-join-pruned candidate docs, exact intersection size.
    * Returns (d1, d2, sh1, sh2, n_inter) for a metric-specific filter.
    */
  private def verifyCandidates(docs: DataFrame, idCol: String,
      textCol: String, n: Int, cand: DataFrame): DataFrame = {
    // exact verification over candidate docs only (semi-join prunes the
    // corpus before re-shingling — same shape as minhashLsh below)
    val candIds = cand.select(col("d1").as("cid"))
      .union(cand.select(col("d2").as("cid"))).distinct()
    val candSh = shingleTable(
      docs.join(broadcast(candIds), col(idCol) === col("cid"), "left_semi"),
      idCol, textCol, n)
    cand
      .join(candSh.select(col("doc_id").as("d1"), col("sh").as("sh1")), "d1")
      .join(candSh.select(col("doc_id").as("d2"), col("sh").as("sh2")), "d2")
      .withColumn("n_inter", size(array_intersect(col("sh1"), col("sh2"))))
  }

  /** D4b — LOSSLESS prefix-filtered all-pairs Jaccard self-join
    * (SSJoin/PPJoin family — Chaudhuri et al., ICDE'06; Xiao et al.,
    * WWW'08). The df-capped inverted index above trades recall for
    * bounded fan-out (a pair sharing only hot shingles is lost); the
    * prefix filter is exact at the SAME candidate economics: order
    * each doc's shingles rarest-first (ascending global df, shingle
    * as the deterministic tie-break), keep only the first
    * |S| - ceil(t·|S|) + 1 as join keys. Any pair with Jaccard ≥ t
    * provably shares a key inside both prefixes, so verification
    * sees every true pair — boilerplate shingles land in suffixes and
    * never join, killing the k² skew bomb WITHOUT the lossy cap.
    *
    * 100 TB: df is one (shingle)-keyed partial agg; ranking shuffles
    * (doc_id)-keyed rows once for the window; the self-join fans out
    * only on rare-by-construction prefix keys (a shingle in k docs
    * contributes at most the pairs among the few docs whose PREFIX it
    * reaches, not k²); verification re-shingles only semi-join-pruned
    * candidates. Threshold is the exact rational tNum/tDen — prefix
    * length and the final test are integer arithmetic, so Spark and
    * the SQL oracle agree row-for-row.
    *
    * PPJoin positional filter (Xiao et al.'s second pruning layer),
    * applied at the pair's FIRST shared prefix key: any shared key
    * globally before it would itself be a shared prefix key, so the
    * true overlap is bounded by 1 + min(n1−i, n2−j) (i, j = the key's
    * per-doc ranks). J ≥ t needs overlap ≥ ceil(t·(n1+n2)/(1+t)), so
    * pairs whose bound falls short are dropped BEFORE verification —
    * losslessly. Verification cost is the candidate count times the
    * candidates' index rows; this filter cut candidates 2.8× on the
    * benched corpus and the gate 2.4×. Within a pair both per-doc
    * ranks increase with the key's global (df, shingle) order, so the
    * first shared key's (i, j) is simply (min i, min j) over the
    * pair's matches — one grouped aggregate, same exchange the
    * distinct() needed anyway.
    */
  def prefixFilteredPairs(docs: DataFrame, idCol: String, textCol: String,
      n: Int, tNum: Int, tDen: Int): DataFrame = {
    val (ex, sizes, cand) = prefixMachinery(docs, idCol, textCol, n, tNum, tDen)
    verifyOnIndex(ex, sizes, cand, tNum, tDen)
  }

  /** The D68 candidate machinery, shared by the Jaccard self-join and
    * (round 13) the edit-distance blocking: returns the materialized
    * exploded index, per-doc sizes, and the prefix+size+positional
    * filtered (d1, d2) candidates at threshold tNum/tDen.
    */
  private def prefixMachinery(docs: DataFrame, idCol: String, textCol: String,
      n: Int, tNum: Int, tDen: Int): (DataFrame, DataFrame, DataFrame) = {
    require(tNum > 0 && tNum <= tDen, "threshold must be in (0, 1]")
    // materialize the exploded index ONCE: df count, size count, the
    // ranked join, and verification all consume it, and recomputing
    // the CPU-bound tokenize→shingle→explode chain per consumer costs
    // far more than persisting (doc_id, shingle) fixed-width rows
    val ex = shingleIndexPlan(docs, idCol, textCol, n).localCheckpoint()
    val dfreq = ex.groupBy("shingle").agg(count(lit(1)).as("df"))
    val sizes = ex.groupBy("doc_id").agg(count(lit(1)).as("n_sh"))
    val ranked = ex.join(dfreq, "shingle").join(sizes, "doc_id")
      .withColumn("rn", row_number().over(
        Window.partitionBy("doc_id").orderBy(col("df"), col("shingle"))))
    // prefix length |S| - ceil(t·|S|) + 1, ceil via integer div
    val pref = ranked.filter(col("rn") <=
      col("n_sh") - expr(s"(n_sh * $tNum + ${tDen - 1}) div $tDen") + 1)
      .select("doc_id", "shingle", "n_sh", "rn")
      .localCheckpoint() // feeds both sides of the self-join + verification lineage
    // size filter: J ≥ t forces t ≤ |S1|/|S2| ≤ 1/t — integer-exact
    val cand = pref.as("a").join(pref.as("b"),
        col("a.shingle") === col("b.shingle") && col("a.doc_id") < col("b.doc_id") &&
          least(col("a.n_sh"), col("b.n_sh")) * tDen >=
            greatest(col("a.n_sh"), col("b.n_sh")) * tNum)
      .select(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"),
        col("a.rn").as("i"), col("b.rn").as("j"),
        col("a.n_sh").as("n1"), col("b.n_sh").as("n2"))
      .groupBy("d1", "d2")
      // first shared prefix key = min global order = (min i, min j);
      // n1/n2 are constant per pair, min() is just a deterministic pick
      .agg(min("i").as("i"), min("j").as("j"),
        min("n1").as("n1"), min("n2").as("n2"))
      // overlap ubound at the first shared key vs α = ceil(t·(n1+n2)/(1+t)),
      // cross-multiplied: X ≥ ceil(y/z) ⟺ X·z ≥ y
      .filter((lit(1) + least(col("n1") - col("i"), col("n2") - col("j"))) *
        (tNum + tDen) >= (col("n1") + col("n2")) * tNum)
      .select("d1", "d2")
    (ex, sizes, cand)
  }

  /** Exact verification of (d1, d2) candidates on the EXPLODED
    * (doc_id, shingle) index, not array re-joins: n_inter = count of
    * shared (distinct) shingles via two id-keyed equi-joins over
    * fixed-width rows. The array alternative (verifyCandidates) ships
    * each candidate's full shingle array through two joins — at a low
    * threshold/short shingle the candidate set is large (~193k pairs
    * at n=3, sf0.1) and those array shuffles plus a corpus re-shingle
    * dominated the prefix gate ~2×. Every exchanged row here is
    * (id, id, shingle) or smaller. Shared by the prefix-filtered and
    * sorted-neighborhood joins.
    */
  private[graft] def verifyOnIndex(ex: DataFrame, sizes: DataFrame,
      cand: DataFrame, tNum: Int, tDen: Int): DataFrame = {
    val inter = cand
      .join(ex.select(col("doc_id").as("d1"), col("shingle")), "d1")
      .join(ex.select(col("doc_id").as("d2"), col("shingle")), Seq("d2", "shingle"))
      .groupBy("d1", "d2")
      .agg(count(lit(1)).cast("int").as("n_inter")) // int: the family's
        // (jaccardPairs/verifyCandidates) n_inter contract
    inter
      .join(sizes.select(col("doc_id").as("d1"), col("n_sh").as("s1")), "d1")
      .join(sizes.select(col("doc_id").as("d2"), col("n_sh").as("s2")), "d2")
      // J ≥ t ⟺ tDen·o ≥ tNum·(|S1|+|S2|−o): cross-multiplied, no floats
      .filter(col("n_inter") * tDen >=
        (col("s1") + col("s2") - col("n_inter")) * tNum)
      .withColumn("jaccard", col("n_inter").cast("double") /
        (col("s1") + col("s2") - col("n_inter")).cast("double"))
      .select("d1", "d2", "n_inter", "jaccard")
  }

  /** D82 — greedy coverage-maximization selection (the classic
    * 1−1/e-approximate submodular maximizer, Nemhauser et al. 1978 —
    * the coverage/facility-location shape of coreset data selection):
    * pick k docs one at a time, each round taking the doc that covers
    * the most NOT-yET-covered shingles, ties to the smallest id. A
    * budgeted selection that maximizes shingle coverage buys more
    * n-gram diversity per token than any frequency heuristic, and
    * greedy is within 1−1/e of optimal.
    *
    * Scale shape: per round ONE anti-join of the (doc, shingle) index
    * against the covered set + a map-side-partial gain count + a
    * single-row argmax agg (max(struct(gain, −id)) — no sort); the
    * covered set grows by ≤ one doc's shingles per round and is the
    * only state. k passes over the index by construction — for large
    * budgets batch the rounds (stochastic greedy); this is the exact
    * small-k primitive.
    *
    * @return (round, doc_id, gain) — gain = newly covered shingles;
    *         rounds after full coverage produce no row
    */
  def greedyCoverage(docs: DataFrame, idCol: String, textCol: String,
      n: Int, k: Int): DataFrame = {
    require(k >= 1, s"invalid k $k")
    val spark = docs.sparkSession
    val ex = shingleIndexPlan(docs, idCol, textCol, n).localCheckpoint()
    var covered = ex.select("shingle").filter(lit(false)).localCheckpoint()
    val rounds = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    for (r <- 1 to k) {
      val gains = ex.join(covered, Seq("shingle"), "left_anti")
        .groupBy("doc_id").agg(count(lit(1)).as("gain"))
      val best = gains
        .agg(max(struct(col("gain"), (-col("doc_id")).as("nid"))).as("m"))
        .select(lit(r).cast("int").as("round"),
          (-col("m.nid")).as("doc_id"), col("m.gain").as("gain"))
        .filter(col("doc_id").isNotNull) // all-covered: empty gains
        .localCheckpoint()
      rounds += best
      // the final round's covered update has no consumer — skip its
      // materialization job (r16)
      if (r < k) covered = covered
        .union(ex.join(broadcast(best.select("doc_id")), "doc_id").select("shingle"))
        .distinct()
        .localCheckpoint()
    }
    rounds.reduce(_ union _)
  }

  /** D83 — bag-of-words duplicate groups: canonicalize, SORT the
    * token multiset, hash — so documents that are permutations of
    * the same words collapse (shuffled boilerplate lists, reordered
    * template fields) while canonicalDedup (D45, order-preserving)
    * keeps them apart. Same D1 scale shape: normalization and the
    * sorted-bag hash are a zero-shuffle projection; only
    * (hash, id, n_tokens) triples move.
    */
  def bagDedup(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val bag = array_join(array_sort(split(canonicalKey(col(textCol)), " ")), " ")
    docs.select(col(idCol),
        md5(bag.cast("binary")).as("bag_hash"),
        size(split(canonicalKey(col(textCol)), " ")).as("n_tok"))
      .groupBy("bag_hash")
      .agg(min(col(idCol)).as("survivor_id"),
        count(lit(1)).as("n_copies"),
        min("n_tok").as("n_tok"))
  }

  /** D80 — sorted-neighborhood near-dup candidates (Hernández &
    * Stolfo SIGMOD'95 merge/purge): docs ordered globally by their
    * canonical key ([[canonicalKey]]); every pair within `window`
    * positions is a candidate, then exact-verified on the shingle
    * index. The complementary recall path to shingle blocking: two
    * near-dups differing only LATE in the text sort adjacent and are
    * found even when every shingle they share is corpus-common —
    * while edits in the first words sort them apart (that case is
    * LSH/prefix territory; pipelines run both).
    *
    * Scale shape: global positions via the two-phase bucket rank
    * (the shuffleDeterministic shape — leading-char bucket window +
    * broadcast exclusive bucket offsets, never one global window
    * partition); candidates are the window-unrolled EQUI-join
    * (pos + d = pos′, d ∈ 1..window) — |corpus|·window fixed-width
    * rows, a hash join, not a range nested-loop; verification on the
    * exploded index moves (id, id, shingle) rows only.
    */
  def sortedNeighborhoodPairs(docs: DataFrame, idCol: String, textCol: String,
      window: Int, n: Int, tNum: Int, tDen: Int): DataFrame = {
    require(window >= 1, s"invalid window $window")
    val keyed = docs.select(col(idCol).as("doc_id"), col(textCol).as("text"))
      .withColumn("ck", canonicalKey(col("text")))
      .withColumn("__b", substring(col("ck"), 1, 1))
    val inB = Window.partitionBy("__b").orderBy(col("ck"), col("doc_id"))
    val ranked = keyed.withColumn("__rk", row_number().over(inB))
    val offsets = keyed.groupBy("__b").agg(count(lit(1)).as("__n"))
      .withColumn("__off",
        // unpartitioned by design: input = one row per 1-hex-char key
        // bucket (<=16 rows); same bounded-prefix shape PlanSpec pins
        coalesce(sum("__n").over(
          Window.orderBy("__b").rowsBetween(Window.unboundedPreceding, -1)),
          lit(0L)))
      .select("__b", "__off")
    val pos = ranked.join(broadcast(offsets), "__b")
      .select(col("doc_id"), (col("__off") + col("__rk")).as("pos"))
      .localCheckpoint() // feeds both sides of the neighbor join
    val probe = pos.select(col("doc_id").as("ida"),
        explode(array((1 to window).map(lit(_)): _*)).as("d"), col("pos"))
      .select(col("ida"), (col("pos") + col("d")).as("pos"))
    val cand = probe.join(pos, "pos")
      .select(least(col("ida"), col("doc_id")).as("d1"),
        greatest(col("ida"), col("doc_id")).as("d2"))
    val ex = shingleIndexPlan(docs, idCol, textCol, n).localCheckpoint()
    val sizes = ex.groupBy("doc_id").agg(count(lit(1)).as("n_sh"))
    verifyOnIndex(ex, sizes, cand, tNum, tDen)
  }

  /** D2 — MinHash + LSH near-dup pairs, the 100 TB-scale path:
    * signatures are one zero-shuffle projection; banding multiplies
    * rows by numBands only; the bucket self-join shuffles (band_sig,
    * doc_id) pairs; candidates are verified with exact Jaccard.
    */
  /** (doc_id, n_sh, band, band_sig) — the signature/banding pipeline
    * shared by one-shot LSH and the persisted signature index.
    * Signature via exploded shingles + hash-aggregate: whole-stage
    * codegen'd min() per seed, one shuffle on doc_id. ~20× faster than
    * nested higher-order functions (interpreted, recomputed per branch).
    * The hash family is Kirsch-Mitzenmacher over ONE md5 per shingle:
    * h_i = (h1 + i*h2) mod 2^48 with h1/h2 the two 48-bit md5 halves
    * — 1 digest + numHashes integer ops per row instead of numHashes
    * digests (the digest was the signature pass's cost center), and
    * 64-bit mins beat 32-char string mins in the aggregate. Exactly
    * mirrorable in SQL: ('0x' || substr(md5(s),...))::BIGINT.
    * The set size rides in the same aggregate — no second pass.
    */
  /** (doc_id, n_sh, h0..h{numHashes-1}) — the raw KM minhash
    * signature table `bandSignatures` bands and the estimate audit
    * (D108) compares component-wise.
    */
  /** Signature aggregate over a PRE-EXPLODED (doc_id, shingle) index —
    * the audit family (D102/D108/D109/D131) shares one materialized
    * index across blocking, verification and signatures instead of
    * re-running the tokenize→shingle→explode chain per consumer
    * (r16, guide §1.2: the repeated pass was the dominant per-gate
    * cost, not the aggregates).
    */
  private[operators] def rawSignaturesFromIndex(inv: DataFrame,
      numHashes: Int): DataFrame = {
    require(numHashes <= 1024, "h1 + i*h2 must stay below 2^63: numHashes <= 1024")
    val modulus = 1L << 48
    val withHalves = inv.select(col("doc_id"),
      conv(substring(md5(col("shingle").cast("binary")), 1, 12), 16, 10)
        .cast("long").as("h1"),
      conv(substring(md5(col("shingle").cast("binary")), 17, 12), 16, 10)
        .cast("long").as("h2"))
    val minAggs = (0 until numHashes).map(i =>
      min((col("h1") + lit(i.toLong) * col("h2")) % lit(modulus)).as(s"h$i")) :+
      count(lit(1)).as("n_sh")
    withHalves.groupBy("doc_id").agg(minAggs.head, minAggs.tail: _*)
  }

  private[operators] def rawSignatures(docs: DataFrame, idCol: String,
      textCol: String, shingleN: Int, numHashes: Int): DataFrame =
    rawSignaturesFromIndex(
      explodeShingles(shingleTable(docs, idCol, textCol, shingleN)), numHashes)

  /** Banding projection over an already-computed wide signature table
    * (h0..h{numHashes-1}, n_sh) — same band_sig strings as
    * [[bandSignatures]], without recomputing the signature pass.
    */
  private[operators] def bandsFromRawSignatures(sig: DataFrame,
      numHashes: Int, numBands: Int): DataFrame = {
    require(numHashes % numBands == 0, "bands must evenly divide hashes")
    val rowsPerBand = numHashes / numBands
    sig.select(col("doc_id"), col("n_sh"),
      posexplode(array((0 until numBands).map { b =>
        md5(concat_ws(",", (b * rowsPerBand until (b + 1) * rowsPerBand)
          .map(i => col(s"h$i").cast("string")): _*).cast("binary"))
      }: _*)).as(Seq("band", "band_sig")))
  }

  private[operators] def bandSignatures(docs: DataFrame, idCol: String,
      textCol: String, shingleN: Int, numHashes: Int, numBands: Int): DataFrame =
    bandsFromRawSignatures(
      rawSignatures(docs, idCol, textCol, shingleN, numHashes),
      numHashes, numBands)

  def minhashLsh(docs: DataFrame, idCol: String, textCol: String,
      shingleN: Int, numHashes: Int, numBands: Int,
      threshold: Double): DataFrame = {
    val bands = bandSignatures(docs, idCol, textCol, shingleN, numHashes, numBands)
    val cand = bands.as("a").join(bands.as("b"),
        col("a.band") === col("b.band") && col("a.band_sig") === col("b.band_sig") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("d1"), col("a.n_sh").as("n1"),
        col("b.doc_id").as("d2"), col("b.n_sh").as("n2"))
      .distinct()
      // candidates are tiny by design; materialize once so the
      // verification branch (and its semi-join) doesn't re-run the
      // signature pass
      .localCheckpoint()
    // Verify candidates with exact Jaccard. Shingles are recomputed
    // for CANDIDATE DOCS ONLY (semi-join prunes the corpus before the
    // shingle projection) — at LSH's design point candidates are a
    // tiny fraction, so this is far cheaper than shingling the whole
    // corpus twice for the pair join.
    val candIds = cand.select(col("d1").as("cid"))
      .union(cand.select(col("d2").as("cid"))).distinct()
    val candSh = shingleTable(
      docs.join(broadcast(candIds), col(idCol) === col("cid"), "left_semi"),
      idCol, textCol, shingleN)
    cand
      .join(candSh.select(col("doc_id").as("d1"), col("sh").as("sh1")), "d1")
      .join(candSh.select(col("doc_id").as("d2"), col("sh").as("sh2")), "d2")
      .withColumn("n_inter", size(array_intersect(col("sh1"), col("sh2"))))
      .withColumn("jaccard", col("n_inter").cast("double") /
        (col("n1") + col("n2") - col("n_inter")).cast("double"))
      .filter(col("jaccard") >= threshold)
      .select("d1", "d2", "jaccard")
  }

  /** D108 — signature-estimate error audit, the third leg of the LSH
    * audit triad (D102 measures banding collision vs the s-curve,
    * D103 truncation recall; this measures the ESTIMATOR itself):
    * per banding candidate pair, the fraction of matching minhash
    * components — the classic unbiased Jaccard estimate — beside the
    * exact Jaccard, with the signed error in ppm. The realized error
    * at small numHashes is the number that justifies the
    * verify-after-banding architecture over trusting the estimate
    * (12 hashes ⇒ ±1/12 granularity), measured on this corpus rather
    * than quoted from theory. Cost: the signature pass the LSH run
    * already does, plus exact verification of the tiny candidate set.
    */
  private def estimateAuditCore(docs: DataFrame, idCol: String, textCol: String,
      shingleN: Int, numHashes: Int, numBands: Int): DataFrame = {
    // ONE exploded index + ONE signature pass shared by banding,
    // signature attach AND exact verification (r16): before, the
    // corpus ran tokenize→shingle→explode once for the wide
    // signatures, TWICE more under the band self-join (bandSignatures
    // recomputed the signature aggregate per join side), and a fourth
    // time re-shingling candidate docs for array_intersect.
    val inv = explodeShingles(shingleTable(docs, idCol, textCol, shingleN))
      .localCheckpoint()
    val sigWide = rawSignaturesFromIndex(inv, numHashes).localCheckpoint()
    val sig = sigWide.select(col("doc_id"), col("n_sh"),
      array((0 until numHashes).map(i => col(s"h$i")): _*).as("hs"))
    val bands = bandsFromRawSignatures(sigWide, numHashes, numBands)
    val cand = bands.as("a").join(bands.as("b"),
        col("a.band") === col("b.band") && col("a.band_sig") === col("b.band_sig") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"))
      .distinct()
      .localCheckpoint()
    val withSig = cand
      .join(sig.select(col("doc_id").as("d1"), col("hs").as("hs1"), col("n_sh").as("n1")), "d1")
      .join(sig.select(col("doc_id").as("d2"), col("hs").as("hs2"), col("n_sh").as("n2")), "d2")
      .withColumn("n_match",
        aggregate(zip_with(col("hs1"), col("hs2"),
          (x, y) => when(x === y, 1L).otherwise(0L)), lit(0L), _ + _))
    // exact intersection on the exploded index (two id-keyed joins of
    // fixed-width rows) instead of re-shingling candidates into array
    // columns; LEFT join + coalesce because a band collision does not
    // guarantee a shared shingle (zero-intersection pairs must keep
    // n_inter = 0, exactly like array_intersect's empty result)
    val inter = cand
      .join(inv.select(col("doc_id").as("d1"), col("shingle")), "d1")
      .join(inv.select(col("doc_id").as("d2"), col("shingle")), Seq("d2", "shingle"))
      .groupBy("d1", "d2").agg(count(lit(1)).as("__ni"))
    withSig
      .join(inter, Seq("d1", "d2"), "left")
      .withColumn("n_inter", coalesce(col("__ni"), lit(0L)))
      .withColumn("est_ppm", expr(s"n_match * 1000000 div ${numHashes}L"))
      .withColumn("jaccard_ppm", expr("n_inter * 1000000 div (n1 + n2 - n_inter)"))
      .withColumn("err_ppm", col("est_ppm") - col("jaccard_ppm"))
      .select("d1", "d2", "n_match", "n_inter", "n1", "n2",
        "est_ppm", "jaccard_ppm", "err_ppm")
  }

  def signatureEstimateAudit(docs: DataFrame, idCol: String, textCol: String,
      shingleN: Int, numHashes: Int, numBands: Int): DataFrame =
    estimateAuditCore(docs, idCol, textCol, shingleN, numHashes, numBands)
      .select("d1", "d2", "n_match", "est_ppm", "jaccard_ppm", "err_ppm")

  /** D131 — CONTAINMENT estimate from signatures alone, audited
    * against exact: the asymmetric question (is the smaller doc
    * inside the larger? — D61's exact answer) recovered from the
    * SYMMETRIC machinery the index already stores, via the set
    * identity I = J·(|A|+|B|)/(1+J) applied to the signature Jaccard
    * estimate Ĵ = m/H and the per-doc shingle counts (cheap stored
    * stats, no cross-doc work): Ĉ = Î / min(|A|,|B|). This is what
    * lets a signatures-only mirror RANK quote-style containment
    * candidates before paying exact verification — the audit measures
    * the estimator's honest error on the corpus's own candidate
    * population, against the EXACT containment n_inter/min (not a
    * ppm round-trip). Integer ppm throughout:
    * Î = Ĵppm·(n1+n2) div (10⁶ + Ĵppm).
    */
  def containmentEstimateAudit(docs: DataFrame, idCol: String, textCol: String,
      shingleN: Int, numHashes: Int, numBands: Int): DataFrame =
    estimateAuditCore(docs, idCol, textCol, shingleN, numHashes, numBands)
      .withColumn("i_est", expr("est_ppm * (n1 + n2) div (1000000L + est_ppm)"))
      .withColumn("cont_est_ppm", expr("i_est * 1000000L div least(n1, n2)"))
      .withColumn("cont_ppm", expr("n_inter * 1000000L div least(n1, n2)"))
      .select(col("d1"), col("d2"), col("n1"), col("n2"),
        col("cont_est_ppm"), col("cont_ppm"),
        (col("cont_est_ppm") - col("cont_ppm")).as("cont_err_ppm"))

  /** D109 — banding-plan chooser: the DESIGN-side answer the audit
    * triad (D102 calibration, D103 truncation, D108 estimate error)
    * measures after the fact. For EVERY divisor plan (r bands-rows ×
    * b bands = numHashes) of the signature budget, score the plan on
    * the corpus's OWN pair population: per df-capped blocked
    * candidate pair (the D102 universe — plan-neutral, unlike any one
    * plan's banding collisions) take the signature Jaccard estimate
    * m/H (the D108 estimator — no exact verification needed), and
    * compute the plan's collision probability 1−(1−(m/H)^r)^b.
    * Report, per plan: mean collision ppm over WANTED pairs (est ≥
    * threshold — the plan's expected recall at the operating point),
    * mean ppm over unwanted pairs (expected false-candidate rate),
    * the expected total collision count (candidate-volume cost), and
    * the chosen plan (max recall−falsepos separation, smaller r on
    * ties).
    *
    * Integer-exact and fold-order-free: with H = numHashes and
    * r·b = H, the probability is (H^H − (H^r − m^r)^b) / H^H — every
    * intermediate ≤ 12^12 ≈ 8.9·10^12 (Long-exact; ·10^6 for the ppm
    * floor stays under 2^63), powers expand to explicit
    * multiplications (no library pow to disagree over), and each pair
    * contributes a floored ppm BIGINT to the sums.
    *
    * Scale shape: ONE aggregate over the candidate-pair frame
    * produces every plan's sums simultaneously (2·|plans| partial-agg
    * columns, map-side combined); the |plans|-row reshape + argmax is
    * dimension-sized. Nothing corpus-sized is windowed or re-scanned
    * per plan.
    */
  def bandingPlanAudit(docs: DataFrame, idCol: String, textCol: String,
      shingleN: Int, numHashes: Int, thresholdPpm: Long,
      maxShingleDf: Int = 1000): DataFrame = {
    val h = numHashes
    val denom = BigInt(h).pow(h)
    require(denom * 1000000 < BigInt(Long.MaxValue),
      s"numHashes^numHashes * 1e6 must stay Long-exact (got H=$h)")
    // shared exploded index + checkpointed signatures: blocking and
    // the two signature attaches no longer re-run the shingle pass
    // (r16 — see rawSignaturesFromIndex)
    val inv = explodeShingles(shingleTable(docs, idCol, textCol, shingleN))
      .localCheckpoint()
    val sig = rawSignaturesFromIndex(inv, h)
      .select(col("doc_id"), array((0 until h).map(i => col(s"h$i")): _*).as("hs"))
      .localCheckpoint()
    val m = blockedCandidatePairsFromIndex(inv, maxShingleDf)
      .join(sig.select(col("doc_id").as("d1"), col("hs").as("hs1")), "d1")
      .join(sig.select(col("doc_id").as("d2"), col("hs").as("hs2")), "d2")
      .withColumn("n_match",
        aggregate(zip_with(col("hs1"), col("hs2"),
          (x, y) => when(x === y, 1L).otherwise(0L)), lit(0L), _ + _))
      .withColumn("wanted", expr(s"n_match * 1000000 div $h") >= thresholdPpm)
      .select("n_match", "wanted")
    val plans = (1 to h).filter(h % _ == 0).map(r => (r, h / r))
    def powS(e: String, k: Int): String = List.fill(k)(s"($e)").mkString(" * ")
    def ppmExpr(r: Int, b: Int): String = {
      val hr = BigInt(h).pow(r)
      s"(${denom}L - ${powS(s"${hr}L - ${powS("n_match", r)}", b)}) * 1000000L div ${denom}L"
    }
    val sums = plans.flatMap { case (r, b) => Seq(
      sum(when(col("wanted"), expr(ppmExpr(r, b))).otherwise(lit(0L))).as(s"sw_$r"),
      sum(when(!col("wanted"), expr(ppmExpr(r, b))).otherwise(lit(0L))).as(s"su_$r"))
    }
    val agg = m.agg(
      sum(when(col("wanted"), 1L).otherwise(0L)).as("nw"),
      (sum(when(!col("wanted"), 1L).otherwise(0L)).as("nu") +: sums): _*)
    // the argmax is computed INSIDE the one aggregate row, before the
    // reshape: per-plan separations as columns, their greatest, and a
    // first-match CASE over ascending r for the smallest-r tie-break.
    // No window (even a |plans|-row unpartitioned WindowExec drags the
    // single-partition warning into every bench tail), no second pass,
    // no join — the whole chooser is one projection over one row.
    val planMath = plans.flatMap { case (r, _) => Seq(
      s"coalesce(sw_$r, 0L) div greatest(coalesce(nw, 0L), 1L) as catch_$r",
      s"coalesce(su_$r, 0L) div greatest(coalesce(nu, 0L), 1L) as false_$r")
    }
    val scored = agg.selectExpr(
      (Seq("coalesce(nw, 0L) as n_wanted", "coalesce(nu, 0L) as n_unwanted") ++
        plans.map { case (r, _) => s"coalesce(sw_$r, 0L) as sw_$r" } ++
        plans.map { case (r, _) => s"coalesce(su_$r, 0L) as su_$r" } ++
        planMath): _*)
      .withColumn("__best", greatest(
        plans.map { case (r, _) => expr(s"catch_$r - false_$r") }: _*))
      .withColumn("__pick", expr("CASE " + plans.map { case (r, _) =>
        s"WHEN catch_$r - false_$r = __best THEN $r" }.mkString(" ") + " END"))
    scored.selectExpr(
      "n_wanted", "n_unwanted", "__pick",
      s"stack(${plans.size}, ${plans.map { case (r, b) =>
        s"$r, $b, sw_$r, su_$r, catch_$r, false_$r" }.mkString(", ")}) " +
        "as (rows_per_band, bands, sw, su, catch_ppm, false_ppm)")
      .withColumn("exp_collide_ppm", col("sw") + col("su"))
      .withColumn("chosen", col("rows_per_band") === col("__pick"))
      .select("rows_per_band", "bands", "n_wanted", "n_unwanted",
        "catch_ppm", "false_ppm", "exp_collide_ppm", "chosen")
  }

  // ------------------------------------------------------------------
  // DELETE maintenance shared by the persisted similarity indexes
  // (signature / simhash / gram / winnow). Every curation epoch
  // DELETES documents (dedup survivors, quality gates, MERGE deletes),
  // but until round 13 the index family only grew — a curated-away
  // doc's signatures stayed probe-able forever, costing verify work
  // and, for banding-only decisions (D58's documented mode), stale
  // POSITIVES. The lakehouse discipline (D52-D54) applied to indexes:
  //
  //  - removeDocs*  appends the ids to a `tombstones` side table —
  //    batch-sized, one parquet append, no index rewrite. The COMMIT
  //    POINT is the tombstone file landing; probes anti-join live
  //    rows against the (broadcast, delete-batch-sized) tombstone set.
  //  - compact*     folds tombstones in: a staged full rewrite of the
  //    index table minus tombstoned rows, swapped by atomic rename
  //    (the bloom-publish protocol), then the tombstone table is
  //    dropped. Crash between swap and drop leaves tombstones over
  //    already-removed rows — a no-op anti-join, healed by the next
  //    compact. Run it on the epoch cadence, like D53's file compact.
  //  - append*      REFUSES ids with a pending tombstone ("compact
  //    first"): physically, the old rows are still in the table, so
  //    un-tombstoning on re-add would resurrect the stale signature
  //    — the exact silent-staleness failure removeDocs exists to kill.
  //
  // Maintenance calls (remove/compact/append) assume a single
  // maintainer per index dir, as the append family always has; probes
  // are read-only and see either pre- or post-commit state.
  // ------------------------------------------------------------------

  private def tombstonePath(indexDir: String) = s"$indexDir/tombstones"

  private def hadoopFs(spark: org.apache.spark.sql.SparkSession,
      p: org.apache.hadoop.fs.Path): org.apache.hadoop.fs.FileSystem =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Append a delete batch's doc ids to the index's tombstone table.
    * Ids already tombstoned are skipped (idempotent re-delete); ids
    * absent from the index are harmless (the anti-join never sees
    * them). One coalesced file per call — the commit point.
    */
  private def appendTombstones(spark: org.apache.spark.sql.SparkSession,
      indexDir: String, ids: DataFrame, idCol: String): Unit =
      CellCommit.withMaintenanceLease(spark, indexDir) {
    val tp = new org.apache.hadoop.fs.Path(tombstonePath(indexDir))
    val fresh = ids.select(col(idCol).as("doc_id")).distinct()
    val novel =
      if (hadoopFs(spark, tp).exists(tp))
        fresh.join(spark.read.parquet(tp.toString), Seq("doc_id"), "left_anti")
          .localCheckpoint()
      else fresh
    novel.coalesce(1).write.mode("append").parquet(tp.toString)
  }

  /** Stored rows of `table` minus pending tombstones — what every
    * probe reads. The tombstone side is delete-batch-sized and rides
    * a broadcast; zero cost when no deletes are pending.
    */
  private def liveIndexRows(spark: org.apache.spark.sql.SparkSession,
      indexDir: String, table: String): DataFrame = {
    // repair-before-read: a compact that died between delete(live)
    // and rename(staging, live) leaves the only copy in staging —
    // republish it instead of failing the read. Read-side repair
    // never deletes (an incomplete staging may be an in-flight
    // compact's write).
    repairDocTableForRead(spark, indexDir, table)
    val rows = spark.read.parquet(s"$indexDir/$table")
    val tp = new org.apache.hadoop.fs.Path(tombstonePath(indexDir))
    if (hadoopFs(spark, tp).exists(tp))
      rows.join(broadcast(spark.read.parquet(tp.toString).select("doc_id").distinct()),
        Seq("doc_id"), "left_anti")
    else rows
  }

  /** Refuse an append of ids whose delete is pending — see the family
    * contract above.
    */
  private def refuseTombstoned(spark: org.apache.spark.sql.SparkSession,
      indexDir: String, batchIds: DataFrame, op: String): Unit = {
    val tp = new org.apache.hadoop.fs.Path(tombstonePath(indexDir))
    if (!hadoopFs(spark, tp).exists(tp)) return
    val hit = batchIds
      .join(spark.read.parquet(tp.toString).select("doc_id").distinct(),
        Seq("doc_id"), "left_semi")
      .limit(5).collect().map(_.get(0)).toSeq
    require(hit.isEmpty,
      s"$op: doc ids ${hit.mkString(", ")} have a pending delete in $indexDir; " +
        "compact the index before re-adding them")
  }

  /** Finish a compact of `table` a previous maintainer crashed inside
    * — called by every append* entry point BEFORE it writes into the
    * live dir. Without this, the sequence (compact crashes after its
    * COMPLETE staging write but before the swap) → (append succeeds
    * into live) → (next compact's recovery republishes the pre-append
    * staging over live) silently dropped the appended batch.
    */
  // writer/probe recovery of the flat doc tables delegates to the
  // family-shared protocol — see CellCommit's staged-publish helpers
  private def recoverDocTablePublish(spark: org.apache.spark.sql.SparkSession,
      indexDir: String, table: String): Unit =
    CellCommit.recoverStagedPublish(spark, s"$indexDir/$table")

  private def repairDocTableForRead(spark: org.apache.spark.sql.SparkSession,
      indexDir: String, table: String): Unit =
    CellCommit.repairMissingLive(spark, s"$indexDir/$table")

  /** Fold pending tombstones into `table`: staged survivor rewrite +
    * atomic-rename swap (recoverBloomPublish is the shared republish/
    * discard recovery), then drop the tombstone table. Idempotent.
    */
  private def compactDocTable(spark: org.apache.spark.sql.SparkSession,
      indexDir: String, table: String): Unit =
      CellCommit.withMaintenanceLease(spark, indexDir) {
    val live = new org.apache.hadoop.fs.Path(s"$indexDir/$table")
    val staging = new org.apache.hadoop.fs.Path(s"$indexDir/${table}__staging")
    val fs = hadoopFs(spark, live)
    // the LOCKED wrapper — an unlocked recovery here could interleave
    // with an in-JVM probe's missing-live repair and delete the only
    // copy it had just republished
    recoverDocTablePublish(spark, indexDir, table)
    val tp = new org.apache.hadoop.fs.Path(tombstonePath(indexDir))
    if (!fs.exists(tp)) return
    spark.read.parquet(live.toString)
      .join(broadcast(spark.read.parquet(tp.toString).select("doc_id").distinct()),
        Seq("doc_id"), "left_anti")
      .write.mode("errorifexists").parquet(staging.toString)
    CellCommit.publishStaged(spark, s"$indexDir/$table")
    fs.delete(tp, true)
  }

  /** Delete docs from the persisted MinHash signature index (D58's
    * "out" story): tombstone append, batch-sized. Probes stop
    * reporting the ids immediately; [[compactSignatureIndex]] folds.
    */
  def removeDocsFromSignatureIndex(spark: org.apache.spark.sql.SparkSession,
      indexDir: String, ids: DataFrame, idCol: String): Unit =
    appendTombstones(spark, indexDir, ids, idCol)

  def compactSignatureIndex(spark: org.apache.spark.sql.SparkSession,
      indexDir: String): Unit = compactDocTable(spark, indexDir, "bands")

  /** Delete docs from the persisted simhash index (D123). */
  def removeDocsFromSimhashIndex(spark: org.apache.spark.sql.SparkSession,
      indexDir: String, ids: DataFrame, idCol: String): Unit =
    appendTombstones(spark, indexDir, ids, idCol)

  def compactSimhashIndex(spark: org.apache.spark.sql.SparkSession,
      indexDir: String): Unit = compactDocTable(spark, indexDir, "sigs")

  /** Delete docs from the persisted gram index (D113). Correct
    * per-doc deletion needs doc ATTRIBUTION — a gram shared with a
    * surviving doc must keep flagging — which is why the gram table
    * stores (doc_id, gh) rows (round 13) rather than a bare distinct
    * gram set: the probe's semi-join on gh is unchanged, and deletion
    * becomes exact at the cost of storing each gram once per doc that
    * contains it instead of once globally.
    */
  def removeDocsFromGramIndex(spark: org.apache.spark.sql.SparkSession,
      indexDir: String, ids: DataFrame, idCol: String): Unit =
    appendTombstones(spark, indexDir, ids, idCol)

  def compactGramIndex(spark: org.apache.spark.sql.SparkSession,
      indexDir: String): Unit = compactDocTable(spark, indexDir, "grams")

  /** Delete docs from the persisted winnow index (D122) — attributed
    * (doc_id, gh) rows, same contract as the gram index.
    */
  def removeDocsFromWinnowIndex(spark: org.apache.spark.sql.SparkSession,
      indexDir: String, ids: DataFrame, idCol: String): Unit =
    appendTombstones(spark, indexDir, ids, idCol)

  def compactWinnowIndex(spark: org.apache.spark.sql.SparkSession,
      indexDir: String): Unit = compactDocTable(spark, indexDir, "fps")

  /** The Bloom sketch tier (D115) cannot delete: bits only ever OR in.
    * Its delete story is a staged REBUILD from the surviving corpus —
    * acceptable on the epoch cadence because the sketch is a
    * prefilter (a stale positive costs one exact-tier escalation,
    * never a wrong decision) and the fold is one corpus projection.
    * Published under the same staging + rename + cache-invalidate
    * protocol as the append path, so probes never see a half-built
    * sketch.
    */
  def rebuildGramBloomIndex(spark: org.apache.spark.sql.SparkSession,
      indexDir: String, survivors: DataFrame, idCol: String, textCol: String): Unit =
    CellCommit.withMaintenanceLease(spark, indexDir) {
    bloomDirLock(indexDir).synchronized {
      val p = spark.read.parquet(s"$indexDir/params")
        .select("gram_n", "num_buckets", "fpp_ppm").head()
      val bloomP = new org.apache.hadoop.fs.Path(s"$indexDir/bloom")
      val staging = new org.apache.hadoop.fs.Path(s"$indexDir/bloom__staging")
      val fs = hadoopFs(spark, bloomP)
      recoverBloomPublish(fs, bloomP, staging)
      bloomRows(bucketedGramHashes(survivors, idCol, textCol, p.getInt(0), p.getInt(1)),
          p.getLong(2), Map.empty)
        .write.mode("errorifexists").parquet(staging.toString)
      bloomBroadcastCache.remove(indexDir)
      if (fs.exists(bloomP)) fs.delete(bloomP, true)
      require(fs.rename(staging, bloomP),
        s"bloom publish rename $staging -> $bloomP failed")
      bloomBroadcastCache.remove(indexDir)
    }
    }

  /** D58 — persisted MinHash signature index: the corpus keeps
    * (doc_id, band, band_sig) rows beside its data — fixed-width, a
    * few rows per document — so incremental NEAR-dup curation of a
    * new batch never rescans or re-shingles corpus text (the LSH
    * analogue of D24's exact hash index). Band parameters persist
    * with the index so build and probe cannot disagree; `append`
    * mode extends the index with an accepted batch's signatures at
    * batch-sized cost.
    */
  def writeSignatureIndex(corpus: DataFrame, idCol: String, textCol: String,
      dir: String, shingleN: Int, numHashes: Int, numBands: Int): Unit =
      CellCommit.withMaintenanceLease(corpus.sparkSession, dir) {
    val spark = corpus.sparkSession
    val paramsPath = new org.apache.hadoop.fs.Path(s"$dir/params")
    val fs = paramsPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(paramsPath)) {
      // Stored band parameters are LAW (the writeGramIndex treatment):
      // appending signatures computed under different (shingleN,
      // numHashes, numBands) would silently poison every later probe
      // — band sigs from mismatched params hash-disjoint, so true
      // near-dups stop colliding. Fail fast on mismatch; on match
      // route through the doc-id anti-join append so repeated builds
      // never duplicate band rows.
      val p = spark.read.parquet(s"$dir/params")
        .select("shingle_n", "num_hashes", "num_bands").head()
      require(p.getInt(0) == shingleN && p.getInt(1) == numHashes &&
        p.getInt(2) == numBands,
        s"signature index at $dir was built with (shingleN=${p.getInt(0)}, " +
          s"numHashes=${p.getInt(1)}, numBands=${p.getInt(2)}) but re-build " +
          s"requested ($shingleN, $numHashes, $numBands); delete the index " +
          "to change band parameters")
      appendSignatureIndex(spark, dir, corpus, idCol, textCol)
    } else {
      // params FIRST: a crash between the two writes then leaves a
      // params-only index, which the exists-branch repairs on the
      // next build (the append path writes the bands dir fresh)
      // instead of dying opaquely on a half-built bands write.
      spark.range(1)
        .select(lit(shingleN).as("shingle_n"), lit(numHashes).as("num_hashes"),
          lit(numBands).as("num_bands"))
        .coalesce(1).write.mode("errorifexists").parquet(s"$dir/params")
      bandSignatures(corpus, idCol, textCol, shingleN, numHashes, numBands)
        .write.mode("errorifexists").parquet(s"$dir/bands")
    }
  }

  /** Extend a persisted signature index with an accepted batch's band
    * rows at batch-sized cost: signatures are computed under the
    * STORED params, and docs already present in the index are skipped
    * (doc-id anti-join) so re-submitting a batch never duplicates
    * band rows. The anti-join key is fixed-width (doc_id) against a
    * column-pruned scan of the bands table — no signature bytes move
    * for the existing corpus.
    *
    * MUTATION is refused, not silently ignored: re-submitting a doc_id
    * whose TEXT changed would otherwise be skipped by the anti-join,
    * leaving the STALE signature probe-able forever — later probes
    * then miss near-dups of the new content with no error or marker.
    * The check compares the resubmitted docs' fresh band rows against
    * their stored rows (a batch-id-pruned scan of the bands table) and
    * fails fast on any divergence, the same law the params-mismatch
    * path enforces. To mutate, route through the index's delete path
    * ([[removeDocsFromSignatureIndex]]) and re-append.
    */
  def appendSignatureIndex(spark: org.apache.spark.sql.SparkSession,
      indexDir: String, batch: DataFrame, idCol: String, textCol: String): Unit =
      CellCommit.withMaintenanceLease(spark, indexDir) {
    val p = spark.read.parquet(s"$indexDir/params")
      .select("shingle_n", "num_hashes", "num_bands").head()
    val sigs = bandSignatures(batch, idCol, textCol,
      p.getInt(0), p.getInt(1), p.getInt(2)).localCheckpoint()
    val bandsPath = new org.apache.hadoop.fs.Path(s"$indexDir/bands")
    val fs = bandsPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // finish a crashed compact before touching live (and before the
    // exists check: a republish may recreate the live dir)
    recoverDocTablePublish(spark, indexDir, "bands")
    if (!fs.exists(bandsPath)) {
      // params-only index (crash between a fresh build's two writes):
      // this batch IS the fresh signature set
      sigs.write.mode("errorifexists").parquet(s"$indexDir/bands")
    } else {
      refuseTombstoned(spark, indexDir, sigs.select("doc_id").distinct(),
        "appendSignatureIndex")
      // rows of the stored index for doc_ids this batch re-submits
      // (batch-sized: the semi-join prunes the corpus-side scan)
      val storedForBatch = spark.read.parquet(s"$indexDir/bands")
        .join(sigs.select("doc_id").distinct(), Seq("doc_id"), "left_semi")
        .localCheckpoint()
      val changed = sigs
        .join(storedForBatch.select("doc_id").distinct(), Seq("doc_id"), "left_semi")
        .join(storedForBatch, Seq("doc_id", "band", "band_sig"), "left_anti")
        .select("doc_id").distinct().limit(5)
        .collect().map(_.get(0)).toSeq
      require(changed.isEmpty,
        s"appendSignatureIndex: doc ids ${changed.mkString(", ")} already in " +
          s"$indexDir with DIFFERENT signatures (their text changed); the index " +
          "does not support in-place mutation — remove the ids first, then re-append")
      // novel = batch docs with no stored rows (storedForBatch holds
      // ALL stored rows for batch ids, so no second corpus-side scan);
      // materialize BEFORE writing — the append lands in the same
      // directory the semi-join read
      val novel = sigs
        .join(storedForBatch.select("doc_id").distinct(), Seq("doc_id"), "left_anti")
        .localCheckpoint()
      novel.write.mode("append").parquet(s"$indexDir/bands")
    }
  }

  /** Probe a NEW batch against the stored signature index: one join
    * on fixed-width (band, band_sig) keys yields every
    * (new doc, corpus doc) LSH-candidate pair. The decision is
    * banding-only by design — at this stage the corpus text is not
    * available (that is the point), so the collision probability is
    * tuned through (numHashes, numBands) exactly as in the one-shot
    * [[minhashLsh]], whose verified threshold calibrates them.
    */
  def incrementalNearDup(spark: org.apache.spark.sql.SparkSession, dir: String,
      batch: DataFrame, idCol: String, textCol: String): DataFrame = {
    val p = spark.read.parquet(s"$dir/params").head()
    val idx = liveIndexRows(spark, dir, "bands")
      .select(col("doc_id").as("d_corpus"), col("band"), col("band_sig"))
    bandSignatures(batch, idCol, textCol,
        p.getInt(0), p.getInt(1), p.getInt(2))
      .select(col("doc_id").as("d_new"), col("band"), col("band_sig"))
      .join(idx, Seq("band", "band_sig"))
      .select("d_new", "d_corpus").distinct()
  }

  /** Opt-in EXACT verification for the incremental probe: when the
    * corpus text IS reachable at probe time (co-located lakehouse,
    * not a signatures-only mirror), re-verify every banding candidate
    * with exact Jaccard at the same `threshold` the one-shot
    * [[minhashLsh]] uses — the result then equals the one-shot run on
    * corpus ∪ batch restricted to cross pairs, with none of banding's
    * false positives.
    *
    * Scale shape: candidates stay the bounded LSH-collision set; the
    * broadcast candidate-id semi-join prunes corpus ∪ batch BEFORE
    * any shingling, so text is re-shingled for candidate docs only —
    * identical to the one-shot verify stage's discipline. The index's
    * stored shingleN drives the recompute, so probe and build cannot
    * disagree on shingle shape.
    */
  def incrementalNearDupVerified(spark: org.apache.spark.sql.SparkSession,
      dir: String, batch: DataFrame, idCol: String, textCol: String,
      corpusText: DataFrame, threshold: Double): DataFrame = {
    val p = spark.read.parquet(s"$dir/params").head()
    val (shingleN, numHashes, numBands) = (p.getInt(0), p.getInt(1), p.getInt(2))
    // shingle the BATCH once (r16, guide §1.2): the banding probe and
    // the d_new verification side both consume it — before, the probe
    // re-tokenized the batch for signatures and the verify stage
    // re-tokenized it a second time through the corpus∪batch union.
    // Corpus candidates still re-shingle from text (the index stores
    // band sigs only — that is the point of a signatures-only mirror).
    val shBatch = shingleTable(batch, idCol, textCol, shingleN)
      .localCheckpoint()
    val idx = liveIndexRows(spark, dir, "bands")
      .select(col("doc_id").as("d_corpus"), col("band"), col("band_sig"))
    val cand = bandsFromRawSignatures(
        rawSignaturesFromIndex(explodeShingles(shBatch), numHashes), numHashes, numBands)
      .select(col("doc_id").as("d_new"), col("band"), col("band_sig"))
      .join(idx, Seq("band", "band_sig"))
      .select("d_new", "d_corpus").distinct()
      // two consumers (corpus-id prune + pair join)
      .localCheckpoint()
    val corpusIds = cand.select(col("d_corpus").as("cid")).distinct()
    val corpusSh = shingleTable(
        corpusText.join(broadcast(corpusIds), col(idCol) === col("cid"), "left_semi"),
        idCol, textCol, shingleN)
      .select(col("doc_id"), col("sh"), size(col("sh")).as("n_sh"))
    val batchSh = shBatch
      .select(col("doc_id"), col("sh"), size(col("sh")).as("n_sh"))
    cand
      .join(batchSh.select(col("doc_id").as("d_new"), col("sh").as("sh1"),
        col("n_sh").as("n1")), "d_new")
      .join(corpusSh.select(col("doc_id").as("d_corpus"), col("sh").as("sh2"),
        col("n_sh").as("n2")), "d_corpus")
      .withColumn("n_inter", size(array_intersect(col("sh1"), col("sh2"))))
      .withColumn("jaccard", col("n_inter").cast("double") /
        (col("n1") + col("n2") - col("n_inter")).cast("double"))
      .filter(col("jaccard") >= threshold)
      .select("d_new", "d_corpus", "jaccard")
  }

  /** D3 — SimHash fingerprints (16-bit portable variant; the 64-bit
    * production variant is graft.functions.SimHash64).
    */
  def simhashFingerprints(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(col(idCol).as("doc_id"), tokens(col(textCol)).as("ws"))
      .select(col("doc_id"), tokenHashes(col("ws")).as("th"))
      .select(col("doc_id"), simhash16FromHashes(col("th")).as("simhash"))

  /** 48-bit engine-portable simhash (md5-prefix token hashes) — the
    * fingerprint the persisted index stores. One long per document.
    */
  def simhash48Fingerprints(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(col(idCol).as("doc_id"), tokens(col(textCol)).as("ws"))
      .select(col("doc_id"), tokenHashes48(col("ws")).as("th"))
      .select(col("doc_id"), simhash48FromHashes(col("th")).as("simhash"))

  /** D123 — persisted SIMHASH fingerprint index with banded
    * Hamming-distance probe (Manku, Jain & Das Sarma, WWW'07 — the
    * production web-crawl near-dup design): the corpus keeps ONE
    * 48-bit simhash per document; a new batch probes by splitting
    * both sides into 4 × 12-bit bands and exact-joining on any equal
    * band, then verifying the FULL Hamming distance with integer
    * popcount. Pigeonhole makes the probe LOSSLESS for the Hamming
    * criterion: ≤ `maxHamming` (< 4) differing bits cannot touch all
    * 4 bands, so every qualifying pair shares an intact band and
    * collides. Index rows are fixed-width (doc_id, simhash) — 16
    * bytes/doc, the cheapest near-dup index in the family (D58 stores
    * bands × sig rows, D113 a row per distinct gram).
    *
    * Scale shape: probe cost = band join on 12-bit keys (bucket
    * collision rate 2^-12 per band) + popcount filter on the
    * candidates — no text ever rescanned at probe time. At larger
    * corpora widen the fingerprint (the codegen'd 64-bit
    * [[graft.functions.SimHash64]]) and the band width with it; 48
    * bits is the widest md5-replayable width both engines hash
    * identically, which is what lets the gate pin the whole path.
    */
  def writeSimhashIndex(corpus: DataFrame, idCol: String, textCol: String,
      dir: String): Unit =
      CellCommit.withMaintenanceLease(corpus.sparkSession, dir) {
    val spark = corpus.sparkSession
    val paramsPath = new org.apache.hadoop.fs.Path(s"$dir/params")
    val fs = paramsPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(paramsPath)) {
      val p = spark.read.parquet(s"$dir/params").select("bits", "bands").head()
      require(p.getInt(0) == 48 && p.getInt(1) == 4,
        s"simhash index at $dir was built with (bits=${p.getInt(0)}, bands=${p.getInt(1)}); " +
          "this build writes (48, 4) — delete the index to change widths")
      appendSimhashIndex(spark, dir, corpus, idCol, textCol)
    } else {
      // params FIRST (family-wide discipline): a crash between the
      // writes leaves a params-only dir the append path repairs
      spark.range(1).select(lit(48).as("bits"), lit(4).as("bands"))
        .coalesce(1).write.mode("errorifexists").parquet(s"$dir/params")
      simhash48Fingerprints(corpus, idCol, textCol)
        .write.mode("errorifexists").parquet(s"$dir/sigs")
    }
  }

  /** Batch-sized growth of the simhash index: fingerprints of docs
    * not already present (doc-id anti-join), appended. Public append
    * path, so it verifies the stored params itself (the gram/winnow
    * append discipline — width/bands are hard-coded 48/4 today, but
    * params-as-law means every entry point checks) and refuses
    * mutation: a re-submitted doc_id whose fingerprint changed fails
    * fast instead of silently keeping the stale signature.
    */
  def appendSimhashIndex(spark: org.apache.spark.sql.SparkSession,
      indexDir: String, batch: DataFrame, idCol: String, textCol: String): Unit =
      CellCommit.withMaintenanceLease(spark, indexDir) {
    val p = spark.read.parquet(s"$indexDir/params").select("bits", "bands").head()
    require(p.getInt(0) == 48 && p.getInt(1) == 4,
      s"simhash index at $indexDir was built with (bits=${p.getInt(0)}, " +
        s"bands=${p.getInt(1)}) but this append computes 48-bit/4-band " +
        "fingerprints; delete the index to change widths")
    val sigs = simhash48Fingerprints(batch, idCol, textCol).localCheckpoint()
    val sigsPath = new org.apache.hadoop.fs.Path(s"$indexDir/sigs")
    val fs = sigsPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    recoverDocTablePublish(spark, indexDir, "sigs")
    if (!fs.exists(sigsPath)) {
      sigs.write.mode("errorifexists").parquet(s"$indexDir/sigs")
      return
    }
    refuseTombstoned(spark, indexDir, sigs.select("doc_id").distinct(),
      "appendSimhashIndex")
    val storedForBatch = spark.read.parquet(s"$indexDir/sigs")
      .join(sigs.select("doc_id").distinct(), Seq("doc_id"), "left_semi")
      .localCheckpoint()
    val changed = sigs
      .join(storedForBatch.select("doc_id").distinct(), Seq("doc_id"), "left_semi")
      .join(storedForBatch, Seq("doc_id", "simhash"), "left_anti")
      .select("doc_id").distinct().limit(5)
      .collect().map(_.get(0)).toSeq
    require(changed.isEmpty,
      s"appendSimhashIndex: doc ids ${changed.mkString(", ")} already in " +
        s"$indexDir with DIFFERENT fingerprints (their text changed); remove " +
        "the ids first, then re-append")
    val novel = sigs
      .join(storedForBatch.select("doc_id").distinct(), Seq("doc_id"), "left_anti")
      .localCheckpoint()
    novel.write.mode("append").parquet(s"$indexDir/sigs")
  }

  /** Probe side: every (new doc, corpus doc) pair within `maxHamming`
    * bit flips of each other, with the verified distance. Lossless
    * for maxHamming < 4 by the 4-band pigeonhole.
    */
  def incrementalSimhashDup(spark: org.apache.spark.sql.SparkSession,
      indexDir: String, batch: DataFrame, idCol: String, textCol: String,
      maxHamming: Int = 3): DataFrame = {
    require(maxHamming >= 0 && maxHamming < 4,
      s"maxHamming=$maxHamming voids the 4-band pigeonhole guarantee (needs < 4)")
    def banded(sigs: DataFrame, dCol: String, sCol: String): DataFrame =
      sigs.select(col("doc_id").as(dCol), col("simhash").as(sCol),
          explode(array((0 until 4).map(lit(_)): _*)).as("band"))
        .withColumn("nib", expr(s"shiftright($sCol, band * 12) & 4095"))
    val idx = banded(liveIndexRows(spark, indexDir, "sigs"), "d_corpus", "sh_c")
    val probe = banded(simhash48Fingerprints(batch, idCol, textCol), "d_new", "sh_n")
    probe.join(idx, Seq("band", "nib"))
      .select("d_new", "d_corpus", "sh_n", "sh_c").distinct()
      .withColumn("hamming",
        expr("bit_count(sh_n ^ sh_c)").cast("int"))
      .filter(col("hamming") <= maxHamming)
      .select("d_new", "d_corpus", "hamming")
  }

  /** D5 — embedding-cosine near-dup pairs with sign-bit LSH prefilter:
    * only vectors sharing a coarse bucket are compared, bounding the
    * pairwise work; exact cosine verifies.
    */
  def embeddingNearDup(emb: DataFrame, idCol: String, vecCol: String,
      bucketBits: Int, threshold: Double): DataFrame = {
    import graft.functions.VectorFunctions._
    // Norms computed once per vector BEFORE the pair join — inside a
    // bucket of k vectors that saves 2·k²-k norm folds vs cosine().
    val e = emb.select(col(idCol).as("vec_id"), toDouble(col(vecCol)).as("v"))
      .select(col("vec_id"), col("v"), l2Norm(col("v")).as("nrm"),
        signBucket(col("v"), bucketBits).as("bucket"))
    e.as("a").join(e.as("b"),
        col("a.bucket") === col("b.bucket") && col("a.vec_id") < col("b.vec_id"))
      .withColumn("sim", dot(col("a.v"), col("b.v")) / (col("a.nrm") * col("b.nrm")))
      .filter(col("sim") > threshold)
      .select(col("a.vec_id").as("id1"), col("b.vec_id").as("id2"))
  }

  /** D38 — SemDeDup (Abbas et al. 2023, "SemDeDup: Data-efficient
    * learning at web-scale through semantic deduplication"): k-means
    * clusters bound the pairwise search space, then near-duplicate
    * embeddings WITHIN each cluster are dropped keep-lowest-id. The
    * clustering is the integer-exact Lloyd loop (Clustering.scala), so
    * the cluster assignment — and therefore which pairs are ever
    * compared — is engine-replayable; the cosine filter reuses the
    * norms-before-join discipline of [[embeddingNearDup]]. At 100 TB
    * the pairwise work is O(Σ cluster²) instead of O(n²) — k scales
    * with the corpus so clusters stay bounded, exactly the paper's
    * point.
    */
  def semanticDedup(emb: DataFrame, idCol: String, vecCol: String,
      k: Int, iters: Int, dim: Int, threshold: Double): DataFrame = {
    import graft.functions.VectorFunctions._
    val clusters = Clustering.kmeansQuantized(emb, idCol, vecCol, k, iters, dim)
    val e = emb.select(col(idCol).as("vec_id"), toDouble(col(vecCol)).as("v"))
      .select(col("vec_id"), col("v"), l2Norm(col("v")).as("nrm"))
      .join(clusters, "vec_id") // kmeansQuantized emits (vec_id, cluster)
    val dropped = e.as("a").join(e.as("b"),
        col("a.cluster") === col("b.cluster") && col("a.vec_id") < col("b.vec_id"))
      .withColumn("sim", dot(col("a.v"), col("b.v")) / (col("a.nrm") * col("b.nrm")))
      .filter(col("sim") > threshold)
      .select(col("b.vec_id").as("vec_id")).distinct()
    e.join(dropped, Seq("vec_id"), "left_anti")
      .select(col("vec_id"), col("cluster"))
  }

  /** D34 — cross-document duplicated n-gram spans (the substring-dedup
    * measurement of Lee et al. 2022, "Deduplicating Training Data Makes
    * Language Models Better", at n-gram granularity): per document, how
    * many n-gram starts also appear verbatim in ANOTHER document, and
    * how many tokens those spans cover. Shuffle discipline at 100 TB:
    * n-grams reduce to md5 hashes inside the projection, so the
    * duplicate-set aggregate and the semi-join back both exchange
    * fixed-width (hash, doc_id, start) rows — never text. Coverage
    * explodes each duplicated start to at most n token indices (n-fold,
    * bounded) and distinct-counts per doc.
    */
  /** (doc_id, n_tok) base + (doc_id, start, gh) gram-hash stream —
    * grams reduce to md5 in-projection; shared by D34/D39/D113.
    */
  private def tokenGrams(docs: DataFrame, idCol: String, textCol: String,
      n: Int): (DataFrame, DataFrame) = {
    require(n > 0, s"invalid n-gram size $n")
    val toks = split(coalesce(col(textCol), lit("")), " ")
    val base = docs.select(col(idCol).as("doc_id"), toks.as("__toks"),
      size(toks).as("n_tok"))
    val grams = base.filter(col("n_tok") >= n)
      .select(col("doc_id"),
        posexplode(transform(sequence(lit(0), col("n_tok") - n),
          i => md5(concat_ws(" ",
            (1 to n).map(k => element_at(col("__toks"), i + lit(k))): _*)
            .cast("binary")))))
      .select(col("doc_id"), col("pos").as("start"), col("col").as("gh"))
    (base.select("doc_id", "n_tok"), grams)
  }

  /** Per-doc rollup of a dup-start stream into the D34 span report:
    * dup-gram count, distinct covered token positions, earliest dup.
    */
  private def spanReport(base: DataFrame, dupStarts: DataFrame, n: Int): DataFrame = {
    val spanAgg = dupStarts.groupBy("doc_id")
      .agg(count(lit(1)).as("dup_ngrams"), min("start").as("first_dup"))
    val covered = dupStarts
      .select(col("doc_id"),
        explode(sequence(col("start"), col("start") + (n - 1))).as("tok_idx"))
      .groupBy("doc_id").agg(countDistinct("tok_idx").as("covered_tok"))
    base
      .join(spanAgg, Seq("doc_id"), "left")
      .join(covered, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tok"),
        coalesce(col("dup_ngrams"), lit(0L)).as("dup_ngrams"),
        coalesce(col("covered_tok"), lit(0L)).as("covered_tok"),
        coalesce(col("first_dup"), lit(-1)).as("first_dup"))
  }

  def duplicatedSpans(docs: DataFrame, idCol: String, textCol: String,
      n: Int): DataFrame = {
    val (base, grams) = tokenGrams(docs, idCol, textCol, n)
    val dup = grams.groupBy("gh")
      .agg(countDistinct("doc_id").as("__nd"))
      .filter(col("__nd") >= 2).select("gh")
    spanReport(base, grams.join(dup, Seq("gh"), "left_semi"), n)
  }

  /** D113 — persisted dup-gram index + ingest-time duplicated-span
    * guard: the steady-state form of Lee et al. exact-substring
    * measurement (D34 is the one-shot). The corpus keeps its DISTINCT
    * gram hashes beside the data (fixed-width md5 rows, gram n
    * persisted with the index so build and probe cannot disagree); a
    * NEW batch probes with ONE semi-join on the hash key and gets the
    * full D34 span report against the whole corpus — the corpus text
    * is never rescanned or re-grammed (the D24/D58 index economics
    * applied at span granularity). `appendGramIndex` extends the
    * index with an accepted batch's rows at batch cost (novel-doc
    * anti-join), keeping it duplicate-free.
    *
    * The gram table stores ATTRIBUTED (doc_id, gh) rows — each gram
    * once per containing doc, not once globally (round 13, for
    * [[removeDocsFromGramIndex]]): deleting a doc must keep flagging
    * grams a SURVIVOR still contains, which a bare distinct-gram set
    * cannot decide. Probes semi-join on gh exactly as before; the
    * storage cost is the corpus's per-doc/global gram duplication
    * ratio (≈1-2× on web text) — the price of an exact "out" path.
    */
  def writeGramIndex(corpus: DataFrame, idCol: String, textCol: String,
      n: Int, dir: String): Unit =
      CellCommit.withMaintenanceLease(corpus.sparkSession, dir) {
    val spark = corpus.sparkSession
    val paramsPath = new org.apache.hadoop.fs.Path(s"$dir/params")
    val fs = paramsPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(paramsPath)) {
      // Re-building into an existing index: the stored gram size is
      // LAW — appending grams computed at a different n would poison
      // every later probe (mixed gram sizes hash-disjoint, so dup
      // spans silently under-report). Fail fast on mismatch; on match
      // route through the anti-join append so repeated builds stay
      // duplicate-free (distinct() alone is batch-local).
      val stored = spark.read.parquet(s"$dir/params").head().getInt(0)
      require(stored == n,
        s"gram index at $dir was built with n=$stored but re-build requested n=$n; " +
          "delete the index to change gram size")
      appendGramIndex(spark, dir, corpus, idCol, textCol)
    } else {
      // params FIRST: a crash between the two writes then leaves a
      // params-only index, which the exists-branch repairs on the
      // next build (appendGramIndex writes the grams dir fresh)
      // instead of dying opaquely on a half-built grams write.
      spark.range(1)
        .select(lit(n).as("gram_n"))
        .coalesce(1).write.mode("errorifexists").parquet(s"$dir/params")
      val (_, grams) = tokenGrams(corpus, idCol, textCol, n)
      grams.select("doc_id", "gh").distinct()
        .write.mode("errorifexists").parquet(s"$dir/grams")
    }
  }

  def incrementalDuplicatedSpans(spark: org.apache.spark.sql.SparkSession,
      indexDir: String, batch: DataFrame, idCol: String, textCol: String): DataFrame = {
    val n = spark.read.parquet(s"$indexDir/params").head().getInt(0)
    val (base, grams) = tokenGrams(batch, idCol, textCol, n)
    val idx = liveIndexRows(spark, indexDir, "grams").select("gh")
    spanReport(base, grams.join(idx, Seq("gh"), "left_semi"), n)
  }

  def appendGramIndex(spark: org.apache.spark.sql.SparkSession,
      indexDir: String, batch: DataFrame, idCol: String, textCol: String): Unit =
      CellCommit.withMaintenanceLease(spark, indexDir) {
    val n = spark.read.parquet(s"$indexDir/params").head().getInt(0)
    val (_, grams) = tokenGrams(batch, idCol, textCol, n)
    val rows = grams.select("doc_id", "gh").distinct().localCheckpoint()
    val gramsPath = new org.apache.hadoop.fs.Path(s"$indexDir/grams")
    val fs = gramsPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    recoverDocTablePublish(spark, indexDir, "grams")
    if (!fs.exists(gramsPath)) {
      // params-only index (crash between a fresh build's two writes):
      // this batch IS the fresh gram set
      rows.write.mode("errorifexists").parquet(s"$indexDir/grams")
      return
    }
    refuseTombstoned(spark, indexDir, rows.select("doc_id").distinct(),
      "appendGramIndex")
    // rows of the stored index for doc_ids this batch re-submits
    // (batch-pruned by the semi-join); materialized BEFORE the write
    // lands in the directory it read
    val storedForBatch = spark.read.parquet(s"$indexDir/grams")
      .join(rows.select("doc_id").distinct(), Seq("doc_id"), "left_semi")
      .localCheckpoint()
    // mutation refusal, BOTH directions (gram sets are variable-size:
    // a changed doc may only ADD grams or only LOSE them)
    val changed = rows
      .join(storedForBatch.select("doc_id").distinct(), Seq("doc_id"), "left_semi")
      .join(storedForBatch, Seq("doc_id", "gh"), "left_anti")
      .select("doc_id")
      .union(storedForBatch.join(rows, Seq("doc_id", "gh"), "left_anti").select("doc_id"))
      .distinct().limit(5).collect().map(_.get(0)).toSeq
    require(changed.isEmpty,
      s"appendGramIndex: doc ids ${changed.mkString(", ")} already in $indexDir " +
        "with DIFFERENT gram sets (their text changed); remove the ids first, " +
        "then re-append")
    val novel = rows
      .join(storedForBatch.select("doc_id").distinct(), Seq("doc_id"), "left_anti")
      .localCheckpoint()
    novel.write.mode("append").parquet(s"$indexDir/grams")
  }

  /** D115 — Bloom-SKETCHED tier of the D113 gram-index guard: per
    * hash bucket, one Spark `BloomFilter` over the corpus's distinct
    * gram hashes (60-bit md5 prefixes), persisted beside the data the
    * way the exact tier persists its gram rows. The sketch is orders
    * smaller than the exact index (~`-log2(fpp)` BITS per gram vs a
    * 32-hex-char row), so the steady-state ingest guard can probe a
    * broadcast-resident structure at batch-projection cost — no
    * semi-join against a corpus-scale gram table per micro-batch. The
    * price is one-sided: false POSITIVES at the configured fpp (a
    * flagged span that isn't in the corpus — escalate suspects to the
    * exact tier), never false negatives (every true duplicated span
    * flags; the recall contract `q_dup_spans_sketch` pins in-engine).
    *
    * Scale shape: build is the exact tier's projection + one distinct
    * + a per-bucket stream fold (two exchanges, no gram ever
    * collected); each bloom is sized from ITS bucket's cardinality
    * (pass-1 count, bucket-count-bounded driver state — the CMS
    * precedent). Total sketch bytes ≈ grams · 1.44·log2(1/fpp) / 8 —
    * the build-time budget knob is (numBuckets, fppPpm); at corpus
    * sizes where even that exceeds broadcast budget, raise fpp (the
    * guard degrades to a noisier prefilter, never to a missed dup).
    */
  def writeGramBloomIndex(corpus: DataFrame, idCol: String, textCol: String,
      n: Int, dir: String, numBuckets: Int = 64, fppPpm: Long = 10000L): Unit =
      CellCommit.withMaintenanceLease(corpus.sparkSession, dir) {
    require(numBuckets > 0, s"invalid numBuckets $numBuckets")
    require(fppPpm > 0 && fppPpm < 1000000L, s"invalid fppPpm $fppPpm")
    val spark = corpus.sparkSession
    val paramsPath = new org.apache.hadoop.fs.Path(s"$dir/params")
    val fs = paramsPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(paramsPath)) {
      // Stored sketch parameters are LAW: a bloom folded under a
      // different gram size never matches probe hashes, and a
      // different bucket count scatters hashes to the wrong filters —
      // both are silent false-negative factories, the one failure
      // mode the tier promises away. Fail fast on mismatch; on match
      // route through the OR-merge append.
      val p = spark.read.parquet(s"$dir/params")
        .select("gram_n", "num_buckets", "fpp_ppm").head()
      require(p.getInt(0) == n && p.getInt(1) == numBuckets &&
        p.getLong(2) == fppPpm,
        s"bloom index at $dir was built with (n=${p.getInt(0)}, " +
          s"buckets=${p.getInt(1)}, fppPpm=${p.getLong(2)}) but re-build " +
          s"requested ($n, $numBuckets, $fppPpm); delete the index to change them")
      appendGramBloomIndex(spark, dir, corpus, idCol, textCol)
    } else {
      // params FIRST: a crash between the two writes leaves a
      // params-only index the append path repairs (batch becomes the
      // fresh fold) instead of an opaque already-exists failure.
      spark.range(1)
        .select(lit(n).as("gram_n"), lit(numBuckets).as("num_buckets"),
          lit(fppPpm).as("fpp_ppm"))
        .coalesce(1).write.mode("errorifexists").parquet(s"$dir/params")
      bloomRows(bucketedGramHashes(corpus, idCol, textCol, n, numBuckets),
          fppPpm, Map.empty)
        .write.mode("errorifexists").parquet(s"$dir/bloom")
    }
  }

  /** Distinct 60-bit gram-hash prefixes, bucketed — the shared input
    * shape of the bloom build and append folds.
    */
  private def bucketedGramHashes(docs: DataFrame, idCol: String,
      textCol: String, n: Int, numBuckets: Int): DataFrame = {
    val (_, grams) = tokenGrams(docs, idCol, textCol, n)
    grams
      .select(conv(substring(col("gh"), 1, 15), 16, 10).cast("long").as("h"))
      .distinct()
      .withColumn("bucket", pmod(col("h"), lit(numBuckets.toLong)).cast("int"))
  }

  /** Per-bucket bloom fold. With an empty `seed` this is the fresh
    * build (each filter sized from ITS bucket's pass-1 count); with a
    * seed it is the APPEND merge — novel hashes are `putLong`-ed into
    * the DESERIALIZED seed filter, which is exactly an OR-merge at
    * the seed's fixed bit size and hash count (valid because insert
    * only sets bits: no false negative can appear, and the effective
    * fpp degrades gracefully as the bucket outgrows its build-time
    * sizing). `n_grams` after an append is seed + might-contain-novel
    * count — a LOWER bound on true distinct grams (an fpp-fraction of
    * genuinely novel grams read as already present), good enough for
    * its one job: observing bucket growth vs build-time sizing.
    */
  private def bloomRows(g: DataFrame, fppPpm: Long,
      seed: Map[Int, (Long, Array[Byte])]): DataFrame = {
    val spark = g.sparkSession
    import spark.implicits._
    val gg = g.localCheckpoint() // consumed by the count pass AND the fold pass
    val counts = gg.groupBy("bucket").agg(count(lit(1)).as("c"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val bcCounts = spark.sparkContext.broadcast(counts)
    val bcSeed = spark.sparkContext.broadcast(seed)
    val fpp = fppPpm / 1e6
    gg.select("bucket", "h").as[(Int, Long)]
      .groupByKey(_._1)
      .mapGroups { (b, it) =>
        def serialize(bf: org.apache.spark.util.sketch.BloomFilter): Array[Byte] = {
          val bos = new java.io.ByteArrayOutputStream()
          bf.writeTo(bos)
          bos.toByteArray
        }
        bcSeed.value.get(b) match {
          case Some((seedCount, bytes)) =>
            val bf = org.apache.spark.util.sketch.BloomFilter.readFrom(
              new java.io.ByteArrayInputStream(bytes))
            var novel = 0L
            it.foreach { case (_, h) =>
              if (!bf.mightContainLong(h)) novel += 1
              bf.putLong(h)
            }
            (b, seedCount + novel, serialize(bf))
          case None =>
            val bf = org.apache.spark.util.sketch.BloomFilter.create(
              math.max(bcCounts.value.getOrElse(b, 1L), 1L), fpp)
            it.foreach { case (_, h) => bf.putLong(h) }
            (b, bcCounts.value.getOrElse(b, 0L), serialize(bf))
        }
      }
      .toDF("bucket", "n_grams", "bloom")
  }

  /** Finish (or discard) a bloom publish a previous append died
    * inside: a COMPLETE staging dir (Spark's _SUCCESS marker) is
    * republished — rename is the commit point, same two-guarantee
    * `FileSystem` contract as the MERGE protocol; an incomplete one
    * is dropped. Idempotent, called before every read and append.
    */
  private def recoverBloomPublish(fs: org.apache.hadoop.fs.FileSystem,
      bloomP: org.apache.hadoop.fs.Path,
      staging: org.apache.hadoop.fs.Path): Unit = {
    if (fs.exists(staging)) {
      if (fs.exists(new org.apache.hadoop.fs.Path(staging, "_SUCCESS"))) {
        if (fs.exists(bloomP)) fs.delete(bloomP, true)
        require(fs.rename(staging, bloomP),
          s"bloom publish rename $staging -> $bloomP failed")
      } else {
        fs.delete(staging, true)
      }
    }
  }

  /** APPEND path of the sketch tier (the steady-state maintenance the
    * guard family exists for): the batch's distinct gram hashes are
    * folded into the DESERIALIZED per-bucket filters — an OR-merge,
    * valid at the seed's fixed size and hash count, so corpus growth
    * costs one batch-sized fold instead of a full rebuild. Buckets
    * the batch doesn't touch keep their stored rows verbatim. The new
    * bucket table is staged beside the live one and swapped in by
    * atomic rename (recovery: [[recoverBloomPublish]]), and the
    * per-dir loaded-broadcast cache is invalidated so the next probe
    * sees the merged sketch.
    */
  def appendGramBloomIndex(spark: org.apache.spark.sql.SparkSession,
      indexDir: String, batch: DataFrame, idCol: String, textCol: String): Unit =
    // Per-dir serialization against loadBloomIndex: an unsynchronized
    // probe racing the publish could (a) land between the live-dir
    // delete and the staging rename and fail on a missing dir, or
    // (b) read the PRE-merge blooms and insert its broadcast into the
    // cache AFTER this append's invalidation — a stale sketch that
    // silently misses every appended gram (a false-negative window,
    // the one failure the tier promises away). Holding the dir lock
    // across the whole append and the whole load closes both. The
    // cross-process lease (round 15) extends the same exclusion to
    // maintainers in other JVMs.
    CellCommit.withMaintenanceLease(spark, indexDir) {
    bloomDirLock(indexDir).synchronized {
    val p = spark.read.parquet(s"$indexDir/params")
      .select("gram_n", "num_buckets", "fpp_ppm").head()
    val (n, numBuckets, fppPpm) = (p.getInt(0), p.getInt(1), p.getLong(2))
    val bloomP = new org.apache.hadoop.fs.Path(s"$indexDir/bloom")
    val staging = new org.apache.hadoop.fs.Path(s"$indexDir/bloom__staging")
    val fs = bloomP.getFileSystem(spark.sparkContext.hadoopConfiguration)
    recoverBloomPublish(fs, bloomP, staging)
    val g = bucketedGramHashes(batch, idCol, textCol, n, numBuckets)
    if (!fs.exists(bloomP)) {
      // params-only index (crash between a fresh build's two writes):
      // this batch IS the fresh corpus fold
      bloomRows(g, fppPpm, Map.empty)
        .write.mode("errorifexists").parquet(bloomP.toString)
    } else {
      val seedRows = spark.read.parquet(bloomP.toString).collect()
      val seed = seedRows.map(r =>
        r.getInt(0) -> (r.getLong(1), r.getAs[Array[Byte]](2))).toMap
      val merged = bloomRows(g, fppPpm, seed)
      import spark.implicits._
      val touched = g.select("bucket").distinct().as[Int].collect().toSet
      val untouched = spark.createDataFrame(
        spark.sparkContext.parallelize(
          seedRows.filter(r => !touched.contains(r.getInt(0))).toSeq, 1),
        merged.schema)
      merged.unionByName(untouched)
        .coalesce(1).write.mode("errorifexists").parquet(staging.toString)
      // invalidate BEFORE the swap too: a probe that loaded the old
      // sketch after this append started must not survive the publish
      bloomBroadcastCache.remove(indexDir)
      if (fs.exists(bloomP)) fs.delete(bloomP, true)
      require(fs.rename(staging, bloomP),
        s"bloom publish rename $staging -> $bloomP failed")
    }
    // drop the cached broadcast for this dir — the next probe reloads
    // the merged sketch; the orphaned broadcast is ContextCleaner-GC'd
    // (not destroyed here: an in-flight probe plan may still hold it)
    bloomBroadcastCache.remove(indexDir)
  }
  }

  /** Probe side of [[writeGramBloomIndex]]: the D34 span report for a
    * new batch against the SKETCHED corpus gram set. The blooms ride
    * an executor broadcast (deserialized once per JVM, not per row);
    * the probe plan is a pure projection + filter over the batch's
    * grams — zero exchanges touch anything corpus-sized. The filter
    * itself is a deliberate (justified) udf: bloom membership needs
    * the sketch's own scatter hashing, which no Catalyst expression
    * exposes for a per-bucket structure.
    */
  def incrementalDuplicatedSpansSketch(spark: org.apache.spark.sql.SparkSession,
      indexDir: String, batch: DataFrame, idCol: String, textCol: String): DataFrame = {
    val (n, mightContain) = loadBloomIndex(spark, indexDir)
    val (base, grams) = tokenGrams(batch, idCol, textCol, n)
    val hits = grams
      .withColumn("__h", conv(substring(col("gh"), 1, 15), 16, 10).cast("long"))
      .filter(mightContain(col("__h")))
      .select("doc_id", "start", "gh")
    spanReport(base, hits, n)
  }

  /** Loaded sketch cache, one entry per index dir: (gram n, bucket
    * count, broadcast of the deserialized per-bucket filters). The
    * documented steady-state use is one probe per micro-batch against
    * the same dir — without the cache each batch re-collects and
    * re-broadcasts the whole sketch and leaves the old broadcast to
    * the ContextCleaner's mercy. Appends invalidate their dir's entry.
    */
  private val bloomBroadcastCache = new java.util.concurrent.ConcurrentHashMap[
    String, (Int, Int, org.apache.spark.broadcast.Broadcast[
      Map[Int, org.apache.spark.util.sketch.BloomFilter]])]()

  /** Per-index-dir monitor serializing sketch loads against append
    * publishes. Never taken INSIDE a cache operation (the load takes
    * it around its whole computeIfAbsent; the append takes it around
    * its whole body), so cache bin locks and this lock never nest in
    * opposite orders.
    */
  private val bloomDirLocks = new java.util.concurrent.ConcurrentHashMap[String, Object]()
  private def bloomDirLock(indexDir: String): Object =
    bloomDirLocks.computeIfAbsent(indexDir, _ => new Object)

  /** Drop (and destroy) a cached sketch broadcast — for streaming
    * callers shutting a guard down. Only call once the dir's probe
    * plans are drained; mid-query destroy fails the query.
    */
  def unloadBloomIndex(indexDir: String): Unit = bloomDirLock(indexDir).synchronized {
    Option(bloomBroadcastCache.remove(indexDir)).foreach(_._3.destroy())
  }

  /** (gram n, per-row bloom membership udf) for a persisted sketch
    * index — the blooms ride one broadcast, deserialized once per JVM
    * and CACHED per index dir across calls.
    */
  private def loadBloomIndex(spark: org.apache.spark.sql.SparkSession,
      indexDir: String): (Int, org.apache.spark.sql.expressions.UserDefinedFunction) = {
    val (n, numBuckets, bc) = bloomDirLock(indexDir).synchronized {
      bloomBroadcastCache.computeIfAbsent(indexDir, _ => {
      val bloomP = new org.apache.hadoop.fs.Path(s"$indexDir/bloom")
      val fs = bloomP.getFileSystem(spark.sparkContext.hadoopConfiguration)
      recoverBloomPublish(fs, bloomP,
        new org.apache.hadoop.fs.Path(s"$indexDir/bloom__staging"))
      val p = spark.read.parquet(s"$indexDir/params")
        .select("gram_n", "num_buckets").head()
      val blooms = spark.read.parquet(s"$indexDir/bloom")
        .select("bucket", "bloom").collect()
        .map(r => r.getInt(0) -> org.apache.spark.util.sketch.BloomFilter.readFrom(
          new java.io.ByteArrayInputStream(r.getAs[Array[Byte]](1)))).toMap
      (p.getInt(0), p.getInt(1), spark.sparkContext.broadcast(blooms))
      })
    }
    val mightContain = udf((h: Long) =>
      bc.value.get(java.lang.Math.floorMod(h, numBuckets.toLong).toInt)
        .exists(_.mightContainLong(h)))
    (n, mightContain)
  }

  /** The sketch tier's RECALL CONTRACT, in-engine and per position:
    * the exact-tier span report for `batch` plus, per doc, the count
    * of exact dup-gram STARTS the sketch failed to flag — zero by the
    * Bloom no-false-negative guarantee, so a non-zero anywhere means
    * the sketch was built over different grams (wrong n, wrong hash
    * truncation, a dropped bucket) and the gate hash breaks. The
    * exact columns double as the usual D113 oracle surface.
    */
  def sketchGuardRecallAudit(spark: org.apache.spark.sql.SparkSession,
      exactDir: String, sketchDir: String, batch: DataFrame,
      idCol: String, textCol: String): DataFrame = {
    val n = spark.read.parquet(s"$exactDir/params").head().getInt(0)
    val (nSketch, mightContain) = loadBloomIndex(spark, sketchDir)
    require(n == nSketch,
      s"exact index n=$n vs sketch n=$nSketch — tiers built over different grams")
    val (base, grams) = tokenGrams(batch, idCol, textCol, n)
    val idx = liveIndexRows(spark, exactDir, "grams").select("gh")
    val exactStarts = grams.join(idx, Seq("gh"), "left_semi")
      .localCheckpoint() // consumed by the report AND the miss anti-join
    val sketchStarts = grams
      .withColumn("__h", conv(substring(col("gh"), 1, 15), 16, 10).cast("long"))
      .filter(mightContain(col("__h")))
      .select("doc_id", "start")
    val missed = exactStarts.select("doc_id", "start")
      .join(sketchStarts, Seq("doc_id", "start"), "left_anti")
      .groupBy("doc_id").agg(count(lit(1)).as("__missed"))
    spanReport(base, exactStarts, n)
      .join(missed, Seq("doc_id"), "left")
      .withColumn("missed_by_sketch", coalesce(col("__missed"), lit(0L)))
      .drop("__missed")
  }

  /** D114 — content-defined chunking (the rsync/LBFS boundary trick
    * at token level): a chunk boundary falls AFTER token i whenever
    * the hash of the w-token window ending at i clears the modulus
    * test — so boundaries move WITH the content, and inserting one
    * token near a document's head shifts every fixed-width chunk but
    * leaves all CDC chunks after the next boundary identical. That
    * shift robustness is what makes chunk-level dedup work on
    * near-identical documents where whole-doc hashing sees two
    * distinct texts. Expected chunk length ≈ `modulus` tokens.
    *
    * Engine-exact: the boundary test is integer (first 6 md5 hex
    * digits as a number, mod `modulus`), chunk identity is the md5 of
    * the chunk's token span — no floats, no rolling state (the window
    * hash is recomputed per position in-projection, the winnowing
    * discipline). Everything through chunk emission is a PURE
    * PROJECTION over the token array — zero shuffle until the
    * cross-doc census groups chunk hashes.
    */
  def cdcChunks(docs: DataFrame, idCol: String, textCol: String,
      w: Int, modulus: Int): DataFrame = {
    require(w > 0 && modulus > 0, s"invalid CDC params w=$w modulus=$modulus")
    val toks = split(coalesce(col(textCol), lit("")), " ")
    val base = docs.select(col(idCol).as("doc_id"), toks.as("t"),
      size(toks).cast("long").as("n"))
    // boundary AFTER 0-based position i, i in [w-1, n-2] (never after
    // the last token); windows are 1-based slices [i-w+2, i+1]
    val bpos = when(col("n") >= w + 1,
      filter(sequence(lit(w - 1L), col("n") - 2),
        i => conv(substring(md5(concat_ws(" ",
          slice(col("t"), (i + lit(2 - w)).cast("int"), lit(w))).cast("binary")),
          1, 6), 16, 10).cast("long") % modulus === 0))
      .otherwise(array().cast("array<long>"))
    val withCuts = base.withColumn("cuts",
      concat(array(lit(-1L)), bpos, array(col("n") - 1)))
    withCuts.select(col("doc_id"), col("n").as("n_tok"),
        explode(transform(sequence(lit(1), size(col("cuts")) - 1), k => struct(
          (k - 1).cast("long").as("chunk_idx"),
          (element_at(col("cuts"), (k + 1).cast("int")) -
            element_at(col("cuts"), k.cast("int"))).as("chunk_len"),
          md5(concat_ws(" ", slice(col("t"),
            (element_at(col("cuts"), k.cast("int")) + 2).cast("int"),
            (element_at(col("cuts"), (k + 1).cast("int")) -
              element_at(col("cuts"), k.cast("int"))).cast("int")))
            .cast("binary")).as("ch"))).as("c")))
      .select(col("doc_id"), col("n_tok"), col("col.chunk_idx"),
        col("col.chunk_len"), col("col.ch"))
      .filter(col("chunk_len") > 0) // empty docs emit no chunks
  }

  /** Cross-doc duplicate-chunk census over CDC chunks: per doc, how
    * many of its chunks (and tokens) also appear verbatim in ANOTHER
    * doc — the shift-robust read of copy volume. One exchange on the
    * chunk hash; dup flags return on a semi-join.
    */
  def cdcDuplicateCensus(docs: DataFrame, idCol: String, textCol: String,
      w: Int, modulus: Int): DataFrame = {
    val chunks = cdcChunks(docs, idCol, textCol, w, modulus)
    val dup = chunks.groupBy("ch")
      .agg(countDistinct("doc_id").as("__nd"))
      .filter(col("__nd") >= 2).select("ch")
    val flagged = chunks.join(dup, Seq("ch"), "left_semi")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_dup_chunks"), sum("chunk_len").as("dup_tokens"))
    chunks.groupBy("doc_id")
      .agg(max("n_tok").as("n_tok"), count(lit(1)).as("n_chunks"))
      .join(flagged, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tok"), col("n_chunks"),
        coalesce(col("n_dup_chunks"), lit(0L)).as("n_dup_chunks"),
        coalesce(col("dup_tokens"), lit(0L)).as("dup_tokens"))
  }

  /** D94 — winnowing fingerprint selection (Schleimer, Wilkerson &
    * Aiken, SIGMOD'03 — the MOSS local-fingerprinting scheme): hash
    * every k-gram, slide a window of w consecutive hashes, and in
    * each window select the MINIMUM hash with ties broken to the
    * RIGHTMOST position; the union over windows (deduplicated) is the
    * document's fingerprint set. The guarantee that makes this the
    * standard overlap detector: every shared substring of length
    * ≥ w+k−1 contributes at least one COMMON selected fingerprint,
    * while expected density is only 2/(w+1) of the gram stream —
    * local, position-robust, and volume-bounded, unlike "every j-th
    * hash" schemes that break under single-token insertions.
    *
    * Selection is ONE window pass: per gram position p, the frame
    * [p, p+w−1] reduces to `min(struct(gh, −start))` (min hash, then
    * max start = rightmost tie), and position p's window is valid
    * only while the frame is full (p ≤ L−w). Distinct picked
    * (start, gh) pairs then aggregate per doc into count, first/last
    * position, and an order-pinned digest of the selected hashes.
    *
    * Shuffle discipline at 100 TB: grams reduce to fixed-width
    * (doc_id, start, md5) rows in-projection; the ONLY exchange keys
    * by doc_id for the window, whose sort is bounded by doc length
    * (never global); output volume is capped by the 2/(w+1) density.
    * Docs with fewer than w grams have no full window and select
    * nothing — the published guarantee only covers strings of length
    * ≥ w+k−1, and an independent replayer must agree on the rule.
    */
  /** The (base, selections) halves of the winnowing pass — shared by
    * the one-shot digest report and the persisted fingerprint index.
    */
  private def winnowParts(docs: DataFrame, idCol: String, textCol: String,
      k: Int, w: Int): (DataFrame, DataFrame) = {
    require(k > 0, s"invalid k-gram size $k")
    require(w > 0, s"invalid window size $w")
    val toks = split(coalesce(col(textCol), lit("")), " ")
    val base = docs.select(col(idCol).as("doc_id"), toks.as("__toks"),
      size(toks).as("n_tok"))
    val grams = base.filter(col("n_tok") >= k)
      .select(col("doc_id"), (col("n_tok") - k + 1).as("__ng"),
        posexplode(transform(sequence(lit(0), col("n_tok") - k),
          i => md5(concat_ws(" ",
            (1 to k).map(j => element_at(col("__toks"), i + lit(j))): _*)
            .cast("binary")))))
      .select(col("doc_id"), col("__ng"), col("pos").as("start"),
        col("col").as("gh"))
    val frame = Window.partitionBy("doc_id").orderBy("start")
      .rowsBetween(Window.currentRow, w - 1)
    val sel = grams
      .withColumn("__pick",
        min(struct(col("gh"), (-col("start")).as("neg"))).over(frame))
      .filter(col("start") <= col("__ng") - w) // full windows only
      .select(col("doc_id"), (-col("__pick.neg")).as("sel_start"),
        col("__pick.gh").as("gh"))
      .distinct()
    (base.select(col("doc_id"), col("n_tok")), sel)
  }

  def winnow(docs: DataFrame, idCol: String, textCol: String,
      k: Int, w: Int): DataFrame = {
    val (base, sel) = winnowParts(docs, idCol, textCol, k, w)
    val agg = sel.groupBy("doc_id")
      .agg(count(lit(1)).as("n_fp"),
        min("sel_start").as("first_fp"), max("sel_start").as("last_fp"),
        md5(concat_ws(",",
          transform(sort_array(collect_list(struct(col("sel_start"), col("gh")))),
            x => x("gh"))).cast("binary")).as("digest"))
    base
      .join(agg, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tok"),
        coalesce(col("n_fp"), lit(0L)).as("n_fp"),
        coalesce(col("first_fp"), lit(-1)).as("first_fp"),
        coalesce(col("last_fp"), lit(-1)).as("last_fp"),
        coalesce(col("digest"), lit("")).as("digest"))
  }

  /** D122 — persisted WINNOW-fingerprint index, the middle tier of
    * the span-guard family: the corpus keeps only its SELECTED
    * fingerprints (expected 2/(w+1) of the gram stream — ~5× fewer
    * rows than D113's every-gram index at w=4, positions preserved
    * unlike D115's Bloom bits), and the winnowing guarantee carries
    * over: any shared substring of length ≥ w+k−1 still yields a
    * common selected fingerprint, so the probe provably flags every
    * long duplicated span at a fraction of the index size. Params
    * (k, w) are law, exactly like the exact tier's gram size.
    */
  def writeWinnowIndex(corpus: DataFrame, idCol: String, textCol: String,
      k: Int, w: Int, dir: String): Unit =
      CellCommit.withMaintenanceLease(corpus.sparkSession, dir) {
    val spark = corpus.sparkSession
    val paramsPath = new org.apache.hadoop.fs.Path(s"$dir/params")
    val fs = paramsPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(paramsPath)) {
      // Stored (k, w) are LAW, exactly like the exact tier's gram
      // size: fingerprints selected under different params never
      // collide with probe selections, so a mixed index silently
      // voids the winnowing guarantee. Fail fast on mismatch; on
      // match route through the anti-join append.
      val p = spark.read.parquet(s"$dir/params")
        .select("gram_k", "window_w").head()
      require(p.getInt(0) == k && p.getInt(1) == w,
        s"winnow index at $dir was built with (k=${p.getInt(0)}, w=${p.getInt(1)}) " +
          s"but re-build requested (k=$k, w=$w); delete the index to change them")
      appendWinnowIndex(spark, dir, corpus, idCol, textCol)
    } else {
      // params FIRST: a crash between the two writes leaves a
      // params-only index the append path repairs (fps written fresh).
      spark.range(1)
        .select(lit(k).as("gram_k"), lit(w).as("window_w"))
        .coalesce(1).write.mode("errorifexists").parquet(s"$dir/params")
      val (_, sel) = winnowParts(corpus, idCol, textCol, k, w)
      // attributed (doc_id, gh) rows — see the gram-index rationale:
      // exact deletion needs to know whether a surviving doc still
      // selects the fingerprint
      sel.select("doc_id", "gh").distinct()
        .write.mode("errorifexists").parquet(s"$dir/fps")
    }
  }

  /** APPEND path of the winnow middle tier — the exact tier's
    * anti-join append verbatim, over winnowed selections instead of
    * every gram: the batch's selected fingerprints (computed under
    * the STORED (k, w)) land after a left-anti against the existing
    * set, so repeated appends stay duplicate-free and steady-state
    * corpus growth costs one batch-sized selection pass + one
    * fixed-width anti-join, never a corpus rebuild.
    */
  def appendWinnowIndex(spark: org.apache.spark.sql.SparkSession,
      indexDir: String, batch: DataFrame, idCol: String, textCol: String): Unit =
      CellCommit.withMaintenanceLease(spark, indexDir) {
    val p = spark.read.parquet(s"$indexDir/params")
      .select("gram_k", "window_w").head()
    val (_, sel) = winnowParts(batch, idCol, textCol, p.getInt(0), p.getInt(1))
    val rows = sel.select("doc_id", "gh").distinct().localCheckpoint()
    val fpsPath = new org.apache.hadoop.fs.Path(s"$indexDir/fps")
    val fs = fpsPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    recoverDocTablePublish(spark, indexDir, "fps")
    if (!fs.exists(fpsPath)) {
      // params-only index (crash between a fresh build's two writes):
      // this batch IS the fresh fingerprint set
      rows.write.mode("errorifexists").parquet(s"$indexDir/fps")
      return
    }
    refuseTombstoned(spark, indexDir, rows.select("doc_id").distinct(),
      "appendWinnowIndex")
    val storedForBatch = spark.read.parquet(s"$indexDir/fps")
      .join(rows.select("doc_id").distinct(), Seq("doc_id"), "left_semi")
      .localCheckpoint()
    // mutation refusal, both directions (selection sets vary in size)
    val changed = rows
      .join(storedForBatch.select("doc_id").distinct(), Seq("doc_id"), "left_semi")
      .join(storedForBatch, Seq("doc_id", "gh"), "left_anti")
      .select("doc_id")
      .union(storedForBatch.join(rows, Seq("doc_id", "gh"), "left_anti").select("doc_id"))
      .distinct().limit(5).collect().map(_.get(0)).toSeq
    require(changed.isEmpty,
      s"appendWinnowIndex: doc ids ${changed.mkString(", ")} already in $indexDir " +
        "with DIFFERENT fingerprint sets (their text changed); remove the ids " +
        "first, then re-append")
    // materialize BEFORE writing — the append lands in the directory
    // the semi-join read
    val novel = rows
      .join(storedForBatch.select("doc_id").distinct(), Seq("doc_id"), "left_anti")
      .localCheckpoint()
    novel.write.mode("append").parquet(s"$indexDir/fps")
  }

  /** Probe side of [[writeWinnowIndex]]: the batch's own winnow
    * selections semi-joined against the corpus fingerprint set —
    * per doc, how many of its fingerprints the corpus already has,
    * where the first hit sits, and the hit fraction in ppm. A doc
    * whose long span duplicates corpus content MUST hit (the
    * winnowing guarantee); scattered small hits are the boilerplate
    * signal. Probe cost: the batch's selection pass + one semi-join
    * on the fingerprint hash.
    */
  def probeWinnowIndex(spark: org.apache.spark.sql.SparkSession,
      indexDir: String, batch: DataFrame, idCol: String, textCol: String): DataFrame = {
    val p = spark.read.parquet(s"$indexDir/params")
      .select("gram_k", "window_w").head()
    val (base, sel) = winnowParts(batch, idCol, textCol, p.getInt(0), p.getInt(1))
    val idx = liveIndexRows(spark, indexDir, "fps").select("gh")
    val per = sel.groupBy("doc_id").agg(count(lit(1)).as("n_fp"))
    val hits = sel.join(idx, Seq("gh"), "left_semi")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_hit"), min("sel_start").as("first_hit"))
    base.join(per, Seq("doc_id"), "left")
      .join(hits, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tok"),
        coalesce(col("n_fp"), lit(0L)).as("n_fp"),
        coalesce(col("n_hit"), lit(0L)).as("n_hit"),
        coalesce(expr("n_hit * 1000000L div n_fp"), lit(0L)).as("hit_ppm"),
        coalesce(col("first_hit"), lit(-1)).as("first_hit"))
  }

  /** D39 — duplicated-span REMOVAL, the apply side of Lee et al. 2022
    * exact-substring dedup that [[duplicatedSpans]] only measures: for
    * every cross-document duplicated n-gram, exactly one occurrence is
    * kept (the canonical one — lowest doc_id, then lowest start) and
    * the tokens under every other occurrence are cut from their
    * documents, which are then reassembled. Shuffle discipline at
    * 100 TB: grams reduce to md5 in-projection, the duplicate set and
    * canonical-occurrence aggregates exchange only fixed-width
    * (hash, doc_id, start) rows, and cut token-index sets are bounded
    * by dup density (n indices per non-canonical occurrence). The one
    * corpus-sized exchange is the final doc_id join that carries the
    * cut-sets back onto the text — inherent to rewriting documents;
    * the reconstruction itself is a pure array filter + join
    * projection, no per-token explode of the corpus.
    */
  def removeDuplicatedSpans(docs: DataFrame, idCol: String, textCol: String,
      n: Int): DataFrame = {
    require(n > 0, s"invalid n-gram size $n")
    val toks = split(coalesce(col(textCol), lit("")), " ")
    val base = docs.select(col(idCol).as("doc_id"), toks.as("__toks"),
      size(toks).as("n_tok"))
    val grams = base.filter(col("n_tok") >= n)
      .select(col("doc_id"),
        posexplode(transform(sequence(lit(0), col("n_tok") - n),
          i => md5(concat_ws(" ",
            (1 to n).map(k => element_at(col("__toks"), i + lit(k))): _*)
            .cast("binary")))))
      .select(col("doc_id"), col("pos").as("start"), col("col").as("gh"))
    // ONE aggregate fuses the duplicate test with the canonical choice
    // (struct min orders by (doc_id, start) lexicographically — the
    // occurrence that survives), so the gram subtree is derived twice
    // total (agg + join probe), never once per downstream branch.
    val canon = grams.groupBy("gh")
      .agg(countDistinct("doc_id").as("__nd"),
        min(struct(col("doc_id"), col("start"))).as("__c"))
      .filter(col("__nd") >= 2)
      .select(col("gh"), col("__c.doc_id").as("__cdoc"),
        col("__c.start").as("__cstart"))
    val cut = grams.join(canon, "gh")
      .filter(!(col("doc_id") === col("__cdoc") &&
        col("start") === col("__cstart")))
      .select(col("doc_id"),
        explode(sequence(col("start"), col("start") + (n - 1))).as("tok_idx"))
      .groupBy("doc_id").agg(collect_set("tok_idx").as("__cut"))
    base.join(cut, Seq("doc_id"), "left")
      .withColumn("__cutArr", coalesce(col("__cut"), array().cast("array<int>")))
      .withColumn("__kept",
        filter(col("__toks"), (t, i) => !array_contains(col("__cutArr"), i)))
      .select(col("doc_id"), col("n_tok"),
        (col("n_tok") - size(col("__kept"))).cast("long").as("removed_tok"),
        array_join(col("__kept"), " ").as("text_kept"))
  }
}
