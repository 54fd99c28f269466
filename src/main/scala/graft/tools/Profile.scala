package graft.tools

import graft.Tables
import graft.functions.TextFunctions._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Ad-hoc stage profiler: times labelled plan fragments through the
  * noop sink (same forcing discipline as Bench). Not part of the
  * driver contract — a development tool.
  */
object Profile {
  def time(label: String)(df: => DataFrame): Unit = {
    val t0 = System.nanoTime()
    df.write.format("noop").mode("overwrite").save()
    println(f"[profile] $label%-40s ${(System.nanoTime() - t0) / 1e9}%8.3f s")
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.SparkFactory.session()
    // warmup
    spark.read.parquet(s"$sfDir/lineitem.parquet").groupBy("l_returnflag").count()
      .write.format("noop").mode("overwrite").save()

    if (sys.env.contains("PROFILE_EDITDIST")) {
      import graft.operators.Dedup
      val docs = Tables(spark, sfDir, "documents")
      val t0 = System.nanoTime()
      val cand = Dedup.blockedCandidatePairs(docs, "doc_id", "text", 3, 1000)
      println(f"[profile] blocking: ${cand.count()} pairs in ${(System.nanoTime() - t0) / 1e9}%.2f s")
      val t = docs.select(col("doc_id"), col("text"))
      val joined = cand
        .join(t.select(col("doc_id").as("d1"), col("text").as("t1")), "d1")
        .join(t.select(col("doc_id").as("d2"), col("text").as("t2")), "d2")
        .withColumn("max_len", greatest(length(col("t1")), length(col("t2"))).cast("long"))
        .withColumn("__k", (col("max_len") * 20L / lit(100L)).cast("int"))
        .filter(abs(length(col("t1")) - length(col("t2"))) <= col("__k"))
      println(s"[profile] after length filter: ${joined.count()} pairs")
      // (a char-histogram Ukkonen count filter was profiled here in
      // r13: 0.6% prune on this corpus — template docs share char
      // distributions — and was dropped; the prefix blocking below is
      // what shipped)
      time("editdist full (prefix blocking)")(
        Dedup.editDistancePairs(docs, "doc_id", "text", 3, 20))
      time("containment (lossless prefix)")(
        Dedup.containmentPairs(docs, "doc_id", "text", 3, 60))
      // jaccard distribution of the TRUE editdist pairs: how low does
      // a passing pair's shingle jaccard go? (calibrates a prefix
      // blocking threshold)
      val truePairs = Dedup.editDistancePairs(docs, "doc_id", "text", 3, 20)
        .select("d1", "d2").localCheckpoint()
      println(s"[profile] true pairs: ${truePairs.count()}")
      val sh = docs.select(col("doc_id"), col("text"))
        .select(col("doc_id"), graft.functions.TextFunctions.tokens(col("text")).as("ws"))
        .select(col("doc_id"), explode(expr(
          "transform(sequence(0, greatest(size(ws)-3, 0) - 1), i -> concat_ws(' ', ws[i], ws[i+1], ws[i+2]))")).as("shingle"))
        .distinct()
      val sizes = sh.groupBy("doc_id").agg(count(lit(1)).as("n_sh"))
      val inter = truePairs
        .join(sh.select(col("doc_id").as("d1"), col("shingle")), "d1")
        .join(sh.select(col("doc_id").as("d2"), col("shingle")), Seq("d2", "shingle"))
        .groupBy("d1", "d2").agg(count(lit(1)).as("n_inter"))
      val jstats = truePairs
        .join(inter, Seq("d1", "d2"), "left")
        .join(sizes.select(col("doc_id").as("d1"), col("n_sh").as("s1")), "d1")
        .join(sizes.select(col("doc_id").as("d2"), col("n_sh").as("s2")), "d2")
        .withColumn("j", coalesce(col("n_inter"), lit(0L)).cast("double") /
          (col("s1") + col("s2") - coalesce(col("n_inter"), lit(0L))).cast("double"))
        .agg(min("j").as("min_j"),
          expr("percentile(j, 0.01)").as("p01"),
          expr("percentile(j, 0.05)").as("p05"),
          expr("percentile(j, 0.5)").as("p50"))
        .head()
      println(s"[profile] true-pair jaccard: min=${jstats.get(0)} p01=${jstats.get(1)} p05=${jstats.get(2)} p50=${jstats.get(3)}")
      spark.stop(); return
    }
    if (sys.env.contains("PROFILE_FANOUT")) {
      import org.apache.spark.sql.types.DecimalType
      val D = DecimalType(12, 2)
      val li = spark.read.parquet(s"$sfDir/lineitem.parquet")
      def q1(df: DataFrame) = df
        .filter(col("l_shipdate") <= lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(sum(col("l_quantity").cast(D)).cast("double").as("sum_qty"),
          sum(col("l_extendedprice").cast(D)).cast("double").as("sum_base"),
          sum((col("l_extendedprice").cast(D) * (lit(1).cast(D) - col("l_discount").cast(D)))).cast("double").as("sum_disc"),
          sum((col("l_extendedprice").cast(D) * (lit(1).cast(D) - col("l_discount").cast(D)) * (lit(1).cast(D) + col("l_tax").cast(D)))).cast("double").as("sum_charge"),
          avg(col("l_discount").cast(D)).as("avg_disc"),
          count(lit(1)).as("n"))
      def q1cents(df: DataFrame) = {
        def cents(c: String) = round(col(c) * 100).cast("long")
        df.filter(col("l_shipdate") <= lit("1998-09-02"))
          .groupBy("l_returnflag", "l_linestatus")
          .agg((sum(cents("l_quantity")) / 100.0).as("sum_qty"),
            (sum(cents("l_extendedprice")) / 100.0).as("sum_base"),
            (sum(cents("l_extendedprice") * (lit(100L) - cents("l_discount"))) / 10000.0).as("sum_disc"),
            (sum(cents("l_extendedprice") * (lit(100L) - cents("l_discount")) * (lit(100L) + cents("l_tax"))) / 1000000.0).as("sum_charge"),
            (sum(cents("l_discount")).cast("double") / count(lit(1)) / 100.0).as("avg_disc"),
            count(lit(1)).as("n"))
      }
      for (r <- 1 to 2) {
        time(s"q1-cents single-task (run $r)")(q1cents(li))
        time(s"q1-like single-task (run $r)")(q1(li))
        time(s"q1-like fanout32 (run $r)")(q1(li.repartition(32)))
        time(s"q6-like single-task (run $r)")(
          li.filter(col("l_shipdate").between("1994-01-01", "1994-12-31") &&
            col("l_discount").between(0.05, 0.07) && col("l_quantity") < 24)
            .agg(sum(col("l_extendedprice").cast(D) * col("l_discount").cast(D)).cast("double").as("rev")))
        time(s"q6-like fanout32 (run $r)")(
          li.repartition(32).filter(col("l_shipdate").between("1994-01-01", "1994-12-31") &&
            col("l_discount").between(0.05, 0.07) && col("l_quantity") < 24)
            .agg(sum(col("l_extendedprice").cast(D) * col("l_discount").cast(D)).cast("double").as("rev")))
        val ev = Tables(spark, sfDir, "events")
        time(s"window_running single-task (run $r)")(
          graft.operators.Sessionize.sessions(ev, "user_id", "ts", 1800L))
      }
      spark.stop(); return
    }
    if (sys.env.contains("PROFILE_GRAPH")) {
      val li = Tables(spark, sfDir, "lineitem").select(col("l_orderkey"), col("l_partkey"))
      def edges = {
        val pairs = li.as("l1").join(li.as("l2"),
            col("l1.l_orderkey") === col("l2.l_orderkey") &&
            col("l1.l_partkey") < col("l2.l_partkey"))
          .select(col("l1.l_partkey").as("src"), col("l2.l_partkey").as("dst"),
            col("l1.l_orderkey").as("ok"))
        pairs.groupBy("src", "dst")
          .agg(countDistinct("ok").as("n")).filter(col("n") >= 2)
          .select("src", "dst")
      }
      for (r <- 1 to 2) {
        time(s"partEdges build (run $r)")(edges)
        val e = edges.localCheckpoint()
        time(s"randomWalks on cached edges (run $r)")(
          graft.operators.Graph.randomWalks(e,
            e.select(col("src").as("v")).union(e.select(col("dst").as("v"))),
            steps = 5, seed = 11L))
      }
      spark.stop(); return
    }
    if (sys.env.contains("PROFILE_PREFIX")) {
      import org.apache.spark.sql.expressions.Window
      val docs0 = Tables(spark, sfDir, "documents")
      val (n, tNum, tDen) = (3, 3, 5)
      for (r <- 1 to 2) {
        val t0 = System.nanoTime()
        val ex = graft.operators.Dedup.shingleIndexPlan(docs0, "doc_id", "text", n).localCheckpoint()
        println(f"[profile] ex checkpoint (run $r)        ${(System.nanoTime() - t0) / 1e9}%8.3f s")
        val dfreq = ex.groupBy("shingle").agg(count(lit(1)).as("df"))
        val sizes = ex.groupBy("doc_id").agg(count(lit(1)).as("n_sh"))
        val ranked = ex.join(dfreq, "shingle").join(sizes, "doc_id")
          .withColumn("rn", row_number().over(
            Window.partitionBy("doc_id").orderBy(col("df"), col("shingle"))))
        val t1 = System.nanoTime()
        val pref = ranked.filter(col("rn") <=
          col("n_sh") - expr(s"(n_sh * $tNum + ${tDen - 1}) div $tDen") + 1)
          .select("doc_id", "shingle", "n_sh")
          .localCheckpoint()
        println(f"[profile] ranked+pref checkpoint (run $r) ${(System.nanoTime() - t1) / 1e9}%8.3f s")
        val t2 = System.nanoTime()
        val cand = pref.as("a").join(pref.as("b"),
            col("a.shingle") === col("b.shingle") && col("a.doc_id") < col("b.doc_id") &&
              least(col("a.n_sh"), col("b.n_sh")) * tDen >=
                greatest(col("a.n_sh"), col("b.n_sh")) * tNum)
          .select(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"))
          .distinct().localCheckpoint()
        println(f"[profile] cand self-join (run $r)        ${(System.nanoTime() - t2) / 1e9}%8.3f s  rows=${cand.count()}")
        val t3 = System.nanoTime()
        graft.operators.Dedup.verifyOnIndex(ex, sizes, cand, tNum, tDen)
          .write.format("noop").mode("overwrite").save()
        println(f"[profile] verify (run $r)                ${(System.nanoTime() - t3) / 1e9}%8.3f s")
        time(s"FULL prefixFilteredPairs (run $r)")(
          graft.operators.Dedup.prefixFilteredPairs(docs0, "doc_id", "text", n, tNum, tDen))
      }
      spark.stop(); return
    }
    val docs = Tables(spark, sfDir, "documents")
    if (sys.env.contains("PROFILE_COLD")) {
      time("COLD full minhashLsh")(
        graft.operators.Dedup.minhashLsh(docs, "doc_id", "text", 3, 12, 4, 0.6))
      time("warm full minhashLsh")(
        graft.operators.Dedup.minhashLsh(docs, "doc_id", "text", 3, 12, 4, 0.6))
      spark.stop(); return
    }
    val base = docs.select(col("doc_id"), col("text"))
    time("scan docs")(base)
    val ws = base.select(col("doc_id"), tokens(col("text")).as("ws"))
    time("tokens")(ws)
    val sh = ws.select(col("doc_id"), shinglesFromWords(col("ws"), 3).as("sh"))
    time("shingles")(sh)
    val inv = sh.select(col("doc_id"), explode_outer(col("sh")).as("shingle"))
      .filter(col("shingle").isNotNull)
    time("explode")(inv)
    val withHalves = inv.select(col("doc_id"),
      conv(substring(md5(col("shingle").cast("binary")), 1, 12), 16, 10)
        .cast("long").as("h1"),
      conv(substring(md5(col("shingle").cast("binary")), 17, 12), 16, 10)
        .cast("long").as("h2"))
    val minAggs = (0 until 12).map(i =>
      min((col("h1") + lit(i.toLong) * col("h2")) % lit(1L << 48)).as(s"h$i")) :+
      count(lit(1)).as("n_sh")
    val sig = withHalves.groupBy("doc_id").agg(minAggs.head, minAggs.tail: _*)
    time("signature agg (KM 1-md5)")(sig)
    val bands = sig.select(col("doc_id"), col("n_sh"),
      posexplode(array((0 until 4).map { b =>
        md5(concat_ws(",", (b * 3 until (b + 1) * 3)
          .map(i => col(s"h$i").cast("string")): _*).cast("binary"))
      }: _*)).as(Seq("band", "band_sig")))
    val cand = bands.as("a").join(bands.as("b"),
        col("a.band") === col("b.band") && col("a.band_sig") === col("b.band_sig") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("d1"), col("a.n_sh").as("n1"),
        col("b.doc_id").as("d2"), col("b.n_sh").as("n2"))
      .distinct()
    time("bands + self-join + distinct")(cand)
    time("full minhashLsh")(
      graft.operators.Dedup.minhashLsh(docs, "doc_id", "text", 3, 12, 4, 0.6))
    time("full minhashLsh (2nd)")(
      graft.operators.Dedup.minhashLsh(docs, "doc_id", "text", 3, 12, 4, 0.6))

    val emb = Tables(spark, sfDir, "embeddings")
    time("knn_bruteforce")(
      graft.operators.Similarity.knnBruteForce(emb, emb.filter(col("vec_id") < 5), "vec_id", "embedding", 3))
    time("knn_ivf")(
      graft.operators.Similarity.knnIvf(emb, emb.filter(col("vec_id") < 5), "vec_id", "embedding", 3, 16, 4))
    time("neardup_embedding")(
      graft.operators.Dedup.embeddingNearDup(emb, "vec_id", "embedding", 4, 0.3))
    time("simhash")(
      graft.operators.Dedup.simhashFingerprints(docs, "doc_id", "text"))
    spark.stop()
  }
}
