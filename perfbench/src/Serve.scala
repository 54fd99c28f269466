package graftbench

import graft.Json
import graft.heap.{HeapAnalysis, HeapDump, HeapMcp, HeapServer, HeapSessions, HeapTables}
import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.sql.functions.col
import scala.jdk.CollectionConverters._

/** One query_heap page request. */
final case class PageReq(template: String, sql: String, limit: Int, offset: Long)

/** `serve`: an interactive session over a converted dump, served by an
  * in-process HeapServer (HTTP) and HeapMcp. Four closed-loop clients
  * run at once: an HTTP and an MCP explorer paging query_heap SQL from
  * a fixed cycle of templates, an analyst requesting the waste
  * analysis, and a loader converting small dumps beside the reads. All
  * clients use one session id, so the bare-name view owner never
  * switches. The traced run also times each layer alone, ingest
  * included.
  */
final class ServeWorkload(ctx: Ctx) extends Workload {
  import ServeWorkload._
  private val spark = ctx.spark
  private val dumpPath = ctx.dir("serve") + "/dump.hprof"
  private val pqDir = ctx.dir("serve") + "/pq"
  private var facts: DumpFacts = _
  private var loaders: IndexedSeq[DumpFacts] = _
  private lazy val server = new HeapServer(spark, 0).start()
  private lazy val mcp = new HeapMcp(spark)
  private lazy val direct = new HeapSessions(spark)
  private val http = HttpClient.newHttpClient()
  private val rpcId = new AtomicLong
  private val loads = new AtomicLong
  // every page served, by request and front end, checked after the run
  private val served = new ConcurrentHashMap[(String, PageReq), Set[Seq[Map[String, String]]]]()

  def inputProps: Seq[(String, String)] = facts.props ++ Seq("loader_dumps" -> loaders.size.toString)

  private def post(route: String, body: String): String = {
    val req = HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:${server.boundPort}$route"))
      .POST(HttpRequest.BodyPublishers.ofString(body)).build()
    val r = http.send(req, HttpResponse.BodyHandlers.ofString())
    if (r.statusCode != 200) throw new IllegalStateException(s"POST $route: ${r.statusCode} ${r.body.take(300)}")
    r.body
  }

  private def mcpCall(tool: String, args: Seq[(String, String)]): String = {
    val msg = Json.obj(Seq("jsonrpc" -> Json.str("2.0"), "id" -> rpcId.incrementAndGet().toString,
      "method" -> Json.str("tools/call"),
      "params" -> Json.obj(Seq("name" -> Json.str(tool), "arguments" -> Json.obj(args)))))
    val resp = Json.parse(mcp.handle(msg).getOrElse(throw new IllegalStateException("no MCP reply")))
      .asInstanceOf[Map[String, Any]]
    val result = resp.getOrElse("result",
      throw new IllegalStateException(s"MCP error: ${resp.get("error")}")).asInstanceOf[Map[String, Any]]
    val text = result("content").asInstanceOf[Seq[Map[String, Any]]].head("text").toString
    if (result.get("isError").contains(true)) throw new IllegalStateException(s"MCP tool error: $text")
    text
  }

  private def pageArgs(q: PageReq): Seq[(String, String)] = Seq(
    "session_id" -> Json.str(Sid), "sql" -> Json.str(q.sql),
    "limit" -> q.limit.toString, "offset" -> q.offset.toString)

  private def rowsOf(json: String): Seq[Map[String, String]] =
    Json.parse(json).asInstanceOf[Map[String, Any]]("rows").asInstanceOf[Seq[Map[String, Any]]]
      .map(_.map { case (k, v) => k -> norm(v) })

  private def norm(v: Any): String = v match {
    case null => "null"
    case n: java.lang.Number => BigDecimal(n.toString).bigDecimal.stripTrailingZeros.toPlainString
    case other => other.toString
  }

  private def directRows(q: PageReq): Seq[Map[String, String]] = {
    val p = direct.queryPage(Sid, q.sql, q.limit, q.offset)
    p.rows.toSeq.map(r => p.columns.zipWithIndex.map { case (c, i) => c -> norm(r.get(i)) }.toMap)
  }

  private def page(front: String, q: PageReq): Seq[Map[String, String]] = front match {
    case "http" => rowsOf(post("/query", Json.obj(pageArgs(q))))
    case "mcp" => rowsOf(mcpCall("query_heap", pageArgs(q)))
    case "direct" => directRows(q)
  }

  /** The i-th request of an explorer: templates in a fixed cycle, so
    * every run has the same mix, with seeded parameters.
    */
  private def request(rnd: scala.util.Random, i: Int): PageReq = Templates(i % Templates.size) match {
    case (name, sql, limit, pages) =>
      val s = sql.replace("{id}", (0x1000L + 8L * rnd.nextInt(facts.objects.toInt)).toString)
      PageReq(name, s, limit, limit.toLong * rnd.nextInt(pages))
  }

  /** The report's affected counts equal the planted waste up to `maxTier`. */
  private def analyzeProblems(report: String, maxTier: Int): Seq[String] = {
    val findings = Json.parse(report).asInstanceOf[Map[String, Any]]("waste_findings")
      .asInstanceOf[Seq[Map[String, Any]]]
      .map(f => f("check_name").toString -> norm(f("affected_count")).toLong).toMap
    val expected = facts.expectedWaste.collect { case (c, (tier, n)) if tier <= maxTier => c -> n }
    expected.toSeq.collect {
      case (c, want) if !findings.get(c).contains(want) => s"analyze: $c affected ${findings.get(c)} != $want"
    } ++ findings.keySet.diff(expected.keySet).map(c => s"analyze: unexpected finding $c")
  }

  private var openS = Double.NaN

  /** Opens the session in every front end; the HTTP open is timed. */
  private def openAll(): Unit = {
    direct.open(pqDir, Sid)
    mcpCall("open_session", Seq("parquet_dir" -> Json.str(pqDir), "session_id" -> Json.str(Sid)))
    openS = ctx.ops.call("open") {
      post("/sessions/open", Json.obj(Seq("parquet_dir" -> Json.str(pqDir), "session_id" -> Json.str(Sid))))
    }.map(_._2 / 1e3).getOrElse(Double.NaN)
  }

  def prepare(): Unit = {
    val f = HeapGen.generate(dumpPath, ctx.seed, Objects, Classes, 16)
    ctx.ops.check("serve input is byte-identical across set-ups", facts == null || facts.sha256 == f.sha256)
    facts = f
    loaders = (0 until LoaderDumps).map(k =>
      HeapGen.generate(ctx.dir("serve") + s"/load-$k.hprof", ctx.seed * 31 + k, LoaderObjects, 2, 4))
  }

  /** Converts the session's dump, opens it in every front end, pages
    * each template through both front ends and runs one analysis.
    */
  def warmup(): Unit = {
    Files.rm(pqDir)
    Log.time("convert")(new HeapDump(spark, dumpPath).writeParquet(pqDir))
    ExportCheck(pqDir, facts, "serve input").foreach(ctx.ops.fail)
    Log.time("open")(openAll())
    val rnd = new scala.util.Random(ctx.seed)
    Log.time("pages")(Templates.indices.foreach(i => Seq("http", "mcp").foreach(fr => page(fr, request(rnd, i)))))
    Log.time("analyze")(ctx.ops.verify(analyzeProblems(post("/analyze", AnalyzeBody), AnalystTier)))
  }

  /** One /convert of a small dump, checked and deleted. */
  private def load(): Unit = {
    val k = (loads.getAndIncrement() % loaders.size).toInt
    val out = ctx.dir(s"serve/loaded-${loads.get}")
    ctx.ops.call("convert") {
      ctx.tracer.span("HeapServer.convert") {
        post("/convert", Json.obj(Seq("hprof_path" -> Json.str(loaders(k).path),
          "output_dir" -> Json.str(out))))
      }
    }.foreach(_ => ctx.ops.verify(ExportCheck(out, loaders(k), "loader")))
    Files.rm(out)
  }

  private def explore(front: String, rnd: scala.util.Random, i: Int): Unit = {
    val q = request(rnd, i)
    ctx.tracer.request {
      ctx.ops.call(s"query.${q.template}") {
        ctx.tracer.span(if (front == "http") "HeapServer.query" else "HeapMcp.query")(page(front, q))
      }.foreach { case (rows, _) =>
        served.merge((front, q), Set(rows), (a, b) => a ++ b)
      }
    }
  }

  def measure(seconds: Double): Measured = {
    val t0 = System.nanoTime()
    val deadline = t0 + (seconds * 1e9).toLong
    // the window lasts until the analyst has had `seconds` and at least
    // two reports: a run with one report reads far from runs with two
    val analystDone = new java.util.concurrent.atomic.AtomicBoolean(false)
    def client(name: String)(body: Int => Unit): Thread = {
      val t = new Thread(() => {
        var i = 0
        while (!analystDone.get) { body(i); i += 1 }
      }, s"serve-$name")
      t.start(); t
    }
    val analyst = new Thread(() =>
      try {
        var n = 0
        while (n < 2 || System.nanoTime() < deadline) {
          ctx.tracer.request(ctx.ops.call("analyze") {
            ctx.tracer.span("HeapServer.analyze")(post("/analyze", AnalyzeBody))
          }.foreach(r => ctx.ops.verify(analyzeProblems(r._1, AnalystTier))))
          n += 1
        }
      } finally analystDone.set(true), "serve-analyst")
    analyst.start()
    val (rh, rm) = (new scala.util.Random(ctx.seed * 2), new scala.util.Random(ctx.seed * 2 + 1))
    (Seq(
      client("http")(explore("http", rh, _)),
      client("mcp")(explore("mcp", rm, _)),
      client("loader")(_ => ctx.tracer.request(load()))) :+ analyst).foreach(_.join())
    val windowS = (System.nanoTime() - t0) / 1e9
    verifyServed()
    val perTemplate = Templates.map(t => ctx.ops.ms(s"query.${t._1}"))
    val q = perTemplate.flatten
    val analyze = ctx.ops.ms("analyze")
    Measured(analyze.map(_ / 1e3), perTemplate.map(Stats.median), Seq(
      ("open_s", openS, "s"),
      ("query_p50_ms", Stats.median(q), "ms"),
      ("query_p95_ms", Stats.quantile(q, 0.95), "ms"),
      ("query_rps", q.size / windowS, "1/s"),
      ("analyze_s", Stats.median(analyze) / 1e3, "s"),
      ("convert_s", Stats.median(ctx.ops.ms("convert")) / 1e3, "s")),
      Seq("query_samples" -> q.size.toString,
        "query_p95_valid" -> (q.size >= 200).toString))
  }

  /** Every page a front end served equals the direct queryPage answer. */
  private def verifyServed(): Unit = {
    val answers = scala.collection.mutable.HashMap.empty[PageReq, Seq[Map[String, String]]]
    served.asScala.foreach { case ((front, q), seen) =>
      val want = answers.getOrElseUpdate(q, directRows(q))
      seen.filter(_ != want).foreach(_ => ctx.ops.fail(s"$front page differs from direct queryPage: $q"))
    }
    served.clear()
  }

  /** Ingest alone: a dump with a wide per-class table fan-out converted
    * in robo mode, and one of as many objects over few classes in
    * resolved mode (which joins once per class table and reference
    * column, so the wide dump would outlast a run).
    */
  private def ingestLayers(): Seq[(String, Double)] = {
    val wide = HeapGen.generate(ctx.dir("ingest") + "/wide.hprof", ctx.seed, IngestObjects, IngestClasses, 64)
    val narrow = HeapGen.generate(ctx.dir("ingest") + "/narrow.hprof", ctx.seed + 1, IngestObjects, 4, 64)
    val (hd, indexS, _) = ctx.alone("HeapDump.index")(new HeapDump(spark, wide.path))
    val out = ctx.dir("ingest/robo")
    val (_, exportS, e) = ctx.alone("HeapDump.writeParquet")(hd.writeParquet(out))
    ctx.ops.check("ingest robo export row counts", ExportCheck(out, wide, "robo").isEmpty)
    val (files, outBytes) = Files.parquetFiles(out)
    val outR = ctx.dir("ingest/resolved")
    val (_, resolvedS, r) = ctx.alone("HeapDump.writeParquet.resolved") {
      new HeapDump(spark, narrow.path).writeParquet(outR, resolveRefs = true)
    }
    ctx.ops.check("ingest resolved export row counts", ExportCheck(outR, narrow, "resolved").isEmpty)
    Files.rm(ctx.dir("ingest"))
    Seq(
      "HeapDump.index_s" -> indexS,
      "HeapDump.index_records" -> hd.records.size.toDouble,
      "HeapDump.export_s" -> exportS,
      "HeapDump.export_resolved_s" -> resolvedS,
      "HeapDump.export_jobs" -> e.jobs.toDouble,
      "HeapDump.export_stages" -> e.stages.toDouble,
      "HeapDump.export_tasks" -> e.tasks.toDouble,
      "HeapDump.export_task_s" -> e.taskS,
      "HeapDump.export_cpu_s" -> e.cpuS,
      "HeapDump.export_gc_s" -> e.gcS,
      "HeapDump.export_core_busy" -> e.coreBusy(exportS, ctx.cores),
      "HeapDump.export_shuffle_write_mb" -> e.shuffleWrite / 1e6,
      "HeapDump.export_spill_mb" -> e.spillBytes / 1e6,
      "HeapDump.export_files" -> files.toDouble,
      "HeapDump.export_out_mb" -> outBytes / 1e6,
      "HeapDump.export_resolved_jobs" -> r.jobs.toDouble,
      "HeapDump.export_resolved_shuffle_write_mb" -> r.shuffleWrite / 1e6,
      "ingest_mb_s" -> wide.mb / (indexS + exportS),
      "ingest_resolved_mb_s" -> narrow.mb / resolvedS,
      "export_bytes_ratio" -> outBytes.toDouble / wide.bytes)
  }

  def layers(): Seq[(String, Double)] = ingestLayers() ++ sessionLayers()

  private def sessionLayers(): Seq[(String, Double)] = {
    val (sess, openS, o) = ctx.alone("HeapSessions.open")(direct.open(pqDir, Sid))
    val reqs = Templates.map { case (name, sql, limit, _) =>
      PageReq(name, sql.replace("{id}", "4104"), limit, 0L)
    }
    // serial replays: each op alone, directly and through each front
    // end, interleaved so that warm-up favours no front end
    val fronts = Seq("direct", "http", "mcp")
    val replayMs: Seq[Map[String, Double]] = reqs.map { q =>
      (1 to Replays).flatMap(_ => fronts.map(f => f -> ctx.alone(s"replay.$f")(page(f, q))._2 * 1e3))
        .groupBy(_._1).map { case (f, xs) => f -> Stats.median(xs.map(_._2)) }
    }
    val plans = reqs.map(q => ctx.alone("HeapSessions.query")(
      direct.query(Sid, s"SELECT * FROM (${q.sql}) __graft_page LIMIT ${q.limit + 1} OFFSET 0"))._2 * 1e3)
    val pages = reqs.map(q => ctx.alone("HeapSessions.queryPage")(direct.queryPage(Sid, q.sql, q.limit, 0L)))
    def mean(xs: Seq[Double]) = xs.sum / xs.size
    val pageSnap = pages.map(_._3).reduce(_ + _)

    val tables = new HeapTables(spark, pqDir)
    val (report, reportS, rep) = ctx.alone("HeapAnalysis.analyzeJson")(direct.analyze(Sid, graph = false))
    ctx.ops.attempted.incrementAndGet()
    ctx.ops.verify(analyzeProblems(report, 2))
    val ha = new HeapAnalysis(tables)
    val (_, refEdgesS, _) = ctx.alone("HeapAnalysis.refEdges")(ha.refEdges)
    val checks = Seq[(String, () => Any)](
      "dup_strings" -> (() => ha.checkDuplicateStrings()),
      "bad_collections" -> (() => ha.checkBadCollections()),
      "bad_object_arrays" -> (() => ha.checkBadObjectArrays()),
      "bad_prim_arrays" -> (() => ha.checkBadPrimitiveArrays()),
      "boxed" -> (() => ha.checkBoxedNumbers()),
      "collection_sizing" -> (() => ha.checkCollectionSizing()),
      "dup_byte_arrays" -> (() => ha.checkDuplicateByteArrays()),
      "class_count" -> (() => ha.checkClassCount()),
      "gc_roots" -> (() => ha.checkGcRoots()),
      "direct_byte_buffers" -> (() => ha.checkDirectByteBuffers()),
      "thread_stacks" -> (() => ha.checkThreadStacks()))
    val n = 30
    def rows(df: Option[org.apache.spark.sql.DataFrame]): Any = df.map(_.collect())
    val sections = Seq[(String, () => Any)](
      "summary" -> (() => rows(ha.summary)),
      "top_types" -> (() => rows(ha.topTypes(n))),
      "categories" -> (() => rows(ha.categoryBreakdown)),
      "byte_array_distribution" -> (() => rows(ha.byteArrayDistribution)),
      "large_byte_arrays" -> (() => rows(ha.largeByteArrays())),
      "referrer_stats" -> (() => rows(ha.referrerStats.map(_.orderBy(col("n_refs").desc, col("type_name")).limit(n)))),
      "ownership" -> (() => rows(ha.ownershipCollapse().map(_.orderBy(col("total_owned").desc, col("type_name")).limit(n)))),
      "retained" -> (() => rows(ha.retainedSize().map(_.orderBy(col("retained_bytes").desc, col("type_name")).limit(n)))),
      "root_reachability" -> (() => rows(ha.rootReachability().map(_.orderBy(col("n_objects").desc, col("type_name")).limit(n)))),
      "path_exemplars" -> (() => rows(ha.rootPathExemplars().map(_.orderBy(col("type_name"), col("kind"), col("step")).limit(n * 8)))),
      "classloaders" -> (() => rows(ha.classloaderCensus.map(_.limit(n)))),
      "top_retained" -> (() => rows(ha.retainedTopObjects(limit = n))),
      "references" -> (() => rows(ha.referenceCensus.map(_.limit(n)))))
    def each(kind: String, calls: Seq[(String, () => Any)]): Seq[(String, Double)] = calls.flatMap {
      case (c, f) =>
        val (_, s, snap) = ctx.alone(s"HeapAnalysis.$kind.$c")(f())
        Seq(s"HeapAnalysis.$kind.${c}_s" -> s, s"HeapAnalysis.$kind.${c}_jobs" -> snap.jobs.toDouble)
    }
    Seq(
      "HeapSessions.open_s" -> openS,
      "HeapSessions.open_tables" -> sess.tables.size.toDouble,
      "HeapSessions.open_ms_per_table" -> openS * 1e3 / sess.tables.size,
      "HeapSessions.open_jobs" -> o.jobs.toDouble,
      "HeapSessions.plan_ms" -> Stats.median(plans),
      "HeapSessions.page_ms" -> Stats.median(pages.map(_._2 * 1e3)),
      "HeapSessions.page_jobs" -> pageSnap.jobs.toDouble / pages.size,
      "HeapSessions.page_tasks" -> pageSnap.tasks.toDouble / pages.size,
      "HeapSessions.page_input_mb" -> pageSnap.scanBytes / 1e6 / pages.size,
      "HeapServer.query_overhead_ms" -> mean(replayMs.map(r => r("http") - r("direct"))),
      "HeapMcp.query_overhead_ms" -> mean(replayMs.map(r => r("mcp") - r("direct"))),
      "HeapAnalysis.report_s" -> reportS,
      "HeapAnalysis.report_jobs" -> rep.jobs.toDouble,
      "HeapAnalysis.report_stages" -> rep.stages.toDouble,
      "HeapAnalysis.report_tasks" -> rep.tasks.toDouble,
      "HeapAnalysis.report_task_s" -> rep.taskS,
      "HeapAnalysis.report_core_busy" -> rep.coreBusy(reportS, ctx.cores),
      "HeapAnalysis.ref_edges_s" -> refEdgesS) ++
      each("check", checks) ++ each("section", sections)
  }

  override def close(): Unit = if (facts != null) server.stop()
}

object ServeWorkload {
  val Sid = "bench"
  /** The analyst's request: summary sections plus the tier-1 waste
    * checks. The tier-2 checks and graph sections add hundreds of small
    * Spark jobs, which would leave one or two reports per run; the
    * traced run times each of them alone instead.
    */
  val AnalystTier = 1
  val AnalyzeBody: String = graft.Json.obj(Seq("session_id" -> graft.Json.str(Sid),
    "graph" -> "false", "max_tier" -> AnalystTier.toString))
  val Objects = 12000
  val Classes = 2
  val LoaderDumps = 3
  val LoaderObjects = 3000
  val Replays = 3
  // ingest replay: about 2.7 MB of HPROF over 100 application classes
  val IngestObjects = 60000
  val IngestClasses = 100
  /** (name, SQL, page size, pages): the explorers' query_heap mix. */
  val Templates: IndexedSeq[(String, String, Int, Int)] = IndexedSeq(
    ("type_census", "SELECT type_name, count(*) AS n FROM _object_index GROUP BY type_name " +
      "ORDER BY n DESC, type_name", 20, 3),
    ("obj_lookup", "SELECT obj_id, type_name FROM _object_index WHERE obj_id = {id}", 10, 1),
    ("gc_root_join", "SELECT r.root_type, o.type_name, count(*) AS n FROM _gc_roots r " +
      "JOIN _object_index o ON r.obj_id = o.obj_id GROUP BY r.root_type, o.type_name " +
      "ORDER BY n DESC, r.root_type, o.type_name", 20, 1),
    ("string_decode", "SELECT s.obj_id, array_join(transform(b.`values`, x -> char(x)), '') AS text " +
      "FROM java_lang_String s JOIN _primitive_arrays_byte b ON s.value = b.obj_id ORDER BY s.obj_id", 20, 10),
    ("offset_paging", "SELECT obj_id, type_name FROM _object_index ORDER BY obj_id", 50, 20),
    ("subclass_lookup", "SELECT class_name FROM _class_hierarchy " +
      "WHERE super_class_name = 'com.bench.app.Base' ORDER BY class_name", 10, 3))
}
