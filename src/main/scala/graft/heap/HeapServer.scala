package graft.heap

import com.sun.net.httpserver.{HttpExchange, HttpServer}
import graft.Json
import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets.UTF_8
import org.apache.spark.sql.SparkSession

/** Long-running serving layer over the heap library — the transport
  * counterpart of the reference's MCP server (mcp_server/server.py):
  * an external client can convert dumps, open/list/close/cleanup
  * sessions, list tables, page through ad-hoc SQL, run the waste
  * analysis, and fetch the guides, all as JSON over HTTP. Built on
  * the JDK's `com.sun.net.httpserver` (public API since Java 6) so
  * the zero-dependency build constraint holds.
  *
  * Tool → route map (server.py names in parens):
  *   POST /convert            (dump_hprof_to_parquet)
  *   POST /sessions/open      (open_session)
  *   GET  /sessions           (list_sessions)
  *   POST /sessions/close     (close_session)
  *   POST /sessions/cleanup   (cleanup_session)
  *   GET  /tables?session_id= (list_parquet_files)
  *   POST /query              (query_heap, LIMIT n+1 OFFSET pagination)
  *   POST /analyze            (analyze_heap)
  *   POST /diff               (growth census between two sessions)
  *   GET  /guides, /guides/<name>  (guide resources)
  *
  * The server is a thin adapter: every behavior behind a route is the
  * library call the specs and driver gates already prove; nothing
  * here re-implements analysis or query semantics. Request bodies are
  * decoded, checked and answered through [[HeapRequest]], the layer
  * HeapMcp uses too: a body is one JSON object of scalar values (empty
  * = no parameters), and arguments are strict — a nested value, a
  * wrongly typed one (a quoted `"true"` or `"7"` included) or a
  * `limit`/`top_n` over [[HeapSessions.MaxRows]] is a 400 naming the
  * key, never a silent default. Unknown route, session or guide is a
  * 404; other failures are 500s.
  */
final class HeapServer(spark: SparkSession, port: Int) {
  import HeapRequest._
  import HeapServer._

  private val sessions = new HeapSessions(spark)
  private val server = HttpServer.create(new InetSocketAddress(port), 0)
  // daemon worker threads: an embedding process (the q_heap_http gate,
  // a test JVM) must be able to exit without an explicit stop(); the
  // standalone main blocks its own non-daemon thread regardless
  server.setExecutor(java.util.concurrent.Executors.newFixedThreadPool(8,
    (r: Runnable) => {
      val t = new Thread(r, "heap-http")
      t.setDaemon(true)
      t
    }))

  /** Bound port (differs from the requested one when port = 0). */
  def boundPort: Int = server.getAddress.getPort

  server.createContext("/", (ex: HttpExchange) => {
    val path = ex.getRequestURI.getPath
    val method = ex.getRequestMethod
    try {
      route(method, path, ex) match {
        case Text(t) => respond(ex, 200, t, "text/markdown; charset=utf-8")
        case JsonBody(j) => respond(ex, 200, j, "application/json")
      }
    } catch {
      case e: NoSuchElementException => respondErr(ex, 404, e)
      case e: IllegalArgumentException => respondErr(ex, 400, e)
      case e: UnsupportedOperationException => respondErr(ex, 405, e)
      case e: Exception => respondErr(ex, 500, e)
    } finally ex.close()
  })

  private def route(method: String, path: String, ex: HttpExchange): Reply = {
    lazy val p = decodeBody(new String(ex.getRequestBody.readAllBytes(), UTF_8))
    (method, path) match {
      case ("GET", "/health") => JsonBody(Json.obj(Seq("ok" -> "true")))

      case ("POST", "/convert") =>
        val hprof = reqStr(p, "hprof_path")
        val out = reqStr(p, "output_dir")
        val resolve = optBool(p, "resolve_refs", default = false)
        new HeapDump(spark, hprof).writeParquet(out, resolveRefs = resolve)
        JsonBody(Json.obj(Seq(
          "parquet_dir" -> Json.str(out),
          "resolve_refs" -> resolve.toString,
          "n_tables" -> new HeapTables(spark, out).entries.size.toString)))

      case ("POST", "/sessions/open") =>
        JsonBody(sessionJson(
          sessions.open(reqStr(p, "parquet_dir"), optStr(p, "session_id").getOrElse(""))))

      case ("GET", "/sessions") => JsonBody(sessionsJson(sessions.list))

      case ("POST", "/sessions/close") =>
        sessions.close(reqStr(p, "session_id"))
        JsonBody(Json.obj(Seq("closed" -> "true")))

      case ("POST", "/sessions/cleanup") =>
        sessions.cleanup(reqStr(p, "session_id"), optBool(p, "confirm", default = false))
        JsonBody(Json.obj(Seq("cleaned" -> "true")))

      case ("GET", "/tables") =>
        JsonBody(tablesJson(queryParam(ex, "session_id")
          .getOrElse(throw new IllegalArgumentException("session_id query parameter required")), sessions))

      case ("POST", "/query") =>
        val (limit, offset) = pageArgs(p, defaultLimit = 100)
        val sid = reqStr(p, "session_id")
        JsonBody(pageJson(sid, sessions.queryPage(sid, reqStr(p, "sql"), limit, offset)))

      case ("POST", "/analyze") =>
        JsonBody(sessions.analyze(reqStr(p, "session_id"),
          topN = optRows(p, "top_n", 30),
          waste = optBool(p, "waste", default = true),
          maxTier = optInt(p, "max_tier", 2),
          graph = optBool(p, "graph", default = true)))

      case ("POST", "/diff") =>
        val (before, after) = (reqStr(p, "session_before"), reqStr(p, "session_after"))
        val topN = optRows(p, "top_n", 100)
        // mode=retained switches the census from shallow deltas (B25)
        // to retained-size deltas (B29) — same request/response shape
        val df =
          if (optStr(p, "mode").contains("retained")) sessions.diffRetained(before, after)
          else sessions.diff(before, after)
        val rows = df.limit(topN).collect()
        JsonBody(Json.obj(Seq(
          "session_before" -> Json.str(before),
          "session_after" -> Json.str(after),
          "columns" -> Json.arr(df.columns.toSeq.map(Json.str)),
          "rows" -> Json.rowsJson(df.columns.toSeq, rows.toSeq),
          "row_count" -> rows.length.toString)))

      case ("GET", "/guides") =>
        JsonBody(Json.obj(Seq("guides" -> Json.arr(HeapGuide.guides.keys.toSeq.sorted.map(Json.str)))))

      case ("GET", g) if g.startsWith("/guides/") =>
        val name = g.stripPrefix("/guides/")
        Text(HeapGuide.guides.getOrElse(name,
          throw new NoSuchElementException(
            s"no guide '$name' (available: ${HeapGuide.guides.keys.toSeq.sorted.mkString(", ")})")))

      case ("GET" | "POST", _) =>
        throw new NoSuchElementException(s"no route $method $path")
      case (m, _) =>
        throw new UnsupportedOperationException(s"method $m not supported")
    }
  }

  def start(): HeapServer = { server.start(); this }
  def stop(): Unit = server.stop(0)
}

object HeapServer {

  private[heap] sealed trait Reply
  private[heap] final case class JsonBody(json: String) extends Reply
  private[heap] final case class Text(text: String) extends Reply

  private def respond(ex: HttpExchange, code: Int, body: String, ctype: String): Unit = {
    val bytes = body.getBytes(UTF_8)
    ex.getResponseHeaders.set("Content-Type", ctype)
    ex.sendResponseHeaders(code, bytes.length.toLong)
    ex.getResponseBody.write(bytes)
  }

  private def respondErr(ex: HttpExchange, code: Int, e: Exception): Unit =
    respond(ex, code, HeapRequest.errorJson(e), "application/json")

  private def queryParam(ex: HttpExchange, key: String): Option[String] =
    Option(ex.getRequestURI.getRawQuery).flatMap(_.split('&').collectFirst {
      case kv if kv.takeWhile(_ != '=') == key =>
        java.net.URLDecoder.decode(kv.dropWhile(_ != '=').drop(1), UTF_8)
    })

  /** Standalone entry point: `runMain graft.heap.HeapServer [port]`
    * (or spark-submit on a cluster with SPARK_MASTER set).
    */
  def main(args: Array[String]): Unit = {
    val port = args.headOption.map(_.toInt).getOrElse(8765)
    val srv = new HeapServer(graft.SparkFactory.session(), port).start()
    println(s"""{"serving":true,"port":${srv.boundPort}}""")
    // block: the HTTP executor threads are non-daemon, but keep the
    // main thread alive explicitly so Ctrl-C is the only way out
    val lock = new Object
    lock.synchronized(lock.wait())
  }
}
