package graft.heap

import graft.Json
import org.apache.spark.sql.SparkSession

/** MCP (Model Context Protocol) stdio transport over the heap
  * library — the wire-protocol counterpart of the reference's
  * `mcp_server/server.py`, which serves the same tool set via the
  * Python MCP SDK. Speaks JSON-RPC 2.0, one message per line on
  * stdin/stdout (the MCP stdio framing), so a stock MCP client can
  * list and call the tools directly:
  *
  *   initialize / ping
  *   notifications (initialized, cancelled): acknowledged by silence;
  *     a cancel stops nothing yet — requests run to completion
  *   tools/list, tools/call:
  *     convert_heap_dump   (server.py:239)
  *     open_session        (server.py:317)
  *     list_sessions       (server.py:351)
  *     close_session       (server.py:363)
  *     cleanup_session     (server.py:383)
  *     list_parquet_files  (server.py:416)
  *     query_heap          (server.py:479, LIMIT n+1 OFFSET paging)
  *     analyze_heap        (server.py:538)
  *   resources/list, resources/read: heapdump://guides/{setup,
  *     sql-examples,waste-checks} (server.py:70-236)
  *
  * Like the reference, each tool returns ONE text content block whose
  * text is a JSON document; tool-execution failures come back as
  * `isError: true` results (protocol errors use JSON-RPC error
  * envelopes). Every behavior behind a tool is the library call the
  * specs and driver gates already prove — this file is framing only:
  * arguments are checked and results encoded by [[HeapRequest]], the
  * layer HeapServer uses too, so a wrongly typed argument or a
  * `limit`/`top_n` over [[HeapSessions.MaxRows]] is an `isError`
  * result naming the key.
  */
final class HeapMcp(spark: SparkSession) {
  import HeapMcp._
  import HeapRequest._

  private val sessions = new HeapSessions(spark)

  /** Handle one JSON-RPC message; None = notification (no response). */
  def handle(line: String): Option[String] = {
    val msg = try Json.parse(line) match {
      case m: Map[String, Any] @unchecked => m
      case _ => return Some(errorEnvelope("null", ParseError, "message must be a JSON object"))
    } catch {
      case e: IllegalArgumentException =>
        return Some(errorEnvelope("null", ParseError, e.getMessage))
    }
    val id = msg.get("id").map(renderId)
    val method = msg.get("method") match {
      case Some(m: String) => m
      case _ => return id.map(errorEnvelope(_, InvalidRequest, "missing method"))
    }
    val params = objMember(msg, "params")
    if (id.isEmpty) return None // notification: act silently, never respond
    val rid = id.get
    try {
      val result = method match {
        case "initialize" => initializeResult(params)
        case "ping" => "{}"
        case "tools/list" => Json.obj(Seq("tools" -> Json.arr(toolDefs.map(_.json))))
        case "tools/call" => toolCall(params)
        case "resources/list" => resourcesList
        case "resources/read" => resourcesRead(params)
        case other =>
          return Some(errorEnvelope(rid, MethodNotFound, s"method not found: $other"))
      }
      Some(s"""{"jsonrpc":"2.0","id":$rid,"result":$result}""")
    } catch {
      case e: IllegalArgumentException =>
        Some(errorEnvelope(rid, InvalidParams, Option(e.getMessage).getOrElse("invalid params")))
      case e: Exception =>
        Some(errorEnvelope(rid, InternalError, Option(e.getMessage).getOrElse(e.getClass.getName)))
    }
  }

  private def initializeResult(params: Map[String, Any]): String = {
    // MCP handshake: echo the requested version only if this server
    // actually supports it; otherwise answer with our own latest —
    // echoing an unknown future revision verbatim would claim support
    // the server cannot honor.
    val requested = params.get("protocolVersion") match {
      case Some(v: String) if SupportedVersions(v) => v
      case _ => ProtocolVersion
    }
    Json.obj(Seq(
      "protocolVersion" -> Json.str(requested),
      "capabilities" -> Json.obj(Seq(
        "tools" -> "{}",
        "resources" -> "{}")),
      "serverInfo" -> Json.obj(Seq(
        "name" -> Json.str("heapdumpstardiver-spark"),
        "version" -> Json.str("0.1.0")))))
  }

  // -- tools -----------------------------------------------------------

  private def toolCall(params: Map[String, Any]): String = {
    val name = params.get("name") match {
      case Some(n: String) if n.nonEmpty => n
      case _ => throw new IllegalArgumentException("tools/call requires 'name'")
    }
    try {
      val tool = toolDefs.find(_.name == name).getOrElse(throw new NoSuchElementException(
        s"unknown tool '$name' (available: ${toolDefs.map(_.name).mkString(", ")})"))
      toolResult(tool.run(objMember(params, "arguments")), isError = false)
    } catch { case e: Exception => toolResult(errorJson(e), isError = true) }
  }

  private def toolResult(text: String, isError: Boolean): String =
    Json.obj(Seq(
      "content" -> Json.arr(Seq(Json.obj(Seq(
        "type" -> Json.str("text"),
        "text" -> Json.str(text))))),
      "isError" -> isError.toString))

  /** Reference parity: an omitted session_id means "the only active
    * session" (server.py's manager.get(None)).
    */
  private def resolveSid(p: Map[String, Any]): String =
    optStr(p, "session_id").getOrElse(sessions.list match {
      case Seq(only) => only.id
      case Seq() => throw new IllegalArgumentException(
        "no sessions open — use convert_heap_dump or open_session first")
      case many => throw new IllegalArgumentException(
        s"session_id required: ${many.size} sessions open (${many.map(_.id).mkString(", ")})")
    })

  private val toolDefs: Seq[Tool] = Seq(
    Tool("convert_heap_dump",
      "Convert a JVM heap dump (HPROF) to Parquet tables and open an analysis session. " +
        "Output goes to <hprof_parent>/<session_id>/parquet unless output_dir is given.",
      Seq(
        ("hprof_path", "string", "Absolute path to the .hprof file"),
        ("session_id", "string", "Optional session name; defaults to the HPROF filename stem"),
        ("output_dir", "string", "Optional explicit output directory"),
        ("resolve_refs", "boolean", "Resolved mode: reference fields become STRUCT{id,type}")),
      Seq("hprof_path"),
      { p =>
        val hprof = reqStr(p, "hprof_path")
        val f = new java.io.File(hprof)
        if (!f.isFile) throw new IllegalArgumentException(s"File not found: $hprof")
        val sid = optStr(p, "session_id").getOrElse(
          f.getName.stripSuffix(".hprof"))
        val out = optStr(p, "output_dir").getOrElse(
          new java.io.File(f.getParentFile, s"$sid/parquet").getPath)
        new HeapDump(spark, hprof).writeParquet(out,
          resolveRefs = optBool(p, "resolve_refs", default = false))
        val sess = sessions.open(out, sid)
        Json.obj(Seq(
          "status" -> Json.str("ok"),
          "session_id" -> Json.str(sess.id),
          "parquet_dir" -> Json.str(out),
          "n_tables" -> sess.tables.length.toString))
      }),
    Tool("open_session",
      "Open an analysis session against an existing Parquet directory.",
      Seq(
        ("parquet_dir", "string", "Directory containing the exported heap tables"),
        ("session_id", "string", "Optional session name; defaults to the directory name")),
      Seq("parquet_dir"),
      p => Json.obj(Seq("status" -> Json.str("ok"))
        :+ ("session" -> sessionJson(
          sessions.open(reqStr(p, "parquet_dir"), optStr(p, "session_id").getOrElse(""))))),
    ),
    Tool("list_sessions", "List all heap dump sessions.", Nil, Nil,
      _ => sessionsJson(sessions.list)),
    Tool("close_session", "Close an analysis session (keeps the Parquet files).",
      Seq(("session_id", "string", "Session to close")), Seq("session_id"),
      { p => sessions.close(reqStr(p, "session_id")); """{"closed":true}""" }),
    Tool("cleanup_session",
      "Close a session AND delete its Parquet directory. Requires confirm=true.",
      Seq(
        ("session_id", "string", "Session to clean up"),
        ("confirm", "boolean", "Must be true to actually delete files")),
      Seq("session_id"),
      { p =>
        sessions.cleanup(reqStr(p, "session_id"), optBool(p, "confirm", default = false))
        """{"cleaned":true}"""
      }),
    Tool("list_parquet_files",
      "List the exported tables of a session with file counts and bytes.",
      Seq(("session_id", "string", "Session to inspect (optional if only one open)")), Nil,
      p => tablesJson(resolveSid(p), sessions)),
    Tool("query_heap",
      "Run Spark SQL against the heap tables. Tables are named after their " +
        "directory (e.g. `java.lang.String_123`, `_object_index`). Results are " +
        "paginated via limit/offset.",
      Seq(
        ("sql", "string", "Spark SQL query"),
        ("session_id", "string", "Session to query (optional if only one open)"),
        ("limit", "integer", "Max rows per page (default 1000)"),
        ("offset", "integer", "Rows to skip (default 0)")),
      Seq("sql"),
      { p =>
        val (limit, offset) = pageArgs(p, defaultLimit = 1000)
        val sid = resolveSid(p)
        pageJson(sid, sessions.queryPage(sid, reqStr(p, "sql"), limit, offset),
          echo = Seq("offset" -> offset.toString, "limit" -> limit.toString))
      }),
    Tool("analyze_heap",
      "Run the automated heap analysis: summary, top types, and the tiered " +
        "waste-detection suite. Set graph=true to add the referrer-graph " +
        "sections (retained size, reachability — beyond the reference " +
        "analyzer's surface).",
      Seq(
        ("session_id", "string", "Session to analyze (optional if only one open)"),
        ("waste", "boolean", "Run the waste checks (default true)"),
        ("waste_tier", "integer", "1=fast, 2=default, 3=thorough (default 2)"),
        ("top_n", "integer", "Top types to include (default 30)"),
        ("graph", "boolean", "Include graph analytics sections (default false — " +
          "the reference analyze_heap shape)")),
      Nil,
      p => sessions.analyze(resolveSid(p),
        topN = optRows(p, "top_n", 30),
        waste = optBool(p, "waste", default = true),
        maxTier = optInt(p, "waste_tier", 2),
        // default matches mcp_server/server.py's analyze_heap result
        // shape (summary + waste) — the graph sections are a graft
        // extension, opt-in here exactly as on the HTTP twin
        graph = optBool(p, "graph", default = false))))

  // -- resources -------------------------------------------------------

  private def resourcesList: String =
    Json.obj(Seq("resources" -> Json.arr(
      HeapGuide.guides.keys.toSeq.sorted.map { name =>
        Json.obj(Seq(
          "uri" -> Json.str(s"heapdump://guides/$name"),
          "name" -> Json.str(name),
          "mimeType" -> Json.str("text/markdown")))
      })))

  private def resourcesRead(params: Map[String, Any]): String = {
    val uri = reqStr(params, "uri")
    val name = uri.stripPrefix("heapdump://guides/")
    val body = HeapGuide.guides.getOrElse(name,
      throw new IllegalArgumentException(
        s"no resource '$uri' (available: ${HeapGuide.guides.keys.toSeq.sorted
          .map(g => s"heapdump://guides/$g").mkString(", ")})"))
    Json.obj(Seq("contents" -> Json.arr(Seq(Json.obj(Seq(
      "uri" -> Json.str(uri),
      "mimeType" -> Json.str("text/markdown"),
      "text" -> Json.str(body)))))))
  }
}

object HeapMcp {

  private final case class Tool(
      name: String, description: String,
      props: Seq[(String, String, String)], // (name, json type, description)
      required: Seq[String],
      run: Map[String, Any] => String) {
    def json: String = Json.obj(Seq(
      "name" -> Json.str(name),
      "description" -> Json.str(description),
      "inputSchema" -> Json.obj(Seq(
        "type" -> Json.str("object"),
        "properties" -> Json.obj(props.map { case (n, t, d) =>
          n -> Json.obj(Seq("type" -> Json.str(t), "description" -> Json.str(d)))
        }),
        "required" -> Json.arr(required.map(Json.str))))))
  }

  /** Latest protocol revision this server knows — the initialize
    * fallback when the client requests anything outside
    * [[SupportedVersions]].
    */
  val ProtocolVersion = "2025-03-26"

  /** Revisions whose stable surface (tools + resources over stdio)
    * this server implements; a requested version outside this set gets
    * ProtocolVersion back instead of a verbatim echo.
    */
  val SupportedVersions: Set[String] = Set("2024-11-05", "2025-03-26")

  val ParseError = -32700
  val InvalidRequest = -32600
  val MethodNotFound = -32601
  val InvalidParams = -32602
  val InternalError = -32603

  private def errorEnvelope(id: String, code: Int, message: String): String =
    s"""{"jsonrpc":"2.0","id":$id,"error":${Json.obj(Seq(
      "code" -> code.toString, "message" -> Json.str(message)))}}"""

  /** A nested object member (`params`, `arguments`); anything else = none. */
  private def objMember(m: Map[String, Any], key: String): Map[String, Any] = m.get(key) match {
    case Some(o: Map[String, Any] @unchecked) => o
    case _ => Map.empty
  }

  private def renderId(v: Any): String = v match {
    case s: String => Json.str(s)
    case null => "null"
    case other => other.toString // Long | Double per Json.parse
  }

  /** The stdio loop itself, factored out so a spec can drive it with a
    * verbatim client byte stream: one JSON-RPC message per input line,
    * one response frame per output line, notifications answered with
    * silence, blank lines skipped.
    */
  def serve(mcp: HeapMcp, in: java.io.BufferedReader, out: java.io.PrintStream): Unit =
    Iterator.continually(in.readLine()).takeWhile(_ != null)
      .filter(_.trim.nonEmpty)
      .foreach { line =>
        mcp.handle(line).foreach { resp => out.println(resp); out.flush() }
      }

  /** Stdio entry point: `sbt --error "runMain graft.heap.HeapMcp"`
    * (not -batch, which closes stdin). One JSON-RPC message per stdin
    * line, one response per stdout line — stdout carries ONLY protocol
    * frames (Spark logs go to stderr; --error keeps sbt's own lines off
    * stdout).
    */
  def main(args: Array[String]): Unit = {
    val spark = graft.SparkFactory.session()
    serve(new HeapMcp(spark),
      new java.io.BufferedReader(new java.io.InputStreamReader(System.in)), System.out)
    spark.stop()
  }
}
