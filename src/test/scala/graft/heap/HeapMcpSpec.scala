package graft.heap

import graft.{Json, SparkTestSession}
import HprofModel._
import org.scalatest.funsuite.AnyFunSuite

/** Drives the MCP stdio transport the way a stock MCP client would:
  * JSON-RPC 2.0 messages through HeapMcp.handle — the same function
  * the stdin loop calls per line — covering the handshake, tool
  * listing/calls (convert → session → paged SQL → analyze), guide
  * resources, and the protocol error contract.
  */
class HeapMcpSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private lazy val mcp = new HeapMcp(spark)

  private def rpc(line: String): Map[String, Any] =
    Json.parse(mcp.handle(line).get).asInstanceOf[Map[String, Any]]

  private def result(line: String): Map[String, Any] =
    rpc(line)("result").asInstanceOf[Map[String, Any]]

  /** tools/call → (content text, isError). */
  private def toolCall(name: String, args: String): (String, Boolean) = {
    val r = result(s"""{"jsonrpc":"2.0","id":7,"method":"tools/call",""" +
      s""""params":{"name":"$name","arguments":$args}}""")
    val content = r("content").asInstanceOf[Vector[Any]]
    assert(content.length === 1)
    val block = content.head.asInstanceOf[Map[String, Any]]
    assert(block("type") === "text")
    (block("text").asInstanceOf[String], r("isError").asInstanceOf[Boolean])
  }

  private lazy val hprofPath: String = {
    val w = new HprofWriter()
    val obj = w.defineClass("java.lang.Object")
    val str = w.defineClass("java.lang.String", obj,
      instanceFields = Seq("value" -> BasicType.Object, "hash" -> BasicType.Int))
    val bs = (0 until 10).map(i => w.byteArray(s"mcp-${i % 3}"))
    bs.zipWithIndex.foreach { case (b, i) =>
      w.instance(str, Seq(BasicType.Object -> b, BasicType.Int -> i))
    }
    val dir = java.nio.file.Files.createTempDirectory("heap_mcp")
    val p = dir.resolve("mcp.hprof").toString
    w.writeTo(p, segments = 2)
    p
  }

  test("initialize echoes the client protocol version and names the server") {
    val r = result("""{"jsonrpc":"2.0","id":1,"method":"initialize",""" +
      """"params":{"protocolVersion":"2024-11-05","capabilities":{},""" +
      """"clientInfo":{"name":"spec","version":"0"}}}""")
    assert(r("protocolVersion") === "2024-11-05")
    val info = r("serverInfo").asInstanceOf[Map[String, Any]]
    assert(info("name") === "heapdumpstardiver-spark")
    val caps = r("capabilities").asInstanceOf[Map[String, Any]]
    assert(caps.contains("tools") && caps.contains("resources"))
  }

  test("initialize answers an UNKNOWN protocol version with the server's latest") {
    val r = result("""{"jsonrpc":"2.0","id":1,"method":"initialize",""" +
      """"params":{"protocolVersion":"2099-01-01","capabilities":{},""" +
      """"clientInfo":{"name":"spec","version":"0"}}}""")
    // echoing "2099-01-01" back would claim support the server cannot
    // guarantee — the handshake contract is: requested-if-supported,
    // else the server's own latest
    assert(r("protocolVersion") === HeapMcp.ProtocolVersion)
  }

  test("out-of-range and fractional paging numbers error instead of truncating") {
    // offset 2^33 would wrap to 0 under Long.toInt and silently
    // re-serve page one; it must surface as a tool error instead
    val (huge, hugeErr) = toolCall("query_heap",
      """{"sql":"SELECT 1 AS x","limit":8589934592}""")
    assert(hugeErr, huge)
    assert(huge.contains("out of int range"))
    val (frac, fracErr) = toolCall("query_heap",
      """{"sql":"SELECT 1 AS x","offset":1.5}""")
    assert(fracErr, frac)
    assert(frac.contains("must be an integer"))
    // a Long offset fits the wire type but Spark can only serve
    // int-range OFFSETs — 2^33 must be a clear range error (the old
    // Long.toInt wrap made it 0 and re-served page one)
    val (big, bigErr) = toolCall("query_heap",
      """{"sql":"SELECT 1 AS x","offset":8589934592}""")
    assert(bigErr, big)
    assert(big.contains("out of pageable range"))
  }

  test("a page limit over the row cap is a tool error, not an internal error") {
    // in int range, but LIMIT limit+1 would wrap to a negative literal
    val (capped, cappedErr) = toolCall("query_heap",
      """{"sql":"SELECT 1 AS x","limit":2147483647}""")
    assert(cappedErr, capped)
    assert(capped.contains(s"'limit' must be at most ${HeapSessions.MaxRows}"), capped)
  }

  test("stdio loop replays a stock client's verbatim byte stream") {
    // the exact line-delimited frames a standard MCP client emits on
    // connect (initialize -> initialized notification -> tools/list ->
    // ping), driven through the REAL serve loop — blank line and
    // trailing newline included, so framing (one frame per line, no
    // response to notifications, flush per frame) is locked against
    // drift, not just handle()'s per-message behavior
    val clientBytes =
      ("""{"jsonrpc":"2.0","id":0,"method":"initialize","params":{"protocolVersion":"2025-03-26","capabilities":{"roots":{"listChanged":true}},"clientInfo":{"name":"stock-client","version":"1.2.0"}}}""" + "\n" +
        """{"jsonrpc":"2.0","method":"notifications/initialized"}""" + "\n" +
        "\n" +
        """{"jsonrpc":"2.0","id":1,"method":"tools/list"}""" + "\n" +
        """{"jsonrpc":"2.0","id":2,"method":"ping"}""" + "\n").getBytes("UTF-8")
    val out = new java.io.ByteArrayOutputStream()
    HeapMcp.serve(mcp,
      new java.io.BufferedReader(new java.io.InputStreamReader(
        new java.io.ByteArrayInputStream(clientBytes), "UTF-8")),
      new java.io.PrintStream(out, true, "UTF-8"))
    val raw = out.toString("UTF-8")
    // byte-level framing: every frame is one line terminated by a
    // single \n — no blank separator lines, no trailing garbage
    assert(raw.endsWith("\n") && !raw.contains("\n\n"), raw.takeRight(80))
    val frames = raw.split("\n").filter(_.nonEmpty).toSeq
    assert(frames.length === 3, s"3 requests -> 3 frames, notification silent: $frames")
    val init = Json.parse(frames(0)).asInstanceOf[Map[String, Any]]
    assert(init("id") === 0L && init("jsonrpc") === "2.0")
    val initRes = init("result").asInstanceOf[Map[String, Any]]
    assert(initRes("protocolVersion") === "2025-03-26")
    val tools = Json.parse(frames(1)).asInstanceOf[Map[String, Any]]
    assert(tools("id") === 1L)
    assert(tools("result").asInstanceOf[Map[String, Any]]("tools")
      .asInstanceOf[Vector[Any]].size === 8)
    val ping = Json.parse(frames(2)).asInstanceOf[Map[String, Any]]
    assert(ping("id") === 2L && ping("result") === Map.empty)
  }

  test("notifications get no response; ping gets an empty result") {
    assert(mcp.handle("""{"jsonrpc":"2.0","method":"notifications/initialized"}""").isEmpty)
    assert(result("""{"jsonrpc":"2.0","id":2,"method":"ping"}""") === Map.empty)
  }

  test("tools/list exposes the full reference tool surface with schemas") {
    val tools = result("""{"jsonrpc":"2.0","id":3,"method":"tools/list"}""")(
      "tools").asInstanceOf[Vector[Any]].map(_.asInstanceOf[Map[String, Any]])
    val names = tools.map(_("name"))
    assert(names === Vector("convert_heap_dump", "open_session", "list_sessions",
      "close_session", "cleanup_session", "list_parquet_files", "query_heap",
      "analyze_heap"))
    val query = tools.find(_("name") == "query_heap").get
    val schema = query("inputSchema").asInstanceOf[Map[String, Any]]
    assert(schema("type") === "object")
    assert(schema("required") === Vector("sql"))
    val props = schema("properties").asInstanceOf[Map[String, Any]]
    assert(props.keySet === Set("sql", "session_id", "limit", "offset"))
  }

  test("convert -> only-session SQL paging -> analyze -> close, end to end") {
    val (conv, convErr) = toolCall("convert_heap_dump",
      s"""{"hprof_path":${Json.str(hprofPath)},"session_id":"mcp_e2e"}""")
    assert(!convErr, conv)
    val convJson = Json.parse(conv).asInstanceOf[Map[String, Any]]
    assert(convJson("status") === "ok")
    assert(convJson("session_id") === "mcp_e2e")

    val (listed, _) = toolCall("list_sessions", "{}")
    assert(listed.contains("mcp_e2e"))

    val (files, filesErr) = toolCall("list_parquet_files", "{}") // omitted sid -> only session
    assert(!filesErr, files)
    assert(files.contains("_object_index"))

    // 10 strings, page size 4: 4 + 4 + 2 with correct has_more flags.
    def page(offset: Int): Map[String, Any] = {
      val (text, err) = toolCall("query_heap",
        s"""{"sql":"SELECT obj_id FROM java_lang_String ORDER BY obj_id",""" +
          s""""limit":4,"offset":$offset}""")
      assert(!err, text)
      Json.parse(text).asInstanceOf[Map[String, Any]]
    }
    assert(page(0)("has_more") === true)
    assert(page(4)("row_count") === 4L)
    val last = page(8)
    assert(last("row_count") === 2L && last("has_more") === false)

    val (analysis, aErr) = toolCall("analyze_heap", """{"waste_tier":1,"top_n":5}""")
    assert(!aErr, analysis)
    assert(analysis.contains("waste_findings") && analysis.contains("top_types"))

    val (closed, cErr) = toolCall("close_session", """{"session_id":"mcp_e2e"}""")
    assert(!cErr && closed.contains("closed"))
  }

  test("guide resources list and read") {
    val rs = result("""{"jsonrpc":"2.0","id":4,"method":"resources/list"}""")(
      "resources").asInstanceOf[Vector[Any]].map(_.asInstanceOf[Map[String, Any]])
    assert(rs.map(_("uri")) === Vector("heapdump://guides/setup",
      "heapdump://guides/sql-examples", "heapdump://guides/waste-checks"))
    val read = result("""{"jsonrpc":"2.0","id":5,"method":"resources/read",""" +
      """"params":{"uri":"heapdump://guides/sql-examples"}}""")
    val contents = read("contents").asInstanceOf[Vector[Any]]
      .head.asInstanceOf[Map[String, Any]]
    assert(contents("mimeType") === "text/markdown")
    assert(contents("text").asInstanceOf[String].contains("SQL"))
  }

  test("protocol error contract: parse error, bad method, bad tool, bad params") {
    val parseErr = rpc("""{"jsonrpc":"2.0", nope""")("error")
      .asInstanceOf[Map[String, Any]]
    assert(parseErr("code") === -32700L)

    val notFound = rpc("""{"jsonrpc":"2.0","id":6,"method":"no/such"}""")("error")
      .asInstanceOf[Map[String, Any]]
    assert(notFound("code") === -32601L)

    val (badTool, badToolErr) = toolCall("no_such_tool", "{}")
    assert(badToolErr && badTool.contains("unknown tool"))

    val (noSql, noSqlErr) = toolCall("query_heap", """{"session_id":"nope"}""")
    assert(noSqlErr, noSql)
  }
}
