package graft.heap

import graft.SparkTestSession
import HprofModel._
import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import org.scalatest.funsuite.AnyFunSuite

/** End-to-end drive of the serving layer (reference mcp_server
  * parity): every route is exercised through a real HTTP client
  * against a live server on an ephemeral port — convert, session
  * lifecycle, table listing, paged SQL, analyze, guides, and the
  * error contract.
  */
class HeapServerSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private lazy val client = HttpClient.newHttpClient()

  private lazy val (srv, base): (HeapServer, String) = {
    val s = new HeapServer(spark, 0).start()
    (s, s"http://127.0.0.1:${s.boundPort}")
  }

  private def get(path: String): HttpResponse[String] =
    client.send(HttpRequest.newBuilder(URI.create(base + path)).GET().build(),
      HttpResponse.BodyHandlers.ofString())

  private def post(path: String, body: String): HttpResponse[String] =
    client.send(HttpRequest.newBuilder(URI.create(base + path))
      .POST(HttpRequest.BodyPublishers.ofString(body)).build(),
      HttpResponse.BodyHandlers.ofString())

  private lazy val hprofPath: String = {
    val w = new HprofWriter()
    val obj = w.defineClass("java.lang.Object")
    val str = w.defineClass("java.lang.String", obj,
      instanceFields = Seq("value" -> BasicType.Object, "hash" -> BasicType.Int))
    val bs = (0 until 10).map(i => w.byteArray(s"srv-$i"))
    bs.zipWithIndex.foreach { case (b, i) =>
      w.instance(str, Seq(BasicType.Object -> b, BasicType.Int -> i))
    }
    val dir = java.nio.file.Files.createTempDirectory("heap_server")
    val p = dir.resolve("srv.hprof").toString
    w.writeTo(p, segments = 2)
    p
  }

  private lazy val exportDir: String =
    s"${new java.io.File(hprofPath).getParent}/pq"

  test("health and 404 contract") {
    assert(get("/health").body() === """{"ok":true}""")
    val miss = get("/nope")
    assert(miss.statusCode() === 404)
    assert(miss.body().contains("no route"))
  }

  test("convert ingests an hprof and reports the table count") {
    val r = post("/convert",
      s"""{"hprof_path":${graft.Json.str(hprofPath)},"output_dir":${graft.Json.str(exportDir)}}""")
    assert(r.statusCode() === 200, r.body())
    assert(r.body().contains("\"parquet_dir\""))
    // str table + byte prim arrays + 9 system/class tables
    assert(new java.io.File(exportDir).listFiles().exists(_.getName.startsWith("java.lang.String_")))
  }

  test("session lifecycle: open, list, tables, close") {
    post("/convert",
      s"""{"hprof_path":${graft.Json.str(hprofPath)},"output_dir":${graft.Json.str(exportDir)}}""")
    val opened = post("/sessions/open",
      s"""{"parquet_dir":${graft.Json.str(exportDir)},"session_id":"srv_test"}""")
    assert(opened.statusCode() === 200, opened.body())
    assert(opened.body().contains("\"session_id\":\"srv_test\""))
    assert(get("/sessions").body().contains("srv_test"))

    val tables = get("/tables?session_id=srv_test")
    assert(tables.statusCode() === 200)
    assert(tables.body().contains("object_index"))

    val closed = post("/sessions/close", """{"session_id":"srv_test"}""")
    assert(closed.statusCode() === 200)
    assert(!get("/sessions").body().contains("srv_test"))
  }

  test("paged query honors the LIMIT n+1 OFFSET contract") {
    post("/convert",
      s"""{"hprof_path":${graft.Json.str(hprofPath)},"output_dir":${graft.Json.str(exportDir)}}""")
    post("/sessions/open", s"""{"parquet_dir":${graft.Json.str(exportDir)},"session_id":"srv_page"}""")
    val q = """{"session_id":"srv_page","sql":"SELECT obj_id FROM _object_index ORDER BY obj_id","limit":7,"offset":0}"""
    val p1 = post("/query", q)
    assert(p1.statusCode() === 200, p1.body())
    assert(p1.body().contains("\"row_count\":7"))
    assert(p1.body().contains("\"has_more\":true"))
    assert(p1.body().contains("\"next_offset\":7"))
    // drain: follow next_offset until has_more flips
    var offset = 7L
    var more = true
    var total = 7L
    while (more) {
      val r = post("/query",
        s"""{"session_id":"srv_page","sql":"SELECT obj_id FROM _object_index ORDER BY obj_id","limit":7,"offset":$offset}""")
      val body = r.body()
      val n = "\"row_count\":(\\d+)".r.findFirstMatchIn(body).get.group(1).toLong
      more = body.contains("\"has_more\":true")
      total += n
      offset += n
    }
    // 10 strings + 10 byte[] + 2 class records = 22 index rows
    assert(total === 22L)
    post("/sessions/close", """{"session_id":"srv_page"}""")
  }

  test("analyze returns the reference-shaped JSON document") {
    post("/convert",
      s"""{"hprof_path":${graft.Json.str(hprofPath)},"output_dir":${graft.Json.str(exportDir)}}""")
    post("/sessions/open", s"""{"parquet_dir":${graft.Json.str(exportDir)},"session_id":"srv_an"}""")
    val r = post("/analyze", """{"session_id":"srv_an","max_tier":1}""")
    assert(r.statusCode() === 200, r.body())
    assert(r.body().contains("\"session_id\":\"srv_an\""))
    assert(r.body().contains("\"summary\""))
    assert(r.body().contains("\"waste_findings\""))
    post("/sessions/close", """{"session_id":"srv_an"}""")
  }

  test("diff route: growth census between two session dumps") {
    post("/convert",
      s"""{"hprof_path":${graft.Json.str(hprofPath)},"output_dir":${graft.Json.str(exportDir)}}""")
    // "later" dump: 14 strings instead of 10
    val w = new HprofWriter()
    val obj = w.defineClass("java.lang.Object")
    val str = w.defineClass("java.lang.String", obj,
      instanceFields = Seq("value" -> BasicType.Object, "hash" -> BasicType.Int))
    (0 until 14).foreach { i =>
      val b = w.byteArray(s"srv-$i")
      w.instance(str, Seq(BasicType.Object -> b, BasicType.Int -> i))
    }
    val dir2 = java.nio.file.Files.createTempDirectory("heap_server_b")
    val hprof2 = dir2.resolve("later.hprof").toString
    w.writeTo(hprof2, segments = 1)
    val export2 = dir2.resolve("pq").toString
    post("/convert",
      s"""{"hprof_path":${graft.Json.str(hprof2)},"output_dir":${graft.Json.str(export2)}}""")
    post("/sessions/open", s"""{"parquet_dir":${graft.Json.str(exportDir)},"session_id":"dump_t0"}""")
    post("/sessions/open", s"""{"parquet_dir":${graft.Json.str(export2)},"session_id":"dump_t1"}""")
    val r = post("/diff", """{"session_before":"dump_t0","session_after":"dump_t1"}""")
    assert(r.statusCode() === 200, r.body())
    assert(r.body().contains("\"delta_n\""))
    // String grew 10 -> 14
    assert(r.body().contains("\"type_name\":\"java.lang.String\""))
    assert(r.body().contains("\"n_before\":10"))
    assert(r.body().contains("\"n_after\":14"))
    // mode=retained flips to the B29 retained-size census, same shape
    val rr = post("/diff",
      """{"session_before":"dump_t0","session_after":"dump_t1","mode":"retained"}""")
    assert(rr.statusCode() === 200, rr.body())
    assert(rr.body().contains("\"delta_retained\""))
    assert(rr.body().contains("\"type_name\":\"java.lang.String\""))
    val missing = post("/diff", """{"session_before":"dump_t0","session_after":"ghost"}""")
    assert(missing.statusCode() === 404)
    post("/sessions/close", """{"session_id":"dump_t0"}""")
    post("/sessions/close", """{"session_id":"dump_t1"}""")
  }

  test("guides surface and unknown-session error codes") {
    val names = get("/guides")
    assert(names.body().contains("sql-examples"))
    val g = get("/guides/setup")
    assert(g.statusCode() === 200)
    assert(g.body().contains("HPROF"))
    assert(get("/guides/bogus").statusCode() === 404)

    val bad = post("/query", """{"session_id":"ghost","sql":"SELECT 1"}""")
    assert(bad.statusCode() === 404)
    assert(bad.body().contains("no session"))
    val malformed = post("/query", """{"sql":}""")
    assert(malformed.statusCode() === 400)
  }

  test("flat JSON parser round-trips types and rejects nesting") {
    val p = HeapRequest.decodeBody("""{"a":"x\n\"y","n":42,"d":1.5,"b":true,"z":null}""")
    assert(p("a") === "x\n\"y")
    assert(p("n") === 42L)
    assert(p("d") === 1.5)
    assert(p("b") === true)
    assert(p("z") === null)
    assert(HeapRequest.decodeBody("") === Map.empty)
    intercept[IllegalArgumentException](HeapRequest.decodeBody("""{"a":{"b":1}}"""))
  }

  test("wrongly typed and oversized arguments are a 400 naming the key") {
    // each was once accepted: a quoted boolean turned the waste checks
    // off, and the sizes reached Spark (LIMIT n+1 wraps negative) or a
    // driver collect() unchecked
    val cases = Seq(
      ("/analyze", """{"session_id":"ghost","waste":"true"}""", "'waste'"),
      ("/query", """{"session_id":"ghost","sql":"SELECT 1","limit":"7"}""", "'limit'"),
      ("/query", """{"session_id":"ghost","sql":"SELECT 1","limit":2147483647}""", "'limit'"),
      ("/diff", """{"session_before":"a","session_after":"b","top_n":2147483647}""", "'top_n'"))
    cases.foreach { case (route, body, key) =>
      val r = post(route, body)
      assert(r.statusCode() === 400, s"$route $body -> ${r.body()}")
      assert(r.body().contains(key), r.body())
    }
  }
}
