package graft.heap

import graft.Json

/** The request layer both heap front ends share: HeapServer's routes
  * and HeapMcp's tools decode, check and encode through it, and each
  * keeps only its own wire framing (route or tool table, HTTP status
  * mapping, JSON-RPC envelopes). Arguments are strict: a value of the
  * wrong JSON type — a quoted number or boolean included — is an
  * IllegalArgumentException naming its key, never a silent default.
  */
private[heap] object HeapRequest {
  type Args = Map[String, Any]

  /** An HTTP request body as tool arguments: one JSON object of scalar
    * values. An empty body means no parameters; any other top-level
    * value, and any nested value, is refused.
    */
  def decodeBody(body: String): Args =
    if (body.trim.isEmpty) Map.empty
    else Json.parse(body) match {
      case p: Map[String, Any] @unchecked =>
        p.collectFirst { case (k, _: Map[_, _] | _: Vector[_]) => k }.foreach { k =>
          throw new IllegalArgumentException(s"'$k': nested JSON values are not supported by this API")
        }
        p
      case _ => throw new IllegalArgumentException("request body must be a JSON object")
    }

  /** An empty string counts as absent. */
  def optStr(p: Args, key: String): Option[String] = p.get(key) match {
    case None | Some("") => None
    case _ => Some(reqStr(p, key))
  }

  def reqStr(p: Args, key: String): String = p.get(key) match {
    case Some(s: String) if s.nonEmpty => s
    case _ => throw new IllegalArgumentException(s"'$key' (string) required")
  }

  def optBool(p: Args, key: String, default: Boolean): Boolean =
    p.get(key) match {
      case Some(b: Boolean) => b
      case Some(other) => throw new IllegalArgumentException(s"'$key' must be a boolean, got $other")
      case None => default
    }

  def optInt(p: Args, key: String, default: Int): Int = {
    val v = optLong(p, key, default.toLong)
    // explicit range check: Long.toInt silently wraps (offset 2^33 -> 0
    // would re-serve page one instead of erroring)
    if (v < Int.MinValue || v > Int.MaxValue)
      throw new IllegalArgumentException(s"'$key' out of int range: $v")
    v.toInt
  }

  def optLong(p: Args, key: String, default: Long): Long =
    p.get(key) match {
      case Some(n: Long) => n
      case Some(n: Double) =>
        // a fractional offset/limit is a caller bug, not a page address
        if (n != Math.rint(n) || n < Long.MinValue.toDouble || n > Long.MaxValue.toDouble)
          throw new IllegalArgumentException(s"'$key' must be an integer, got $n")
        n.toLong
      case Some(other) => throw new IllegalArgumentException(s"'$key' must be a number, got $other")
      case None => default
    }

  /** A row count the caller picks (`limit`, `top_n`), within the cap. */
  def optRows(p: Args, key: String, default: Int): Int =
    HeapSessions.checkRows(key, optInt(p, key, default))

  /** `(limit, offset)` of a query page. Pure, so the fronts call it
    * before touching session state and a bad page address errors the
    * same way with 0 or many sessions.
    */
  def pageArgs(p: Args, defaultLimit: Int): (Int, Long) = {
    val limit = optRows(p, "limit", defaultLimit)
    val offset = optLong(p, "offset", 0L) // no silent Long->Int wrap
    // Spark's OFFSET literal must be int-typed — past Int.MaxValue the
    // page is unservable, which must be a loud error, not a wrapped
    // address quietly re-serving page one
    if (offset < 0 || offset > Int.MaxValue)
      throw new IllegalArgumentException(s"'offset' out of pageable range: $offset")
    (limit, offset)
  }

  /** A failed request's body: `{"error": message}`. */
  def errorJson(e: Exception): String =
    Json.obj(Seq("error" -> Json.str(Option(e.getMessage).getOrElse(e.getClass.getName))))

  def sessionJson(s: HeapSessions#Session): String = Json.obj(Seq(
    "session_id" -> Json.str(s.id),
    "parquet_dir" -> Json.str(s.dir),
    "tables" -> Json.arr(s.tables.map(Json.str))))

  def sessionsJson(all: Seq[HeapSessions#Session]): String =
    Json.obj(Seq("sessions" -> Json.arr(all.map(sessionJson))))

  def tablesJson(sid: String, sessions: HeapSessions): String = {
    val df = sessions.listTables(sid)
    Json.obj(Seq(
      "session_id" -> Json.str(sid),
      "tables" -> Json.rowsJson(df.columns.toSeq, df.collect().toSeq)))
  }

  /** One query page; `echo` (MCP's offset and limit) follows row_count. */
  def pageJson(sid: String, page: HeapSessions#QueryPage,
      echo: Seq[(String, String)] = Nil): String = Json.obj(Seq(
    "session_id" -> Json.str(sid),
    "columns" -> Json.arr(page.columns.map(Json.str)),
    "rows" -> Json.rowsJson(page.columns, page.rows.toSeq),
    "row_count" -> page.rows.length.toString) ++ echo ++ Seq(
    "has_more" -> page.hasMore.toString,
    "next_offset" -> page.nextOffset.toString))
}
