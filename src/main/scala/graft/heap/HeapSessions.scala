package graft.heap

import org.apache.spark.sql.{DataFrame, SparkSession}
import scala.collection.mutable

/** Named analysis sessions over exported heap directories — the
  * Spark-side equivalent of the reference MCP server's session
  * registry (mcp_server/server.py: open_session / list_sessions /
  * close_session / cleanup_session, heap_state.py SessionManager).
  *
  * A session binds a session id to a heap parquet directory with its
  * tables registered as temp views under `<id>__<table>`; `query`
  * additionally registers the bare names for the addressed session so
  * ad-hoc SQL stays terse. Bare names are a shared catalog resource,
  * so every catalog mutation AND the analysis of the SQL that reads
  * them happens under one global lock (spark.sql analyzes eagerly, so
  * the returned DataFrame is already bound to the right relations when
  * the lock is released). Closing drops this session's views — bare
  * ones too, if it owns them — and keeps the files; cleanup also
  * deletes the directory and requires `confirm = true`, mirroring the
  * reference's destructive-op guard.
  *
  * A session resolves its tables once, at open, into a [[HeapTables]]
  * it keeps. Resolving reads one footer per table on the driver, so an
  * open runs no Spark job. Views, analyses, table listings, diffs and the
  * owner-switch re-registration all reuse those DataFrames, so the
  * files must not change while the session is open. Reopening builds
  * a new one.
  */
final class HeapSessions(spark: SparkSession) {
  import HeapSessions.catalogLock

  final case class Session(id: String, dir: String, tables: Seq[String])

  private final class Opened(val session: Session, val heap: HeapTables)

  private val sessions = mutable.LinkedHashMap.empty[String, Opened]

  /** Open (or reopen) a session over an exported heap directory. The
    * default id is the directory basename; since exports commonly end
    * in ".../parquet", a basename already taken by a DIFFERENT
    * directory gets a numeric suffix instead of silently replacing the
    * earlier session.
    */
  def open(parquetDir: String, sessionId: String = ""): Session = catalogLock.synchronized {
    val f = new java.io.File(parquetDir)
    require(f.isDirectory, s"directory not found: $parquetDir")
    val id = if (sessionId.nonEmpty) sessionId else {
      val base = f.getName
      Iterator.from(0)
        .map(i => if (i == 0) base else s"${base}_$i")
        .find(c => sessions.get(c).forall(_.session.dir == parquetDir)).get
    }
    dropBareViews() // a previous owner's tables must not survive the switch
    val heap = new HeapTables(spark, parquetDir)
    val views = HeapSql.register(heap)
    HeapSql.register(heap, s"${id}__")
    val sess = Session(id, parquetDir, views.keys.toSeq.sorted)
    sessions(id) = new Opened(sess, heap)
    HeapSessions.bareOwners(spark) = (id, sess.tables)
    sess
  }

  def list: Seq[Session] = catalogLock.synchronized(sessions.values.map(_.session).toSeq)

  /** The tables the session resolved at open. */
  private[heap] def heapTables(sessionId: String): HeapTables = get(sessionId).heap

  /** Per-table file/row/schema listing (reference list_parquet_files). */
  def listTables(sessionId: String): DataFrame = heapTables(sessionId).list

  /** SQL against one session's tables (bare table names resolve to the
    * addressed session). Registration + analysis are atomic under the
    * catalog lock; the returned DataFrame stays bound to this
    * session's relations even if another thread re-registers after.
    */
  def query(sessionId: String, sql: String): DataFrame = catalogLock.synchronized {
    val opened = get(sessionId)
    val sess = opened.session
    // re-register only on OWNER CHANGE: the owner marker is written
    // under this same lock, so if this session already owns the bare
    // names every view still points at its directory — repeated pages
    // of one session (the dominant serving pattern) skip the catalog
    // writes; a switch re-points the views at the DataFrames the
    // session resolved at open, reading no parquet footer
    if (!HeapSessions.bareOwners.get(spark).contains((sess.id, sess.tables))) {
      dropBareViews() // stale tables of the previous owner must not linger
      HeapSql.register(opened.heap)
      HeapSessions.bareOwners(spark) = (sess.id, sess.tables)
    }
    spark.sql(sql)
  }

  /** One page of an ad-hoc query — the reference `query_heap` contract
    * (mcp_server/server.py:479-537): the SQL is wrapped in
    * `LIMIT limit+1 OFFSET offset`, the extra row only signals
    * `hasMore`, and `nextOffset` is where the following call resumes.
    * An interactive caller against a big dump can never pull an
    * unbounded result by accident.
    */
  final case class QueryPage(rows: Array[org.apache.spark.sql.Row],
      columns: Seq[String], hasMore: Boolean, nextOffset: Long)

  def queryPage(sessionId: String, sql: String, limit: Int = 100,
      offset: Long = 0L): QueryPage = {
    require(limit > 0, s"limit must be positive, got $limit")
    HeapSessions.checkRows("limit", limit) // keeps LIMIT limit+1 from wrapping
    require(offset >= 0, s"offset must be non-negative, got $offset")
    // Spark rejects a BIGINT-typed OFFSET literal, so past Int.MaxValue
    // the page is unservable — surface that as a parameter error here
    // (shared by the HTTP and MCP fronts) rather than a planner error
    require(offset <= Int.MaxValue, s"offset out of pageable range: $offset")
    // paging without an ORDER BY is only stable because the page query
    // re-analyzes the same single-file-list relations; callers wanting
    // cross-page guarantees should still order explicitly (the
    // reference has the same contract)
    val page = query(sessionId,
      s"SELECT * FROM ($sql) __graft_page LIMIT ${limit + 1} OFFSET $offset")
    val fetched = page.collect()
    val rows = fetched.take(limit)
    QueryPage(rows, page.columns.toSeq, fetched.length > limit, offset + rows.length)
  }

  /** Reference `analyze_heap` over an open session: summary + waste
    * checks as one JSON document, stamped with the session id and
    * parquet dir (server.py analyze_heap result shape).
    */
  def analyze(sessionId: String, topN: Int = 30, waste: Boolean = true,
      maxTier: Int = 2, graph: Boolean = true): String = {
    val opened = get(sessionId)
    new HeapAnalysis(opened.heap).analyzeJson(topN, waste, maxTier, opened.session.id, graph)
  }

  /** B25 across two open sessions: the per-type growth census between
    * the dump behind `beforeId` and the one behind `afterId` — the
    * two-session question (take a dump, wait, take another) the
    * single-session tools cannot answer. Sorted biggest growth first.
    */
  def diff(beforeId: String, afterId: String): DataFrame = {
    import org.apache.spark.sql.functions.col
    val (a, b) = catalogLock.synchronized((get(beforeId), get(afterId)))
    HeapDiff.typeDelta(a.heap, b.heap)
      .getOrElse(throw new IllegalStateException(
        s"sessions '$beforeId'/'$afterId' lack _object_index exports"))
      .orderBy(col("delta_bytes").desc, col("type_name"))
  }

  /** B29 across two open sessions: the retained-size growth census —
    * what each root type HOLDS ALIVE, diffed. Sorted biggest retained
    * growth first.
    */
  def diffRetained(beforeId: String, afterId: String): DataFrame = {
    import org.apache.spark.sql.functions.col
    val (a, b) = catalogLock.synchronized((get(beforeId), get(afterId)))
    HeapDiff.retainedDelta(a.heap, b.heap)
      .getOrElse(throw new IllegalStateException(
        s"sessions '$beforeId'/'$afterId' lack the exports the retained census needs"))
      .orderBy(col("delta_retained").desc, col("type_name"))
  }

  /** Drop the session's views; parquet files stay on disk. */
  def close(sessionId: String): Unit = catalogLock.synchronized {
    val sess = get(sessionId).session
    sess.tables.foreach(v => spark.catalog.dropTempView(s"${sess.id}__$v"))
    if (HeapSessions.bareOwners.get(spark).exists(_._1 == sessionId)) dropBareViews()
    sessions.remove(sessionId)
  }

  /** Close AND delete the parquet directory. Destructive — requires
    * confirm (reference cleanup_session semantics).
    */
  def cleanup(sessionId: String, confirm: Boolean = false): Unit = {
    require(confirm, "destructive operation - pass confirm = true to delete files")
    val dir = get(sessionId).session.dir
    close(sessionId)
    def rm(f: java.io.File): Unit = {
      Option(f.listFiles()).foreach(_.foreach(rm))
      f.delete(): Unit
    }
    rm(new java.io.File(dir))
  }

  private def dropBareViews(): Unit =
    HeapSessions.bareOwners.remove(spark)
      .foreach(_._2.foreach(v => spark.catalog.dropTempView(v)))

  private def get(sessionId: String): Opened = catalogLock.synchronized {
    sessions.getOrElse(sessionId,
      throw new NoSuchElementException(
        s"no session '$sessionId' (open sessions: ${sessions.keys.mkString(", ")})"))
  }
}

object HeapSessions {
  /** Cap on a caller-picked row count (page `limit`, `top_n`): 10x the
    * largest default, MCP's page of 1000. It bounds the driver
    * `collect()` behind every page, census and report section, and
    * keeps `limit + 1` and `topN * 8` far from Int overflow.
    */
  val MaxRows = 10000

  /** `n` if within [[MaxRows]], else a parameter error naming `key`. */
  def checkRows(key: String, n: Int): Int =
    if (n <= MaxRows) n else throw new IllegalArgumentException(s"'$key' must be at most $MaxRows, got $n")

  /** Bare temp-view names are global to the SparkSession catalog, so
    * registration races are guarded JVM-wide, across HeapSessions
    * instances.
    */
  private val catalogLock = new Object

  /** Current bare-view owner (session id -> its table names), shared
    * across ALL HeapSessions instances and keyed by SparkSession: a
    * bare view is a catalog-global resource, so instance A's switch
    * must also drop views instance B registered, or a stale table
    * name would resolve against the wrong dump. Weak keys: a
    * registry must not pin a stopped SparkSession. Guarded by
    * [[catalogLock]].
    */
  private val bareOwners = mutable.WeakHashMap.empty[SparkSession, (String, Seq[String])]
}
