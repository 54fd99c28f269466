package graft.heap

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Ad-hoc SQL over an exported heap directory — the counterpart of
  * the reference's `query_heap` MCP tool (mcp_server: arbitrary SQL
  * over the heap parquet files). Registers every table as a temp view
  * so `spark.sql(...)` has the full relational surface; class tables
  * get sanitized names (dots and brackets → underscores) plus the
  * stable aliases the checks use.
  */
object HeapSql {

  def viewName(table: String): String =
    table.replaceAll("[^A-Za-z0-9_]", "_")

  /** Register all tables under `dir`; returns view-name → table-dir. */
  def register(spark: SparkSession, dir: String): Map[String, String] =
    register(new HeapTables(spark, dir))

  /** Register every table of `t` as a view over the DataFrame `t`
    * resolves it to, named `prefix` + the table's view name; returns
    * registered name → table-dir. Class tables with multiple loader
    * copies union under one view (comma-joined dirs).
    */
  def register(t: HeapTables, prefix: String = ""): Map[String, String] = {
    val views = t.systemNames.map(d => (d, d, t.system(d))) ++
      t.classCopies.map { case (cls, copies) => (cls, copies.mkString(","), t.byClass(cls)) }
    views.map { case (table, dirs, df) =>
      val v = prefix + viewName(table)
      df.get.createOrReplaceTempView(v)
      v -> dirs
    }.toMap
  }

  def query(spark: SparkSession, dir: String, sql: String): DataFrame = {
    register(spark, dir)
    spark.sql(sql)
  }
}
