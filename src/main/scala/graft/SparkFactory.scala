package graft

import org.apache.spark.sql.SparkSession

/** The one SparkSession builder of the mains (Bench, Verify, the CLIs,
  * HeapServer, HeapMcp and the dev tools), so they all run the config
  * the bench measures: master `SPARK_MASTER` when set, else
  * `local[SPARK_GRAFT_CPUS]` (default 32) with one shuffle partition
  * per cpu; UTC session time zone, UI off, log level WARN.
  *
  * Spark keeps compiled whole-stage and projection classes in one LRU
  * cache, sized once per JVM by `spark.sql.codegen.cache.maxEntries`
  * (default 100) when the first query compiles. A heap server's mix
  * of analyses, page templates, conversions and id lookups needs more
  * than 100, and every class evicted is compiled again on its next
  * use, so the mains size the cache at 1000.
  */
object SparkFactory {
  def session(): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val b = SparkSession.builder()
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", "1000")
    val spark = sys.env.get("SPARK_MASTER")
      .fold(b.master(s"local[$cpus]").config("spark.sql.shuffle.partitions", cpus))(b.master)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
