package graft.tools

import java.nio.file.{Files, Paths}

/** Dumps `.explain("formatted")` for named gate queries to files —
  * the optimization-round evidence trail (plans/rNN/<gate>_before.txt
  * / _after.txt). Not part of the driver contract; a development tool.
  *
  * Usage: runMain graft.tools.PlanDump <outDir> <suffix> [gate,gate,...]
  * (no gate list = every declared gate).
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val outDir = args.headOption.getOrElse("plans/r16")
    val suffix = if (args.length > 1) args(1) else "before"
    val only: Option[Set[String]] =
      if (args.length > 2) Some(args(2).split(",").toSet) else None
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.SparkFactory.session()
    spark.sparkContext.setLogLevel("ERROR")
    Files.createDirectories(Paths.get(outDir))
    graft.SparkEntry.gateQueries
      .filter(q => only.forall(_.contains(q.name)))
      .foreach { q =>
        try {
          val df = q.fn(spark, sfDir)
          val plan = df.queryExecution.explainString(
            org.apache.spark.sql.execution.FormattedMode)
          Files.write(Paths.get(outDir, s"${q.name}_$suffix.txt"),
            plan.getBytes("UTF-8"))
          System.err.println(s"[plandump] ${q.name} -> $outDir/${q.name}_$suffix.txt")
        } catch {
          case e: Throwable =>
            System.err.println(s"[plandump] ${q.name} FAILED: ${e.getMessage}")
        }
      }
    spark.stop()
  }
}
