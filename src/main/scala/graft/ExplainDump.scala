package graft

import java.nio.file.{Files, Paths}
import java.nio.charset.StandardCharsets

import org.apache.spark.sql.execution.ExplainMode

/** Dump `.explain("formatted")` for named SparkEntry queries to files —
  * the plan-evidence artifact the optimization rounds commit under
  * `plans/rNN/`. Plans are captured lazily (no job runs; AQE plans print
  * `isFinalPlan=false`, which is the comparable before/after shape).
  * Usage: runMain graft.ExplainDump <outDir> <suffix> [sfDir] [names] —
  * names comma-separated, default: every declared query. Each query `q`
  * writes `<outDir>/<q>_<suffix>.txt`. */
object ExplainDump {
  def main(args: Array[String]): Unit = {
    val outDir = args(0)
    val suffix = args(1)
    val sfDir = if (args.length > 2) args(2) else "/root/testdata/sf0.1"
    val names =
      if (args.length > 3) args(3).split(",").toSeq.map(_.trim).filter(_.nonEmpty)
      else SparkEntry.queries.keys.toSeq.sorted
    val spark = GraftSession.local()
    Files.createDirectories(Paths.get(outDir))
    val mode = ExplainMode.fromString("formatted")
    names.foreach { name =>
      val fn = SparkEntry.queries.getOrElse(name,
        sys.error(s"unknown query '$name'"))
      val txt =
        try fn(spark, sfDir).queryExecution.explainString(mode)
        catch { case e: Exception => s"EXPLAIN FAILED: ${e.getMessage}" }
      Files.write(Paths.get(outDir, s"${name}_$suffix.txt"),
        txt.getBytes(StandardCharsets.UTF_8))
      println(s"[explain] wrote $name ($suffix)")
    }
    spark.stop()
  }
}
