package graft

/** Local profiling harness: run ONE SparkEntry query by name `reps` times
  * against a testdata dir and print per-run wall seconds — for narrowing
  * down which stage of a slow query pays the cost (pair with the Spark UI
  * or explain output). Usage: runMain graft.Profile <name> [sfDir] [reps]. */
object Profile {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val reps = if (args.length > 2) args(2).toInt else 3
    val spark = GraftSession.local()
    // per-run Spark job count: iterative operators pay a fixed-latency
    // barrier per action, so "how many jobs did this query run" is the
    // direct readout of the §2.6 fold-the-action work
    val metrics = new graft.plans.QueryMetricsListener
    spark.sparkContext.addSparkListener(metrics)
    val fn = SparkEntry.queries(name)
    (1 to reps).foreach { i =>
      graft.operators.PipelineCache.clear()
      spark.catalog.clearCache()
      metrics.jobs.reset()
      val t0 = System.nanoTime()
      val n = fn(spark, sfDir).count()
      val sec = (System.nanoTime() - t0) / 1e9
      println(f"[profile] $name run $i: $sec%.2f s ($n rows, ${metrics.jobs.sum()} jobs)")
    }
    spark.stop()
  }
}
