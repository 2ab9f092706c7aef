package graft

/** Benchmark main: per-query wall seconds at `SPARK_GRAFT_SF_DIR`, printed
  * as JSON — one line per query, then the full aggregate line, then a
  * COMPACT `{"metric":"total",...}` line LAST. The layered output makes the
  * artifact robust to tail-window capture: even if the long aggregate line
  * is truncated, the individually-small per-query lines and the final
  * compact total still carry every number.
  *
  * A warm-up pass first runs every query once against the smallest SF so
  * the measured pass reflects steady state (JIT + codegen + reader caches),
  * not first-query JVM warm-up — the reference's numbers are steady-state
  * Lambda/Fargate timings, and ours should measure the same thing.
  *
  * `SPARK_GRAFT_REPS` (default 1) runs the measured pass N times and
  * reports the per-query MIN — single runs on a shared host swing ±2× per
  * query from scheduling/GC noise, and min-of-N is the stable statistic
  * for "how fast is this plan".
  *
  * Failures do NOT masquerade as fast green numbers: a failed query keeps
  * its elapsed time and is reported under `"errors"`. */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val warmDir = sys.env.getOrElse("SPARK_GRAFT_WARM_DIR", "/root/testdata/sf0.001")
    // default 2: min-of-2 absorbs most scheduling/GC noise on a shared host
    val reps = sys.env.getOrElse("SPARK_GRAFT_REPS", "2").toInt.max(1)
    val spark = GraftSession.local()

    val names = SparkEntry.queries.keys.toSeq.sorted
    names.foreach { n =>
      try SparkEntry.queries(n)(spark, warmDir).count()
      catch { case _: Throwable => () } // warm-up failures surface in the measured pass
    }
    // drop the warm-up SF's persisted frames: they can never be cache hits
    // for the measured SF, and dozens of stale cached relations otherwise
    // eat storage memory + GC time for the whole measured pass
    spark.catalog.clearCache()
    graft.operators.PipelineCache.clear()

    // untimed MEASURED-SF warm-up: the warm-dir pass above settles JIT and
    // codegen but not the measured SF's page cache or first-shuffle sizing,
    // so the alphabetically-first family ate the session's first-touch
    // costs (r14 committed pair: ann_saved_append 25.0 s in one pass vs
    // 10.1 s in the other on identical code). One cheap query per big
    // table (embeddings / documents / lineitem / events) absorbs that
    // transient outside any timed row, mirroring the calibration warm-up.
    Seq("ann_brute", "text_tokens", "q1_agg", "events_hourly").foreach { n =>
      try SparkEntry.queries(n)(spark, sfDir).count()
      catch { case _: Throwable => () }
    }
    spark.catalog.clearCache()
    graft.operators.PipelineCache.clear()

    // fixed-size calibration job (SF-independent): the same work runs
    // before and after the measured pass, so host-load contamination is
    // visible INSIDE the artifact — if calib seconds swing, the per-query
    // numbers ran on a loaded host and say so (r7's committed bench read
    // 238 s where a quiet host read 206 s, with no way to tell from the
    // artifact; this closes that).
    def calibrate(): Double = Calibration.timed(spark)
    def loadAvg(): Double = Calibration.loadAvg()
    val calibBefore = calibrate()
    val loadBefore = loadAvg()

    val errors = scala.collection.mutable.LinkedHashMap[String, String]()
    val best = scala.collection.mutable.LinkedHashMap[String, Double]()
    val failBest = scala.collection.mutable.LinkedHashMap[String, Double]()
    for (_ <- 1 to reps; name <- names) {
      val t0 = System.nanoTime()
      var ok = true
      try SparkEntry.queries(name)(spark, sfDir).count()
      catch {
        case e: Throwable =>
          ok = false
          errors(name) = s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(200)}"
      }
      val sec = (System.nanoTime() - t0) / 1e9
      // min over SUCCESSFUL reps only — a transient failure's fast abort
      // must not masquerade as the query's best time; failure times are the
      // fallback only when every rep failed
      if (ok) best(name) = best.get(name).fold(sec)(_ min sec)
      else failBest(name) = failBest.get(name).fold(sec)(_ min sec)
      // release the query's operator-persisted frames OUTSIDE its timing:
      // each plan is measured honestly (its own materializations, no free
      // rides on a predecessor's cache) and — the part that actually moved
      // the numbers — 137 queries' worth of MEMORY_AND_DISK relations never
      // accumulate into storage-memory pressure for the later queries
      // (measured r5: dedup_substring 22.2 s in-session vs 2.35 s isolated)
      graft.operators.PipelineCache.clear()
    }
    val results = names.map(n => n -> best.getOrElse(n, failBest(n)))

    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    // one small line per query, HEAVIEST FIRST — a tail-window capture that
    // drops early lines then loses only the cheapest queries' numbers
    results.sortBy(-_._2).foreach { case (k, v) =>
      println(s"""{"metric":"query","name":${q(k)},"value":$v,"unit":"sec"}""")
    }
    val qs = results.map { case (k, v) => s"${q(k)}:$v" }.mkString("{", ",", "}")
    val errs = errors.map { case (k, v) => s"${q(k)}:${q(v)}" }.mkString("{", ",", "}")
    val total = results.map(_._2).sum
    val calibAfter = calibrate()
    val loadAfter = loadAvg()
    // the BASELINE two-stage-overhead gate rides EVERY bench artifact
    // (min-of-3 full-lifecycle pair, fresh engine per rep) so the gate
    // trend is visible round over round without a separate GateProbe
    // run. It executes AFTER the calibration capture — its own query
    // executions must not contaminate calib_sec_after/loadavg_after —
    // and guarded: a gate failure must never cost the totals the whole
    // measured pass already earned.
    // NonFatal only: a fatal JVM error (OOM, LinkageError) must propagate
    // — totals printed after one would come from a corrupted session
    try println(GateProbe.gateLine(spark, sfDir, reps = 3))
    catch { case scala.util.control.NonFatal(e) =>
      val msg = s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(200)}"
      println(s"""{"probe":"two_stage_gate","error":${q(msg)}}""")
    }
    val calib = f""""calib_sec_before":$calibBefore%.3f,"calib_sec_after":$calibAfter%.3f,""" +
      f""""loadavg_before":$loadBefore%.2f,"loadavg_after":$loadAfter%.2f"""
    println(s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"errors":$errs,$calib,"sf":${q(sfDir)}}""")
    // LAYERED TAIL BLOCK (additions only — every line above is unchanged):
    // a tail-window capture keeps only the LAST ~2 KB of output, and the
    // 12 KB aggregate line above has eaten that window every round
    // (BENCH_r08–r15 all parsed to null). Re-print the per-query numbers
    // in ascending order so the HEAVIEST queries sit nearest the end and
    // survive any tail cut, preceded by per-family subtotals (complete
    // coverage at ~20 lines when a wider window is kept).
    val fams = results.groupBy { case (k, _) =>
      if (k.startsWith("q") && k.drop(1).takeWhile(_ != '_').forall(_.isDigit)) "q"
      else if (k.startsWith("source_")) "source"
      else k.takeWhile(_ != '_')
    }
    fams.toSeq.sortBy(_._1).foreach { case (f, qs2) =>
      println(f"""{"metric":"family","name":${q(f)},"value":${qs2.map(_._2).sum}%.3f,"n":${qs2.size},"unit":"sec"}""")
    }
    results.sortBy(_._2).foreach { case (k, v) =>
      println(f"""{"metric":"query","name":${q(k)},"value":$v%.4f,"unit":"sec"}""")
    }
    // compact headline LAST: carries the total even if the line above was
    // truncated by a tail capture
    println(s"""{"metric":"total","value":$total,"unit":"sec","n":${results.size},"n_errors":${errors.size},"reps":$reps,$calib,"sf":${q(sfDir)}}""")
    spark.stop()
  }
}
