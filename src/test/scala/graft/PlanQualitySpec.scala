package graft

import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.scalatest.funsuite.AnyFunSuite

/** Plan-shape assertions: these queries must keep the properties that make
  * them scale — pushed filters, pruned columns, broadcast dimensions. A
  * regression here is a 100×-scale performance bug even if results stay
  * correct. */
class PlanQualitySpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def formatted(name: String): String = {
    val df = SparkEntry.queries(name)(spark, TestSpark.sf)
    df.queryExecution.executedPlan.toString() + "\n" +
      df.queryExecution.toString()
  }

  test("q_dpp fact scan carries a dynamicpruning partition filter from the dim join") {
    val plan = formatted("q_dpp")
    assert(plan.contains("dynamicpruning"),
      s"the partitioned fact scan must be runtime-pruned by the dim join:\n${plan.take(1200)}")
    // and the dim side rides a broadcast, not a shuffle
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastExchange"),
      s"dim should broadcast:\n${plan.take(1200)}")
  }

  test("q_zonemap_2stage scan reads only the files surviving manifest pruning") {
    val df = SparkEntry.queries("q_zonemap_2stage")(spark, TestSpark.sf)
    val scans = df.queryExecution.sparkPlan.collectLeaves().collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec =>
        s.relation.location.inputFiles.length
    }
    assert(scans.nonEmpty, "expected a parquet scan under the two-stage plan")
    // the fixture is 16 range-clustered files; the map SQL's BETWEEN must
    // have pruned the planner's file list through the footer manifest
    assert(scans.forall(n => n > 0 && n < 16),
      s"zone maps should prune the 16-file fixture, scan reads $scans files")
  }

  test("q2 filter reaches the parquet scan (PushedFilters)") {
    val plan = formatted("q2_filter_project")
    assert(plan.contains("PushedFilters"))
    assert(plan.contains("l_returnflag"), "returnflag filter should be pushed")
  }

  test("q2 scan reads only the projected columns (ReadSchema pruning)") {
    val plan = formatted("q2_filter_project")
    val read = plan.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(!read.contains("l_shipdate"), s"unused column not pruned: $read")
    assert(!read.contains("l_tax"), s"unused column not pruned: $read")
  }

  test("q10 join broadcasts the customer dimension") {
    val plan = formatted("q10_join_agg")
    assert(plan.contains("BroadcastHashJoin"), "dimension join should broadcast")
  }

  test("q1 aggregate is split partial/final (two HashAggregates)") {
    val plan = formatted("q1_agg")
    val aggs = plan.linesIterator.count(l => l.contains("HashAggregate"))
    assert(aggs >= 2, s"expected partial+final HashAggregate, got $aggs")
  }

  test("q1 stays inside whole-stage codegen") {
    // AQE only materializes codegen'd stages once executed
    val df = SparkEntry.queries("q1_agg")(spark, TestSpark.sf)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString()
    // codegen'd operators carry the "*(stageId)" prefix in tree strings
    assert(plan.contains("*(1)"), s"no codegen stage in:\n${plan.take(800)}")
  }

  test("two-stage engine query is one Spark plan with an exchange, no collect") {
    def plan(): String =
      SparkEntry.queries("q3_two_stage")(spark, TestSpark.sf).queryExecution.executedPlan.toString()
    // the small events read runs in one partition, with no exchange at all
    val small = plan()
    assert(small.contains("Coalesce 1") && !small.contains("Exchange"), small)
    // a read above minPartitionSize keeps the map/reduce shuffle
    val bound = "spark.sql.adaptive.coalescePartitions.minPartitionSize"
    spark.conf.set(bound, "1b")
    val large = try plan() finally spark.conf.unset(bound)
    assert(large.contains("Exchange") || large.contains("AQEShuffleRead"),
      "map/reduce boundary should be a shuffle exchange inside one plan")
  }

  test("dedup LSH candidates come from ONE bucket aggregation carrying only ids") {
    val df = SparkEntry.queries("dedup_minhash")(spark, TestSpark.sf)
    // the pair-list result is persisted, so the optimized plan tops out at an
    // InMemoryRelation — unwrap cached subtrees to see the candidate pipeline
    val top = df.queryExecution.optimizedPlan
    val sb = new StringBuilder(top.toString)
    top.foreach {
      case r: org.apache.spark.sql.execution.columnar.InMemoryRelation =>
        sb.append(r.cachedPlan.toString)
      case _ =>
    }
    val plan = sb.toString
    val lines = plan.linesIterator.toSeq
    // candidate generation = group buckets, collect id lists, explode pair
    // combinations — ONE exchange of the bucket table. A band self-join
    // (the old shape) would shuffle it twice.
    assert(!lines.exists(l => l.contains("Join") && l.contains("band#")),
      s"bucket self-join found — candidates should come from one aggregation:\n$plan")
    val bucketAggs = lines.filter(l =>
      l.contains("band#") && l.contains("collect_list"))
    assert(bucketAggs.nonEmpty, s"bucket collect_list aggregation not found in:\n$plan")
    // the aggregation collects ids only — never the shingle array
    bucketAggs.foreach(a =>
      assert(!a.contains("collect_list(sh#"), s"bucket aggregation carries shingle arrays: $a"))
    assert(lines.exists(_.contains("pair_combinations")),
      s"pair_combinations explode not found in:\n$plan")
  }

  test("ann top-k is a partial/final bounded-heap aggregate, not a window shuffle") {
    val df = SparkEntry.queries("ann_brute")(spark, TestSpark.sf)
    val plan = df.queryExecution.executedPlan.toString()
    assert(plan.contains("ObjectHashAggregate"),
      s"top-k should be a TypedImperativeAggregate:\n${plan.take(800)}")
    assert(!plan.contains("Window"),
      "scored rows must fold into k-slot heaps map-side, not shuffle through a window")
  }

  test("LSH bucket keys spread the corpus: no bucket holds a large fraction") {
    import org.apache.spark.sql.functions._
    import graft.functions.GraftFunctions._
    import graft.operators.Dedup
    val docs = Tables.load(spark, TestSpark.sf, "documents")
    val n = docs.count()
    val cap = math.max(n / 10, 16L)
    // minhash band buckets: occupancy is what bounds candidate pairs (~Σ n_b²)
    val mbOcc = docs
      .select(posexplode(minhashBandKeys(Dedup.wordShingles(col("text"), 3), 256, 64)))
      .groupBy("pos", "col").count()
      .agg(max("count")).collect()(0).getLong(0)
    assert(mbOcc <= cap, s"minhash bucket occupancy $mbOcc > $cap of $n docs")
    // sign-sketch buckets for embeddings
    val emb = Tables.load(spark, TestSpark.sf, "embeddings")
    val skOcc = emb
      .select(posexplode(signSketch(col("embedding"), 64, 32, 8)))
      .groupBy("pos", "col").count()
      .agg(max("count")).collect()(0).getLong(0)
    val embCap = math.max(emb.count() / 4, 16L) // 256 buckets/table at this SF
    assert(skOcc <= embCap, s"sign-sketch bucket occupancy $skOcc > $embCap")
  }

  test("decontaminate broadcasts the eval n-gram set") {
    val plan = formatted("curate_decontaminate")
    assert(plan.contains("BroadcastHashJoin"),
      "the eval-set join must broadcast — the corpus side never shuffles")
  }

  test("pii redaction and sampling are map-only (no exchange)") {
    for (q <- Seq("curate_pii_redact", "curate_sample")) {
      val df = SparkEntry.queries(q)(spark, TestSpark.sf)
      val plan = df.queryExecution.executedPlan.toString()
      assert(!plan.contains("Exchange"), s"$q should be a narrow scan-transform:\n${plan.take(600)}")
    }
  }

  test("vocabulary top-k is a TakeOrdered, not a global sort") {
    val df = SparkEntry.queries("curate_vocab")(spark, TestSpark.sf)
    val plan = df.queryExecution.executedPlan.toString()
    assert(plan.contains("TakeOrderedAndProject"),
      s"top-k must keep only k rows per partition:\n${plan.take(600)}")
  }

  test("weighted sample is a TakeOrdered bounded heap, not a global sort") {
    val df = SparkEntry.queries("curate_weighted_sample")(spark, TestSpark.sf)
    val plan = df.queryExecution.executedPlan.toString()
    assert(plan.contains("TakeOrderedAndProject"),
      s"k-smallest priorities must fold into per-partition heaps:\n${plan.take(600)}")
    assert(!plan.contains("Sort "),
      s"no full sort of the corpus:\n${plan.take(600)}")
  }

  test("autocorrelation: one window sort serves every lag, over the dense series only") {
    val df = SparkEntry.queries("events_autocorr")(spark, TestSpark.sf)
    val plan = df.queryExecution.executedPlan.toString()
    // all lag columns share one WindowExec (same partition/order spec)
    assert(plan.linesIterator.count(_.contains("Window [")) == 1,
      s"lags must share a single window pass:\n${plan.take(900)}")
  }

  test("cleanCorpus filters are semi-joins — the doc payload is never duplicated") {
    val df = SparkEntry.queries("curate_clean")(spark, TestSpark.sf)
    val plan = df.queryExecution.optimizedPlan.toString()
    assert(plan.linesIterator.count(_.contains("LeftSemi")) >= 3,
      s"expected three semi-join filters:\n${plan.take(900)}")
  }

  test("bucketed tables join without a shuffle exchange") {
    val old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val df = SparkEntry.queries("sink_bucketed")(spark, TestSpark.sf)
      val plan = df.queryExecution.executedPlan.toString()
      assert(plan.contains("SortMergeJoin"), s"expected a sort-merge join:\n${plan.take(600)}")
      // bucket-aligned scans feed the join directly; the ONLY hash exchange
      // in the plan is the final 5-group aggregate above the join
      val exchanges = plan.linesIterator.count(_.contains("Exchange hashpartitioning"))
      assert(exchanges <= 1,
        s"bucketed join should not shuffle its inputs ($exchanges exchanges):\n${plan.take(1200)}")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
  }

  test("range join is an equi-join on (key, bin), never a theta/cross join") {
    val df = SparkEntry.queries("events_range")(spark, TestSpark.sf)
    val plan = df.queryExecution.optimizedPlan.toString()
    assert(!plan.contains("Join Cross") && !plan.contains("CartesianProduct"),
      s"range join planned a cross product:\n${plan.take(900)}")
    // the |Δt| predicate must be a post-join filter on an equi-join, which
    // Catalyst prints as join keys including the bin column
    assert(plan.linesIterator.exists(l => l.contains("Join Inner") && l.contains("__bin")),
      s"expected an equi-join keyed on the time bin:\n${plan.take(900)}")
  }

  test("tfidf window partitions on doc id — no global sort of the term relation") {
    val df = SparkEntry.queries("text_tfidf")(spark, TestSpark.sf)
    val plan = df.queryExecution.executedPlan.toString()
    assert(plan.contains("Window"), s"rank window missing:\n${plan.take(600)}")
    // a global Sort node outside the window's partial sort would mean the
    // whole (doc, term) relation is ordered on one timeline — wrong at scale
    val sortLines = plan.linesIterator.filter(_.trim.startsWith("+- Sort")).toSeq
    sortLines.foreach(l => assert(l.contains("id#"),
      s"sort not keyed by doc id partition: $l"))
  }

  test("unigram logprob broadcasts the single-row total") {
    val df = SparkEntry.queries("text_unigram_logprob")(spark, TestSpark.sf)
    val plan = df.queryExecution.executedPlan.toString()
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastExchange"),
      s"the corpus-total scalar must broadcast, not shuffle:\n${plan.take(900)}")
  }

  test("as-of join is a tagged-union window pass, not a range join") {
    val df = SparkEntry.queries("events_asof")(spark, TestSpark.sf)
    val plan = df.queryExecution.executedPlan.toString()
    assert(plan.contains("Window"), s"window pass not found:\n${plan.take(600)}")
    assert(!plan.contains("Join"),
      s"as-of must not plan a join (range joins explode |L|x|R| per key):\n${plan.take(900)}")
  }

  test("ngram stats top-k is a TakeOrdered over the grouped counts") {
    val df = SparkEntry.queries("text_ngram_stats")(spark, TestSpark.sf)
    val plan = df.queryExecution.executedPlan.toString()
    assert(plan.contains("TakeOrderedAndProject"),
      s"top-k must keep only k rows per partition:\n${plan.take(600)}")
  }

  test("profile_columns reads the table ONCE for all per-column stats") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    val df = SparkEntry.queries("profile_columns")(spark, TestSpark.sf)
    val plan = df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan // AQE wraps the tree
      case p => p
    }
    val scans = plan.collect { case f: FileSourceScanExec => f }
    assert(scans.length == 1,
      s"profiler must not scan per column — got ${scans.length} scans:\n" +
        plan.toString.take(800))
    // exact distincts plan through ONE Expand over that single scan
    assert(plan.toString.contains("Expand"), plan.toString.take(800))
  }

  test("Hive-layout catalog reads as ONE FileScan at high partition cardinality") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.execution.FileSourceScanExec
    import graft.sources.StaticCatalog
    // 120 partition directories: a per-tuple union would plan a 120-branch
    // union whose analysis alone dominates at real cardinality — a catalog
    // read must keep a single scan node
    val dir = java.nio.file.Files.createTempDirectory("graft_manyparts").toString
    spark.range(120)
      .select(
        col("id"),
        format_string("p%03d", col("id") % 120).as("bucket"),
        (col("id") * 7).as("v"))
      .repartition(1)
      .write.partitionBy("bucket").mode("overwrite").parquet(dir)
    val cat = StaticCatalog.overPath(spark, "many", dir)
    assert(cat.files.length == 120, s"expected 120 files, got ${cat.files.length}")
    val pruned = cat.prune(spark, Some("bucket >= 'p100'"))
    assert(pruned.length == 20)
    // every layout plans the same single scan and surfaces its values
    // literally: a Hive layout, an explicit catalog whose values appear in
    // no path, and a partition holding the null sentinel
    def assertOneScan(df: org.apache.spark.sql.DataFrame, partCol: String, files: Int,
        rows: Long, values: Set[String]): Unit = {
      val plan = df.queryExecution.executedPlan
      val scans = plan.collectLeaves().collect { case f: FileSourceScanExec => f }
      assert(scans.length == 1,
        s"expected ONE FileScan over $files files, got ${scans.length}:\n${plan.toString.take(1200)}")
      assert(!plan.toString.contains("Union"),
        s"a catalog read must not union per-tuple scans:\n${plan.toString.take(1200)}")
      // only the selected files feed the scan
      assert(df.inputFiles.length == files, s"scan reads ${df.inputFiles.length} files, want $files")
      val got = df.select(partCol).distinct().collect().map(_.getString(0)).toSet
      assert(got == values)
      assert(df.count() == rows)
    }
    assertOneScan(cat.read(spark, pruned), "bucket", 20, 20, (100 until 120).map(i => f"p$i%03d").toSet)
    val explicit = StaticCatalog.overLocalFiles(spark, "explicit", pruned.map(_.key), Seq("label"),
      pruned.zipWithIndex.map { case (f, i) => f.key -> Seq(s"label ${i % 3}") }.toMap)
    assertOneScan(explicit.read(spark, explicit.files), "label", 20, 20,
      Set("label 0", "label 1", "label 2"))
    val nullDir = java.nio.file.Files.createTempDirectory("graft_nullpart").toString
    spark.range(30)
      .select(col("id"),
        when(col("id") % 3 =!= 0, format_string("q%d", col("id") % 3)).as("bucket"),
        (col("id") * 7).as("v"))
      .repartition(1)
      .write.partitionBy("bucket").mode("overwrite").parquet(nullDir)
    val nulls = StaticCatalog.overPath(spark, "nulls", nullDir)
    assert(nulls.files.exists(_.partitionValues == Seq(graft.sources.DeltaCatalog.NullPartitionValue)))
    assertOneScan(nulls.read(spark, nulls.files), "bucket", 3, 30,
      Set(graft.sources.DeltaCatalog.NullPartitionValue, "q1", "q2"))
  }

  test("retention derives cohorts with a window over the distinct relation — no self-join") {
    val df = SparkEntry.queries("events_retention")(spark, TestSpark.sf)
    val plan = df.queryExecution.optimizedPlan.toString()
    assert(!plan.contains("Join"),
      s"cohort derivation must not self-join the activity relation:\n${plan.take(900)}")
    assert(df.queryExecution.executedPlan.toString().contains("Window"),
      "per-user first day should be a window min")
  }

  test("mixing weights: one corpus pass, scalar total via nested-loop broadcast") {
    val df = SparkEntry.queries("curate_mix")(spark, TestSpark.sf)
    val plan = df.queryExecution.executedPlan.toString()
    // the ONLY join is the single-row total attach — specifically a
    // BroadcastNestedLoopJoin (cross join of a broadcast 1-row side); any
    // other join means the corpus was re-joined to reattach its own columns
    assert(plan.contains("BroadcastNestedLoopJoin"),
      s"the scalar total must attach via nested-loop broadcast:\n${plan.take(900)}")
    val joins = plan.linesIterator.count(_.contains("Join"))
    assert(joins == 1, s"expected exactly the total-attach join, got $joins:\n${plan.take(900)}")
  }

  test("kNN self-join at production probe meets on the centroid bucket key, never a cross product") {
    val emb = Tables.load(spark, TestSpark.sf, "embeddings")
    val df = graft.operators.Similarity.knnJoin(
      emb, "vec_id", "embedding", k = 3, nCentroids = 8, nProbe = 2)
    val plan = df.queryExecution.optimizedPlan.toString()
    assert(!plan.contains("Join Cross") && !plan.contains("CartesianProduct"),
      s"kNN join planned a cross product:\n${plan.take(900)}")
    assert(plan.linesIterator.exists(l => l.contains("Join Inner") && l.contains("bucket")),
      s"expected an equi-join keyed on the centroid bucket:\n${plan.take(900)}")
    // the reduce is the bounded-heap aggregate, not a window rank
    val exec = df.queryExecution.executedPlan.toString()
    assert(exec.contains("ObjectHashAggregate") && !exec.contains("Window"),
      s"top-k must fold into k-slot heaps map-side:\n${exec.take(600)}")
  }

  test("kNN self-join at the explicit brute-force request skips the bucket machinery, keeps the heap reduce") {
    // nProbe == Int.MaxValue explicitly requests the exhaustive all-pairs
    // plan (no index build, no bucket explode/join); the top-k reduce must
    // still be the bounded-heap aggregate, never a window rank
    val df = SparkEntry.queries("ann_knn_join")(spark, TestSpark.sf)
    val plan = df.queryExecution.optimizedPlan.toString()
    assert(!plan.contains("nearest_centroids"),
      s"exhaustive probe must not pay for centroid assignment:\n${plan.take(900)}")
    val exec = df.queryExecution.executedPlan.toString()
    assert(exec.contains("ObjectHashAggregate") && !exec.contains("Window"),
      s"top-k must fold into k-slot heaps map-side:\n${exec.take(600)}")
  }

  test("per-group quality top-k folds into bounded heaps, never a window sort") {
    val df = SparkEntry.queries("curate_top_quality")(spark, TestSpark.sf)
    val exec = df.queryExecution.executedPlan.toString()
    assert(exec.contains("ObjectHashAggregate") && !exec.contains("Window"),
      s"top-k must use the k-slot heap aggregate:\n${exec.take(600)}")
  }

  test("ngram candidates come from prefix-shingle buckets, never a block cross-join") {
    val df = SparkEntry.queries("dedup_ngram")(spark, TestSpark.sf)
    val plan = df.queryExecution.optimizedPlan.toString()
    // candidate pairs are generated INSIDE (block, prefix-shingle) buckets by
    // the size-filtering kernel — an aggregation, not a join — so the only
    // acceptable joins are the id-keyed verify join-backs; a cross join or a
    // block-only equi-join would mean the prefix filter fell out of the plan
    assert(!plan.contains("Join Cross"), s"ngram planned a cross product:\n${plan.take(900)}")
    assert(plan.contains("size_filtered_pair_combinations"),
      s"candidates must come from the in-kernel size-filtered bucket pairs:\n${plan.take(900)}")
    val joins = plan.linesIterator.filter(_.contains("Join Inner")).toSeq
    assert(joins.forall(j => j.contains("id_a#") || j.contains("id_b#") || j.contains("tok#")),
      s"unexpected non-id candidate join:\n${joins.mkString("\n")}")
  }

  test("containment candidates come from a prefix-shingle equi-join, not a block cross-join") {
    val df = SparkEntry.queries("dedup_containment")(spark, TestSpark.sf)
    val plan = df.queryExecution.optimizedPlan.toString()
    assert(!plan.contains("Join Cross"),
      s"containment planned a cross product:\n${plan.take(900)}")
    val joins = plan.linesIterator.filter(_.contains("Join Inner")).toSeq
    assert(joins.exists(_.contains("tok#")),
      s"candidate join should be keyed on the prefix shingle:\n${joins.mkString("\n")}")
  }

  test("line dedup never FORCES a broadcast of the flagged-digest set") {
    // on a web crawl the at/above-minFreq digest set is unbounded (every
    // repeated boilerplate line), so the join must carry NO broadcast hint:
    // with the broadcast threshold disabled, a hint-free plan degrades to a
    // shuffle join — a forced broadcast() would ignore the threshold and
    // OOM at exactly the scale the operator exists for
    val old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val df = SparkEntry.queries("curate_line_dedup")(spark, TestSpark.sf)
      val plan = df.queryExecution.executedPlan.toString()
      assert(!plan.contains("BroadcastHashJoin"),
        s"flagged-digest join is hint-forced to broadcast:\n${plan.take(900)}")
      // per-doc reassembly sorts (pos, line) structs INSIDE the row
      assert(!plan.contains("Window"),
        s"line reassembly must not be a per-doc window sort:\n${plan.take(900)}")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    // and with the default threshold, AQE/the planner is FREE to broadcast
    // the (runtime-small) flagged side — the strategy is size-driven, not
    // hint-driven
    val df2 = SparkEntry.queries("curate_line_dedup")(spark, TestSpark.sf)
    assert(!df2.queryExecution.executedPlan.toString().contains("Window"))
  }

  test("fuzzy pairs: candidates from the variant equi-join, never a cross join") {
    val df = SparkEntry.queries("er_fuzzy_pairs")(spark, TestSpark.sf)
    val plan = df.queryExecution.optimizedPlan.toString
    assert(!plan.contains("Join Cross") && !plan.contains("CartesianProduct"),
      s"fuzzy blocking degenerated into a cross join:\n${plan.take(900)}")
  }

  test("pagerank round: equi-join + aggregate, rank vector never cross-joined or hint-broadcast") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val edges = (1L to 200L).map(i => (i, i % 50 + 1)).toDF("src", "dst")
    val e = edges.dropDuplicates("src", "dst")
    val weighted = e.groupBy(col("src")).agg(count(lit(1)).as("outd"))
      .join(e, "src")
      .select(col("src"), col("dst"), (lit(1.0) / col("outd")).as("w"))
    val nodes = e.select(col("src").as("id"))
      .union(e.select(col("dst").as("id"))).distinct()
    val ranks = nodes.select(col("id"), lit(0.005).as("r"))
    // no-dangler path: the round must be pure equi-join + aggregate
    val round0 = graft.operators.Graph.roundUpdate(
      nodes, weighted, ranks, nodes.limit(0), 0L, 200.0, 0.85, 10)
    val plan0 = round0.queryExecution.optimizedPlan.toString
    assert(!plan0.contains("Join Cross") && !plan0.contains("CartesianProduct"),
      s"pagerank round cross-joined:\n${plan0.take(900)}")
    assert(!plan0.contains("ResolvedHint"), "rank vector must not be hint-broadcast")
    // dangler path: the ONLY cross join is the 1-row mass scalar, and it
    // is the broadcast side
    val round1 = graft.operators.Graph.roundUpdate(
      nodes, weighted, ranks, nodes.limit(1), 1L, 200.0, 0.85, 10)
    val plan1 = round1.queryExecution.executedPlan.toString
    val crosses = plan1.linesIterator.count(l =>
      l.contains("BroadcastNestedLoopJoin") || l.contains("CartesianProduct"))
    assert(crosses <= 1, s"more than the scalar cross join:\n${plan1.take(900)}")
    assert(!plan1.contains("CartesianProduct"),
      "the mass scalar must broadcast, not cartesian")
  }

  test("sketch rollup: partial/final object aggregates, raw keys never re-shuffled") {
    val plan = formatted("sketch_distinct_rollup")
    // a COUNT(DISTINCT) rewrite would show an Expand; the sketch path must
    // aggregate binary sketch buffers instead (map-side partial + final)
    assert(!plan.contains("Expand"), s"distinct expansion crept in:\n${plan.take(600)}")
    val objAggs = plan.linesIterator.count(_.contains("ObjectHashAggregate"))
    assert(objAggs >= 4, s"expected split partial/final sketch aggregates, saw $objAggs")
  }

  test("triangle count: wedge and closing joins stay equi, never cartesian") {
    import spark.implicits._
    val edges = (1L to 400L).map(i => (i % 60, (i * 7) % 60)).toDF("src", "dst")
    val df = graft.operators.Graph.triangleCount(edges)
    val plan = df.queryExecution.optimizedPlan.toString
    assert(!plan.contains("Join Cross") && !plan.contains("CartesianProduct"),
      s"triangle join degenerated into a cross join:\n${plan.take(900)}")
  }

  test("q26 six-table join: no cartesian, dims broadcast, date filter pushed to the scan") {
    val df = SparkEntry.queries("q26_regional_revenue")(spark, TestSpark.sf)
    val plan = df.queryExecution.executedPlan.toString()
    assert(!plan.contains("CartesianProduct") && !plan.contains("Join Cross"),
      s"star join planned a cross product:\n${plan.take(900)}")
    assert(plan.contains("BroadcastHashJoin"),
      s"dimension joins should broadcast:\n${plan.take(900)}")
    // the pushed-filter LIST must name the date column — "PushedFilters"
    // alone prints (empty) on every scan, and o_orderdate appears in join
    // keys regardless, so each alone is vacuous
    assert(plan.linesIterator.exists(l =>
        l.contains("PushedFilters") && l.contains("o_orderdate")),
      s"the date window must reach the orders scan's pushed filters:\n${plan.take(1200)}")
  }

  test("ivfpq: probes broadcast by hint, the encoded corpus never does, no cross product") {
    // the three query-sized relations (exploded probe keys, the per-query
    // LUT rows, the rerank query vectors) are explicitly broadcast; the
    // PQ-encoded corpus and the shortlist→vector rerank join must stay
    // shuffle-side — with the threshold disabled, ONLY those hinted
    // broadcasts may remain
    val old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val df = SparkEntry.queries("ann_ivfpq")(spark, TestSpark.sf)
      val plan = df.queryExecution.executedPlan.toString()
      assert(!plan.contains("CartesianProduct") && !plan.contains("Join Cross"),
        s"PQ scoring planned a cross product:\n${plan.take(900)}")
      val nBroadcast = plan.linesIterator.count(_.contains("BroadcastExchange"))
      assert(nBroadcast <= 3,
        s"only the three query-sized broadcasts are hinted; got $nBroadcast:\n${plan.take(900)}")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
  }

  test("incremental dedup never forces a broadcast; index side joins by shuffle when large") {
    // the index buckets/sets tables are corpus-sized on a real deployment:
    // with the broadcast threshold disabled the candidate and verify joins
    // must all degrade to shuffle joins — any hint-forced broadcast here
    // would OOM at exactly the accumulated-history scale the operator
    // exists for
    val old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val df = SparkEntry.queries("dedup_incremental")(spark, TestSpark.sf)
      val plan = df.queryExecution.executedPlan.toString()
      assert(!plan.contains("BroadcastHashJoin"),
        s"index join is hint-forced to broadcast:\n${plan.take(900)}")
      assert(!plan.contains("CartesianProduct") && !plan.contains("Join Cross"),
        s"incremental dedup planned a cross product:\n${plan.take(900)}")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
  }

  test("bigram logprob derives both count tables from one stream, no cross join") {
    val df = SparkEntry.queries("text_bigram_logprob")(spark, TestSpark.sf)
    val top = df.queryExecution.optimizedPlan
    val plan = top.toString
    assert(!plan.contains("Join Cross") && !plan.contains("CartesianProduct"),
      s"bigram scoring planned a cross product:\n${plan.take(900)}")
    // every bigram row must come from the ONE persisted stream: the join
    // pipeline itself re-explodes nothing (c1 derives from the cached c2,
    // c2 from the cached stream — a second corpus pass would surface as a
    // Generate node in the top tree)
    val generates = top.collect {
      case g: org.apache.spark.sql.catalyst.plans.logical.Generate => g
    }
    assert(generates.isEmpty,
      s"join pipeline re-explodes the corpus (${generates.size} Generate nodes):\n${plan.take(1200)}")
    // exactly two distinct cached relations feed it: the stream and c2
    val cached = scala.collection.mutable.Set[Int]()
    top.foreach {
      case r: org.apache.spark.sql.execution.columnar.InMemoryRelation =>
        cached.add(System.identityHashCode(r.cacheBuilder))
      case _ =>
    }
    assert(cached.size == 2, s"expected the stream + c2 cached, got ${cached.size}")
  }

  test("correlated scalar subquery is de-correlated into an aggregate join") {
    val df = SparkEntry.queries("q23_correlated")(spark, TestSpark.sf)
    val plan = df.queryExecution.optimizedPlan.toString()
    assert(!plan.contains("scalar-subquery"),
      s"subquery must be rewritten, not re-executed per row:\n${plan.take(900)}")
    assert(plan.contains("Aggregate") && plan.contains("Join"),
      s"expected the de-correlated aggregate+join shape:\n${plan.take(900)}")
  }

  test("deterministic shuffle range-partitions the corpus, never a global single-partition sort") {
    val df = SparkEntry.queries("curate_shuffle")(spark, TestSpark.sf)
    val plan = df.queryExecution.executedPlan.toString()
    assert(plan.toLowerCase.contains("rangepartitioning"),
      s"expected a range exchange for the total order:\n${plan.take(900)}")
    // the corpus-side running-sum window (over the per-row weight __w)
    // must be keyed by __pid — an empty partition spec there would be the
    // corpus-sized single-reducer sort this operator exists to avoid (the
    // offsets branch's tiny unpartitioned window sums the aggregated __n,
    // not __w, so filtering on __w isolates the corpus window)
    val corpusWindows = plan.linesIterator
      .filter(l => l.contains("Window") && l.contains("__w")).toSeq
    assert(corpusWindows.nonEmpty && corpusWindows.forall(_.contains("__pid")),
      s"corpus running-sum window must partition by __pid:\n${corpusWindows.mkString("\n")}")
  }

  test("gopher rules are a single narrow projection — no exchange at all") {
    val df = SparkEntry.queries("curate_gopher_rules")(spark, TestSpark.sf)
    val plan = df.queryExecution.executedPlan.toString()
    assert(!plan.contains("Exchange"),
      s"rule filtering must stay map-only:\n${plan.take(600)}")
  }

  test("perplexity buckets rank per language with the distributed assembly, not a per-lang window funnel") {
    val df = SparkEntry.queries("text_ppl_bucket")(spark, TestSpark.sf)
    val plan = df.queryExecution.executedPlan.toString()
    assert(plan.toLowerCase.contains("rangepartitioning"),
      s"expected a range exchange for the per-group total order:\n${plan.take(900)}")
    // the corpus-side rank window must be keyed by (__gr_pid, lang) — a
    // lang-only partition spec would funnel each language's every document
    // through one task (the offsets branch's tiny window sums the
    // aggregated __gr_n, not row_number, so filtering isolates the rank)
    val rankWindows = plan.linesIterator
      .filter(l => l.contains("row_number()")).toSeq
    assert(rankWindows.nonEmpty && rankWindows.forall(_.contains("__gr_pid")),
      s"rank window not keyed by partition id:\n${rankWindows.mkString("\n")}")
  }

  test("range search probes broadcast onto the bucketed corpus; the reduce side is hit-sized") {
    val df = SparkEntry.queries("ann_range")(spark, TestSpark.sf)
    val plan = df.queryExecution.executedPlan.toString()
    assert(plan.contains("BroadcastHashJoin"),
      s"probed queries must broadcast onto the bucketed corpus:\n${plan.take(600)}")
    assert(!plan.contains("Window") && !plan.contains("ObjectHashAggregate"),
      s"range search needs no rank state at all:\n${plan.take(600)}")
  }

  test("exists/in subqueries plan as semi joins, never per-row re-execution") {
    val df = SparkEntry.queries("q24_exists")(spark, TestSpark.sf)
    val plan = df.queryExecution.optimizedPlan.toString()
    assert(plan.contains("LeftSemi"), s"expected semi joins:\n${plan.take(900)}")
    assert(!plan.toLowerCase.contains("exists#"),
      s"subquery survived de-correlation:\n${plan.take(900)}")
  }

  test("range-frame rolling stats: both window aggs share ONE per-user sort") {
    val df = SparkEntry.queries("q31_range_frame")(spark, TestSpark.sf)
    val plan = df.queryExecution.executedPlan.toString()
    // count + sum must land in the same Window operator over the same
    // (user_id) exchange — a second Window (or second hash exchange on
    // user_id) would double the sort cost for nothing
    assert(plan.linesIterator.count(_.contains("Window [")) == 1,
      s"expected exactly one Window operator:\n${plan.take(900)}")
    assert(
      plan.linesIterator.count(l =>
        l.contains("hashpartitioning(user_id")) == 1,
      s"expected one user_id exchange:\n${plan.take(900)}")
  }

  test("JSD drift: one token-stream exchange, totals broadcast — the corpus never shuffles twice") {
    val df = SparkEntry.queries("text_jsd_drift")(spark, TestSpark.sf)
    val top = df.queryExecution.optimizedPlan
    // the token-cell table is persisted and feeds both branches: OUTSIDE
    // the cache there must be NO aggregation keyed on the token (a
    // recompute would re-run the only corpus-sized exchange per branch) —
    // logical collect() stops at InMemoryRelation leaves, so this sees
    // exactly the outer plan
    val tokAggs = top.collect {
      case a: org.apache.spark.sql.catalyst.plans.logical.Aggregate
          if a.groupingExpressions.exists(_.toString.contains("tok")) => a
    }
    assert(tokAggs.isEmpty,
      s"token aggregation recomputed outside the shared cells cache:\n${top.toString.take(900)}")
    // both branches reference the SAME cached relation, whose physical
    // plan holds the single token-keyed exchange
    val rels = top.collect {
      case r: org.apache.spark.sql.execution.columnar.InMemoryRelation => r
    }
    assert(rels.size == 2, s"both branches must read the cells cache, got ${rels.size}")
    val cached = rels.map(_.cachedPlan.toString).toSet
    assert(cached.size == 1, "branches reference different relations")
    assert(cached.head.linesIterator
        .count(_.contains("Exchange hashpartitioning(tok")) == 1,
      s"expected exactly one token exchange inside the cells plan:\n${cached.head.take(900)}")
  }

  test("basket lift: pairs explode from collected baskets, never an items×items self-join") {
    val df = SparkEntry.queries("basket_lift")(spark, TestSpark.sf)
    // the (basket, item) table is persisted; unwrap cached subtrees so the
    // candidate pipeline is visible (the dedup-LSH test's technique)
    val top = df.queryExecution.optimizedPlan
    val sb = new StringBuilder(top.toString)
    top.foreach {
      case r: org.apache.spark.sql.execution.columnar.InMemoryRelation =>
        sb.append(r.cachedPlan.toString)
      case _ =>
    }
    val plan = sb.toString
    assert(plan.contains("pair_combinations"),
      s"pair fan-out must ride the kernel:\n${plan.take(900)}")
    assert(!plan.contains("CartesianProduct"),
      s"no cross product anywhere:\n${plan.take(900)}")
    // co-occurrence must NOT be a self-join of items on the basket key —
    // that squares on hot items; the only basket-keyed operation allowed
    // is the collect_list aggregation
    val basketJoins = plan.linesIterator.filter(l =>
      l.contains("Join") && l.contains("__bk")).toSeq
    assert(basketJoins.isEmpty,
      s"items self-joined on the basket key:\n${basketJoins.mkString("\n")}")
    assert(plan.contains("collect_list"),
      s"baskets must collapse to item lists:\n${plan.take(900)}")
  }

  test("top event paths: the leads share one per-user window; the cut is a TakeOrdered, not a global sort") {
    val df = SparkEntry.queries("events_paths")(spark, TestSpark.sf)
    val plan = df.queryExecution.executedPlan.toString()
    assert(plan.linesIterator.count(_.contains("Window [")) == 1,
      s"both leads must share one window pass:\n${plan.take(900)}")
    assert(plan.contains("TakeOrderedAndProject"),
      s"top-k must be a TakeOrdered reduce:\n${plan.take(900)}")
    assert(!plan.contains("rangepartitioning"),
      s"no global sort exchange for a k-row cut:\n${plan.take(900)}")
  }

  test("OHLC bars are one partial/final aggregate — no window over the raw stream") {
    val df = SparkEntry.queries("events_ohlc")(spark, TestSpark.sf)
    val plan = df.queryExecution.executedPlan.toString()
    assert(!plan.contains("Window ["),
      s"min_by/max_by must aggregate, not rank:\n${plan.take(900)}")
    assert(plan.linesIterator.count(_.contains("Exchange")) == 1,
      s"one grouped exchange only:\n${plan.take(900)}")
  }

  test("attribution window partitions per user; channels aggregate after the carry") {
    val df = SparkEntry.queries("events_attribution")(spark, TestSpark.sf)
    val plan = df.queryExecution.executedPlan.toString()
    assert(plan.contains("Window ["), "as-of carry is a window pass")
    assert(!plan.contains("CartesianProduct") && !plan.contains("SortMergeJoin"),
      s"tagged union, never a per-key range join:\n${plan.take(900)}")
  }

  test("RAKE top-k is a TakeOrdered; word stats re-aggregate the distinct-phrase table") {
    val df = SparkEntry.queries("text_rake")(spark, TestSpark.sf)
    val plan = df.queryExecution.executedPlan.toString()
    assert(plan.contains("TakeOrderedAndProject"),
      s"phrase cut must be a bounded reduce:\n${plan.take(900)}")
    assert(!plan.contains("Window ["),
      s"no ranking window anywhere in RAKE:\n${plan.take(900)}")
  }

  test("adamic-adar shares jaccard's discipline: hub cap below the explode, TakeOrdered cut") {
    val df = SparkEntry.queries("graph_adamic_adar")(spark, TestSpark.sf)
    val opt = df.queryExecution.optimizedPlan.toString()
    val genLine = opt.linesIterator.indexWhere(_.contains("Generate"))
    val filtLine = opt.linesIterator.indexWhere(l =>
      l.contains("Filter") && l.contains("size"))
    assert(genLine >= 0 && filtLine > genLine,
      s"size filter must sit below Generate:\n$opt")
    val plan = df.queryExecution.executedPlan.toString()
    assert(plan.contains("TakeOrderedAndProject"), plan.take(600))
  }

  test("covariance pairs expand in-plan (Generate), never via a per-row self-join") {
    val df = SparkEntry.queries("embed_covariance")(spark, TestSpark.sf)
    val plan = df.queryExecution.executedPlan.toString()
    assert(plan.contains("Generate"), s"lambda explode expected:\n${plan.take(900)}")
    // the only joins are the two dim-cardinality mean join-backs
    assert(!plan.contains("CartesianProduct"),
      s"no cross join in the covariance path:\n${plan.take(900)}")
  }

  test("snapshot diff: both sides project to (key, hash) before the one full-outer exchange") {
    val df = SparkEntry.queries("reconcile_diff")(spark, TestSpark.sf)
    val opt = df.queryExecution.optimizedPlan.toString()
    assert(opt.contains("FullOuter"), s"diff must be a full outer join:\n${opt.take(900)}")
    assert(opt.contains("xxhash64"), s"content compare must be hashed:\n${opt.take(900)}")
    // no wide payload columns may reach the join: the joined relations
    // carry only the key and the two hash columns
    val joinLine = opt.linesIterator.find(_.contains("FullOuter")).get
    assert(!joinLine.contains("o_totalprice") && !joinLine.contains("o_orderstatus"),
      s"compare columns leaked past the hash projection:\n$joinLine")
  }

  test("trigram join: candidates from the prefix-gram equi-join, verified by the sorted-merge kernel") {
    val df = SparkEntry.queries("er_trigram_join")(spark, TestSpark.sf)
    val top = df.queryExecution.optimizedPlan
    val sb = new StringBuilder(top.toString)
    top.foreach {
      case r: org.apache.spark.sql.execution.columnar.InMemoryRelation =>
        sb.append(r.cachedPlan.toString)
      case _ =>
    }
    val plan = sb.toString
    assert(!plan.contains("CartesianProduct"),
      s"no cross product anywhere:\n${plan.take(900)}")
    assert(plan.contains("sorted_intersect_count"),
      s"verification must ride the merge kernel:\n${plan.take(900)}")
    assert(!plan.contains("levenshtein"),
      s"no quadratic string compare in the trigram path:\n${plan.take(900)}")
  }

  test("RRF fusion: both retrieval lists cut before the union; fuse output is a TakeOrdered") {
    val df = SparkEntry.queries("ann_rrf_hybrid")(spark, TestSpark.sf)
    val plan = df.queryExecution.executedPlan.toString()
    assert(plan.contains("TakeOrderedAndProject"),
      s"final top-k must be a bounded reduce:\n${plan.take(900)}")
    assert(plan.contains("Union"), s"rank lists must union, not join:\n${plan.take(900)}")
    assert(!plan.contains("CartesianProduct") || plan.contains("BroadcastNestedLoopJoin"),
      s"only the broadcast query-vector product is allowed:\n${plan.take(900)}")
  }

  test("rank normalize: prefix sums over the range-partitioned COUNT table, not a corpus window") {
    val df = SparkEntry.queries("curate_rank_normalize")(spark, TestSpark.sf)
    val plan = df.queryExecution.executedPlan.toString()
    assert(plan.contains("rangepartitioning"),
      s"count table must range-partition:\n${plan.take(900)}")
    // the only unpartitioned window may run over partition ids (offsets,
    // #partitions rows) — never over the value or row stream
    val globalWins = plan.linesIterator.filter(l =>
      l.contains("Window [") && !l.contains("__rn_pid,")).toSeq
    assert(globalWins.forall(_.contains("__rn_pid")),
      s"window over more than the offset table:\n${globalWins.mkString("\n")}")
  }

  test("gini: integer moments from the count-of-counts table; one row out") {
    val df = SparkEntry.queries("profile_gini")(spark, TestSpark.sf)
    val plan = df.queryExecution.executedPlan.toString()
    assert(plan.contains("rangepartitioning"), plan.take(600))
    assert(!plan.contains("CartesianProduct"), plan.take(600))
    assert(df.count() == 1)
  }

  test("rolling sketch series: cells explode to trailing days — no range join, no BNLJ") {
    for (name <- Seq("sketch_rolling_distinct", "sketch_rolling_quantiles")) {
      val df = SparkEntry.queries(name)(spark, TestSpark.sf)
      val plan = df.queryExecution.executedPlan.toString()
      assert(!plan.contains("BroadcastNestedLoopJoin") &&
        !plan.contains("CartesianProduct"),
        s"$name must not pay a range join:\n${plan.take(900)}")
      assert(plan.contains("Generate"),
        s"$name should fan cells out via explode:\n${plan.take(900)}")
    }
  }

  test("peak concurrency: per-day window over user-day deltas, never the raw event stream") {
    val df = SparkEntry.queries("events_concurrency")(spark, TestSpark.sf)
    val plan = df.queryExecution.executedPlan.toString()
    val winLine = plan.linesIterator.find(_.contains("Window [")).getOrElse("")
    assert(winLine.contains("day"), s"sweep must partition by day:\n$winLine")
    // aggregate-first: the min/max interval aggregation sits below the window
    assert(plan.contains("partial_min") || plan.contains("min("),
      s"intervals must pre-aggregate below the sweep:\n${plan.take(900)}")
  }

}
