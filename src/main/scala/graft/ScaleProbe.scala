package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.{Dedup, PipelineCache}

/** Scale probe: measures how LSH candidate-pair counts and the
  * connected-components pipeline behave at 10× the input, using corpora
  * that grow the INDEX without planting quadratic true-duplicate structure
  * (each replica perturbs every token / rotates every vector, so replicas
  * are mutually dissimilar — growth beyond ~scale× then measures real
  * bucket-collision blowup, which is exactly the 100 TB failure mode).
  *
  * Prints one JSON line per measurement:
  *   {"probe":"simhash_candidates","scale":10,"value":N,"seconds":S}
  * Sub-quadratic health = value(10×) ≲ ~10-20 × value(1×); clusters round
  * count must not grow with scale.
  */
object ScaleProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.local()
    graft.functions.GraftFunctions.registerAll(spark)

    val docs = Tables.load(spark, sfDir, "documents").select("doc_id", "text")
    val emb = Tables.load(spark, sfDir, "embeddings").select("vec_id", "embedding")
    val idStride = 100000000L

    // replica i: every token suffixed with the copy index — every shingle
    // (and so every simhash/minhash signature) differs from every other copy
    def docsX(k: Int): DataFrame =
      (0 until k).map { i =>
        if (i == 0) docs
        else docs.select(
          (col("doc_id") + lit(i * idStride)).as("doc_id"),
          array_join(transform(split(col("text"), " "),
            w => concat(w, lit(s"_$i"))), " ").as("text"))
      }.reduce(_.unionAll(_))

    // replica i: vector rotated by i dims — near-orthogonal to the original
    def embX(k: Int): DataFrame =
      (0 until k).map { i =>
        if (i == 0) emb
        else emb.select(
          (col("vec_id") + lit(i * idStride)).as("vec_id"),
          concat(slice(col("embedding"), i + 1, 64 - i),
            slice(col("embedding"), 1, i)).as("embedding"))
      }.reduce(_.unionAll(_))

    // every line carries the 1-minute load average AT MEASUREMENT TIME:
    // a wall ratio read off two lines is only meaningful when both ran on
    // a comparably loaded host, and r7 proved the artifact can't say so
    // after the fact (committed walls up to 29.7x re-measured at 1.43x on
    // a quiet host)
    // each row's loadavg is sampled at the START of its measurement:
    // sampling at report time (r9) read the probe's OWN just-finished
    // 32-thread wake as if it were ambient load — rows looked
    // contaminated on a quiet host. Start-sampling plus the late-pass
    // settle below makes "was the host quiet" answerable per row.
    var measureStartLoad: Double = Calibration.loadAvg()
    def report(probe: String, scale: Int, value: Long, secs: Double): Unit =
      println(f"""{"probe":"$probe","scale":$scale,"value":$value,"seconds":$secs%.2f,"loadavg":$measureStartLoad%.2f}""")

    def timed[A](body: => A): (A, Double) = {
      measureStartLoad = Calibration.loadAvg()
      val t0 = System.nanoTime()
      val r = body
      (r, (System.nanoTime() - t0) / 1e9)
    }

    // the shared fixed-size job (graft.Calibration — ONE definition keeps
    // Bench and ScaleProbe ratios comparable); untimed warm-up first: the
    // session's first Spark job carries JIT + codegen warm-up (measured
    // 5×), which would contaminate the scale-1 calibration and make the
    // calibration RATIO itself misleading
    Calibration.job(spark)

    for (scale <- Seq(1, 10)) {
      // fixed-size calibration: IDENTICAL work in both scale passes, so a
      // probe ratio can be divided by the calibration ratio to separate
      // real scaling from host-load contamination inside the artifact
      val (_, calSecs) = timed(Calibration.job(spark))
      report("calibration_fixed", scale, 50000000L, calSecs)
      val d = docsX(scale)
      val e = embX(scale)
      val n = d.count()

      // simhash: candidate pairs out of the corpus-sized banding
      val (simCands, simSecs) = timed {
        val sig = Dedup.simhashSignatures(d, "doc_id", "text", 3)
        Dedup.bucketPairs(Dedup.simhashBuckets(sig, 3, n), Seq("band", "bucket")).count()
      }
      report("simhash_candidates", scale, simCands, simSecs)

      // embeddings: candidate pairs out of the corpus-sized sign sketch
      val (embCands, embSecs) = timed {
        val vecs = e.select(col("vec_id").as("id"), col("embedding").as("v"))
        val nv = vecs.count()
        val (bits, tbls) = Dedup.embedSketchSize(nv, 0.95, 32, 8)
        Dedup.bucketPairs(Dedup.embedBuckets(vecs, 64, tbls, bits), Seq("tbl", "bucket")).count()
      }
      report("embed_candidates", scale, embCands, embSecs)

      // dedup_clusters end-to-end: minhash pairs -> CC rounds
      val (_, clSecs) = timed {
        val pairs = Dedup.minhashPairs(d, "doc_id", "text", threshold = 0.8)
        // cutoff 0: the probe measures the DISTRIBUTED loop's round
        // scaling; the small-graph driver fast path would report 0 rounds
        val (labels, rounds) =
          Dedup.connectedComponentsWithRounds(pairs, localEdgeCutoff = 0)
        report("clusters_rounds", scale, rounds.toLong, 0.0)
        report("clusters_labels", scale, labels.count(), 0.0)
      }
      report("clusters_seconds", scale, n, clSecs)

      // planted chain graph (worst-case CC diameter): a path of
      // 1000×scale nodes. Star-contraction CC must converge in
      // ~log2(diameter) rounds — min-LABEL propagation would need
      // diameter rounds, which is exactly the er_resolve scale-killer.
      // Healthy: rounds(10×) − rounds(1×) ≈ log2(10) ≈ 3, never ~9000.
      val chainLen = 1000L * scale
      val (chRounds, chSecs) = timed {
        val chain = spark.range(1L, chainLen)
          .select(col("id").as("id_a"), (col("id") + 1L).as("id_b"))
        val (labels, rounds) = Dedup.connectedComponentsWithRounds(
          chain, maxIterations = 64, localEdgeCutoff = 0)
        // one component labeled by the chain head
        require(labels.agg(countDistinct(col("comp"))).collect()(0).getLong(0) == 1L)
        rounds
      }
      report("chain_cc_rounds", scale, chRounds.toLong, chSecs)

      // asymmetric containment within hash blocks: replicas are mutually
      // dissimilar, so verified pairs must scale ~linearly with the corpus
      // (each replica contributes its own within-replica structure) and
      // wall time tracks rare-shingle document frequency, never block²
      val (ctPairs, ctSecs) = timed {
        Dedup.containmentPairs(
          d.withColumn("blk", pmod(col("doc_id"), lit(10L))),
          "doc_id", "text", "blk", n = 2, threshold = 0.8).count()
      }
      report("containment_verified", scale, ctPairs, ctSecs)

      // bipartite cross-corpus near-dup check: the "eval" side stays FIXED
      // (the 1× corpus) while the train side grows — candidate volume must
      // track train-side bucket hits against the fixed side, never the
      // train side's internal duplicate structure
      val (xcands, xSecs) = timed {
        Dedup.crossMinhashPairs(d, docs, "doc_id", "text", threshold = 0.8).count()
      }
      report("cross_minhash_verified", scale, xcands, xSecs)

      // kNN self-join at the PRODUCTION setting: corpus-sized index
      // (nlist ≈ √n) and the default √nlist probe — per-bucket work ≈ √n,
      // so wall time should grow ~n^1.25, not the n² of a fixed nlist
      val (knnRows, knnSecs) = timed {
        graft.operators.Similarity.knnJoin(e.select(col("vec_id"), col("embedding")),
          "vec_id", "embedding", k = 3).count()
      }
      report("knn_join_rows", scale, knnRows, knnSecs)

      // kNN self-join on a CLUSTERED corpus — the rotated replicas above
      // are mutually DISSIMILAR (the optimistic case for IVF); a real
      // near-duplicate-heavy corpus packs whole clusters into single
      // buckets. Replica i here is a tiny deterministic perturbation of
      // the original (+0.0004·i per element), so all k copies of a vector
      // stay near-duplicates of each other and land in one bucket — the
      // k× occupancy packing that made the sf1 bench fixture breach its
      // bound. Production knnJoin must hold ~scale^1.5 of its pair work
      // here via the occupancy salt-split; max occupancy is reported so
      // the packing factor itself is in the artifact.
      def embClustered(k: Int): DataFrame =
        (0 until k).map { i =>
          if (i == 0) emb
          else emb.select(
            (col("vec_id") + lit(i * idStride)).as("vec_id"),
            transform(col("embedding"),
              x => x + lit(0.0004 * i)).as("embedding"))
        }.reduce(_.unionAll(_))
      val ec = embClustered(scale).select(col("vec_id"), col("embedding"))
      val (knnCRows, knnCSecs) = timed {
        graft.operators.Similarity.knnJoin(ec, "vec_id", "embedding", k = 3).count()
      }
      report("knn_join_clustered_rows", scale, knnCRows, knnCSecs)
      val occ = graft.operators.Similarity.ivfBucketOccupancy(
        graft.operators.Similarity.ivfAssignments(ec, "vec_id", "embedding"))
      report("knn_clustered_max_occupancy", scale, occ.map(_._2).max, 0.0)
      report("knn_clustered_avg_occupancy", scale,
        occ.map(_._2).sum / math.max(1, occ.length), 0.0)

      // Delta snapshot-replay driver bound: a synthetic checkpoint with
      // 10^5·scale add entries (realistic ~120 B stats JSON each — the
      // shape of a 10^6-file lakehouse table at scale 10). Replay wall
      // and the RETAINED driver heap must track the live-file count; the
      // heap row IS the documented cost of Spark's driver-resident file
      // index at this table size (DeltaCatalog.replay scaladoc).
      val repDir = java.nio.file.Files
        .createTempDirectory(s"graft_probe_replay_$scale").toString
      val nAdds = 100000L * scale
      locally {
        val logDir = new java.io.File(s"$repDir/_delta_log")
        logDir.mkdirs()
        val stage = s"$repDir/.cp_stage"
        spark.range(nAdds).selectExpr(
          """named_struct(
            |  'path', concat('part-', lpad(cast(id as string), 10, '0'), '.parquet'),
            |  'size', 1048576L + id % 1000,
            |  'partitionValues', cast(map() as map<string,string>),
            |  'stats', concat('{"numRecords":1000,"minValues":{"id":',
            |    cast(id*1000 as string), '},"maxValues":{"id":',
            |    cast(id*1000+999 as string), '},"nullCount":{"id":0}}')
            |) AS add""".stripMargin)
          .coalesce(1).write.parquet(stage)
        val part = new java.io.File(stage).listFiles()
          .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).get
        java.nio.file.Files.move(part.toPath,
          new java.io.File(logDir, "00000000000000000000.checkpoint.parquet").toPath)
        val schemaJson = org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("id",
            org.apache.spark.sql.types.LongType))).json
        java.nio.file.Files.writeString(
          new java.io.File(logDir, "00000000000000000001.json").toPath,
          """{"protocol":{"minReaderVersion":1,"minWriterVersion":2}}""" + "\n" +
            s"""{"metaData":{"id":"probe","format":{"provider":"parquet"},"schemaString":${
              org.json4s.jackson.JsonMethods.compact(
                org.json4s.jackson.JsonMethods.render(
                  org.json4s.JString(schemaJson)))},"partitionColumns":[]}}""" + "\n")
        java.nio.file.Files.writeString(
          new java.io.File(logDir, "_last_checkpoint").toPath,
          s"""{"version":0,"size":$nAdds}""" + "\n")
      }
      def usedHeap(): Long = {
        System.gc(); Thread.sleep(200); System.gc(); Thread.sleep(100)
        Runtime.getRuntime.totalMemory - Runtime.getRuntime.freeMemory
      }
      val h0 = usedHeap()
      val (replayCat, repSecs) = timed {
        graft.sources.DeltaCatalog.fromDeltaLog(spark, repDir, s"probe_replay_$scale")
      }
      val h1 = usedHeap() // replayCat still referenced: retained state
      require(replayCat.files.size.toLong == nAdds,
        s"replay fixture drift: ${replayCat.files.size} != $nAdds")
      report("replay_adds_wall", scale, nAdds, repSecs)
      report("replay_retained_mb", scale,
        math.max(0L, (h1 - h0) / (1024 * 1024)), 0.0)

      // streaming-tail steady-state driver cost: the tail pins ONE
      // snapshot at stream start, then per trigger reads ONLY the new
      // commit JSONs (incremental metaData fold + a files-supplied
      // catalog) — so per-trigger wall must be FLAT across table size
      // while replay_adds_wall above grows linearly (2.1 s → 17.9 s at
      // 10⁵ → 10⁶ adds; pre-r11 getBatch paid that PER TRIGGER). Source
      // constructed against the nAdds-file fixture BEFORE the tail
      // commits land, exactly a live stream's shape; 3 one-file commits
      // then tail one per trigger.
      locally {
        val tailSrc = new graft.streaming.DeltaTailSource(
          spark, repDir, Map("startingVersion" -> "2", "maxFilesPerTrigger" -> "1"))
        val factStage = s"$repDir/.tail_fact_stage"
        spark.range(10).toDF("id").coalesce(1).write.parquet(factStage)
        val factSrc = new java.io.File(factStage).listFiles()
          .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).get
        (0 until 3).foreach { i =>
          val dest = new java.io.File(repDir, s"tail-fact-$i.parquet")
          java.nio.file.Files.copy(factSrc.toPath, dest.toPath)
          graft.DeltaLogFixtures.writeAdd(
            repDir, 2L + i, s"tail-fact-$i.parquet", dest.length)
        }
        val (_, tailSecs) = timed {
          var prev: Option[org.apache.spark.sql.execution.streaming.Offset] = None
          (0 until 3).foreach { _ =>
            val off = tailSrc.getOffset.get
            val batch = tailSrc.getBatch(prev, off)
            require(batch.schema.fieldNames.contains("id"),
              s"tail batch schema drift: ${batch.schema.fieldNames.mkString(",")}")
            prev = Some(off)
          }
        }
        report("tail_trigger_wall", scale, 3, tailSecs)
      }

      // streaming change feed steady-state driver cost: same contract as
      // the tail — the source seeds its feed state from the pin's
      // memoized replay at construction, then per trigger folds ONLY the
      // new commit JSONs into it, so per-trigger wall must be FLAT across
      // table size (replay_adds_wall above is what a rebase would cost).
      // Constructed at the post-tail head, then 3 fresh one-file commits
      // tail one per trigger.
      locally {
        val cdfSrc = new graft.streaming.DeltaCdfSource(
          spark, repDir, Map("startingVersion" -> "5", "maxFilesPerTrigger" -> "1"))
        val factStage = s"$repDir/.tail_fact_stage"
        val factSrc = new java.io.File(factStage).listFiles()
          .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).get
        (0 until 3).foreach { i =>
          val dest = new java.io.File(repDir, s"cdf-fact-$i.parquet")
          java.nio.file.Files.copy(factSrc.toPath, dest.toPath)
          graft.DeltaLogFixtures.writeAdd(
            repDir, 5L + i, s"cdf-fact-$i.parquet", dest.length)
        }
        val (_, cdfSecs) = timed {
          var prev: Option[org.apache.spark.sql.execution.streaming.Offset] = None
          (0 until 3).foreach { _ =>
            val off = cdfSrc.getOffset.get
            val batch = cdfSrc.getBatch(prev, off)
            require(batch.schema.fieldNames.contains("_change_type"),
              s"cdf batch schema drift: ${batch.schema.fieldNames.mkString(",")}")
            prev = Some(off)
          }
        }
        report("cdf_trigger_wall", scale, 3, cdfSecs)
      }

      // CDC feed plan width under replication lag: a replica catching up
      // over N small commits must plan a BOUNDED-width feed (runs, not
      // commits, are the relation unit — r11 built one union leaf per
      // commit, a super-linear driver analysis stall at high lag). Rows:
      // feed wall + leaf count at a 10-commit and a 1000-one-file-commit
      // span (the `scale` field carries the SPAN LENGTH), then a full
      // replicate catch-up over the 1000-commit lag. Healthy: leaves flat
      // (~2-3 at both spans), wall ~linear in span (tail IO + scan, never
      // analysis-quadratic), replicate converges in seconds. Run once —
      // span length, not corpus scale, is this probe's variable.
      if (scale == 1) locally {
        val lagSrc = java.nio.file.Files
          .createTempDirectory("graft_probe_lag_src").toString
        val lagDst = java.nio.file.Files
          .createTempDirectory("graft_probe_lag_dst").toString + "/replica"
        graft.operators.Sinks.deltaAppend(
          spark.range(10).select(col("id"), (col("id") * 2).as("v"))
            .coalesce(1), lagSrc)
        graft.operators.Sinks.deltaReplicate(spark, lagSrc, lagDst, "id")
        val part = new java.io.File(lagSrc).listFiles()
          .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).get
        (1 to 1000).foreach { i =>
          val dest = new java.io.File(lagSrc, s"c-$i.parquet")
          java.nio.file.Files.copy(part.toPath, dest.toPath)
          graft.DeltaLogFixtures.writeAdd(
            lagSrc, i.toLong, s"c-$i.parquet", dest.length)
        }
        for (span <- Seq(10, 1000)) {
          graft.operators.Sinks.invalidateCommitParseCache()
          val (leaves, spanSecs) = timed {
            val feed = graft.operators.Sinks.deltaChangeFeed(
              spark, lagSrc, 0L, span.toLong)
            require(feed.count() == 10L * span,
              s"span feed drift at $span")
            feed.queryExecution.optimizedPlan.collectLeaves().size.toLong
          }
          report("feed_span_plan_wall", span, leaves, spanSecs)
        }
        graft.operators.Sinks.invalidateCommitParseCache()
        val (dstRows, replSecs) = timed {
          graft.operators.Sinks.deltaReplicate(spark, lagSrc, lagDst, "id")
          val cat = graft.sources.DeltaCatalog.fromDeltaLog(
            spark, lagDst, "lag_dst_read")
          cat.read(spark, cat.files).count()
        }
        require(dstRows == 10L, s"lag replicate drift: $dstRows rows")
        report("replicate_lag_wall", 1000, dstRows, replSecs)

        // the ALTERNATING history — the shape that defeated r12's
        // CONTIGUOUS run-grouping (one plan leaf per commit): 1000
        // commits strictly alternating add / remove. Non-contiguous
        // (era, kind) grouping must plan the same handful of leaves as
        // the same-kind span above, wall ~linear in span. Each added
        // file carries DISTINCT ids, so the net feed over the span is
        // pure no-op deletes and the replica converges to its bootstrap
        // rows — key discipline holds end to end.
        val altSrc = java.nio.file.Files
          .createTempDirectory("graft_probe_alt_src").toString
        val altDst = java.nio.file.Files
          .createTempDirectory("graft_probe_alt_dst").toString + "/replica"
        graft.operators.Sinks.deltaAppend(
          spark.range(10).select(col("id"), (col("id") * 2).as("v"))
            .coalesce(1), altSrc)
        graft.operators.Sinks.deltaReplicate(spark, altSrc, altDst, "id")
        val altStage = java.nio.file.Files
          .createTempDirectory("graft_probe_alt_stage").toString
        spark.range(1000000L, 1005000L)
          .select(col("id"), (col("id") * 2).as("v"))
          .repartition(500).write.mode("overwrite").parquet(altStage)
        val altParts = new java.io.File(altStage).listFiles()
          .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
          .sortBy(_.getName)
        require(altParts.length == 500, s"alt stage wrote ${altParts.length} files")
        altParts.zipWithIndex.foreach { case (p, k) =>
          val dest = new java.io.File(altSrc, s"alt-$k.parquet")
          java.nio.file.Files.copy(p.toPath, dest.toPath)
          graft.DeltaLogFixtures.writeAdd(
            altSrc, 2L * k + 1, s"alt-$k.parquet", dest.length)
          graft.DeltaLogFixtures.writeRemove(altSrc, 2L * k + 2, s"alt-$k.parquet")
        }
        graft.operators.Sinks.invalidateCommitParseCache()
        val (altLeaves, altSecs) = timed {
          val feed = graft.operators.Sinks.deltaChangeFeed(
            spark, altSrc, 0L, 1000L)
          require(feed.count() == 10000L, "alternating span feed drift")
          feed.queryExecution.optimizedPlan.collectLeaves().size.toLong
        }
        // healthy: ~4 (2 runs x [FileScan + broadcast version map]) at a
        // 1000-commit alternating span — r12 planned ~1000 here
        report("feed_alt_span_plan_wall", 1000, altLeaves, altSecs)
        graft.operators.Sinks.invalidateCommitParseCache()
        val (altDstRows, altReplSecs) = timed {
          val rep = graft.operators.Sinks.deltaReplicateReport(
            spark, altSrc, altDst, Seq("id"))
          require(rep.versions == 1000L && rep.rowsNetted == 5000L,
            s"alternating replicate drift: ${rep.versions} versions, " +
              s"${rep.rowsNetted} netted")
          val cat = graft.sources.DeltaCatalog.fromDeltaLog(
            spark, altDst, "alt_dst_read")
          cat.read(spark, cat.files).count()
        }
        require(altDstRows == 10L, s"alternating replicate drift: $altDstRows rows")
        report("replicate_alt_lag_wall", 1000, altDstRows, altReplSecs)

        // the PING-PONG history — r13's named residual: ONE path added /
        // removed alternately for 1000 commits (repeated RESTOREs between
        // two versions are the protocol-legal writer of this shape).
        // Pre-aliasing this planned one generation per OCCURRENCE (~N/2
        // relations per kind: 200 leaves and 9.6 s at span 100; span 200
        // did not finish in 9 minutes). Per-occurrence aliasing reads the
        // file once per kind and explodes its version labels — healthy:
        // 4 leaves (2 runs x [FileScan + version map]) and wall flat in
        // span, with every occurrence labeled (500 x 10 rows per kind).
        val ppSrc = java.nio.file.Files
          .createTempDirectory("graft_probe_pp_src").toString
        val ppDst = java.nio.file.Files
          .createTempDirectory("graft_probe_pp_dst").toString + "/replica"
        graft.operators.Sinks.deltaAppend(
          spark.range(10).select(col("id"), (col("id") * 2).as("v"))
            .coalesce(1), ppSrc)
        graft.operators.Sinks.deltaReplicate(spark, ppSrc, ppDst, "id")
        val ppStage = java.nio.file.Files
          .createTempDirectory("graft_probe_pp_stage").toString
        spark.range(100L, 110L).select(col("id"), (col("id") * 2).as("v"))
          .coalesce(1).write.mode("overwrite").parquet(ppStage)
        val ppPart = new java.io.File(ppStage).listFiles()
          .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).get
        val ppDest = new java.io.File(ppSrc, "pp.parquet")
        java.nio.file.Files.copy(ppPart.toPath, ppDest.toPath)
        (1 to 500).foreach { k =>
          graft.DeltaLogFixtures.writeAdd(
            ppSrc, 2L * k - 1, "pp.parquet", ppDest.length)
          graft.DeltaLogFixtures.writeRemove(ppSrc, 2L * k, "pp.parquet")
        }
        graft.operators.Sinks.invalidateCommitParseCache()
        val (ppLeaves, ppSecs) = timed {
          val feed = graft.operators.Sinks.deltaChangeFeed(
            spark, ppSrc, 0L, 1000L)
          require(feed.count() == 10000L, "ping-pong span feed drift")
          feed.queryExecution.optimizedPlan.collectLeaves().size.toLong
        }
        report("feed_pingpong_plan_wall", 1000, ppLeaves, ppSecs)
        graft.operators.Sinks.invalidateCommitParseCache()
        val (ppDstRows, ppReplSecs) = timed {
          val rep = graft.operators.Sinks.deltaReplicateReport(
            spark, ppSrc, ppDst, Seq("id"))
          require(rep.versions == 1000L && rep.rowsNetted == 10L,
            s"ping-pong replicate drift: ${rep.versions} versions, " +
              s"${rep.rowsNetted} netted")
          val cat = graft.sources.DeltaCatalog.fromDeltaLog(
            spark, ppDst, "pp_dst_read")
          cat.read(spark, cat.files).count()
        }
        require(ppDstRows == 10L, s"ping-pong replicate drift: $ppDstRows rows")
        report("replicate_pingpong_lag_wall", 1000, ppDstRows, ppReplSecs)
      }

      // radius search at the PRODUCTION setting against a FIXED query set:
      // the probed fraction of the corpus shrinks as the index grows
      // (√nlist of nlist ≈ √n buckets), so scanned work per query grows
      // ~√n and wall time must stay well under the 10× of a full scan;
      // hits track the fixed queries' true neighborhoods
      val (rsHits, rsSecs) = timed {
        graft.operators.Similarity.rangeSearch(
          e.select(col("vec_id"), col("embedding")), "vec_id", "embedding",
          e.filter(col("vec_id") < 10), "vec_id", "embedding",
          threshold = 0.3).count()
      }
      report("range_search_hits", scale, rsHits, rsSecs)

      // distributed grouped rank (the perplexity-bucket assembly): wall
      // time must track the corpus ~linearly — parallelism is
      // #partitions × #groups, never #groups tasks doing everything.
      // Group = a synthetic 5-way split of the replicated ids (the replicas
      // carry only id+text); max rank must equal the largest group size
      val (grMax, grSecs) = timed {
        graft.operators.OpProbe.groupedRankMax(
          d.select(col("doc_id"), pmod(col("doc_id"), lit(5L)).as("grp"),
            length(col("text")).as("ord")))
      }
      report("grouped_rank_max", scale, grMax, grSecs)

      // corpus-level line dedup (token-per-line stress): the flagged-digest
      // side grows WITH the corpus (each replica's boilerplate is distinct
      // by construction), exactly the regime where a forced broadcast dies —
      // the unhinted join must keep wall time ~linear and dropped-line
      // volume ~scale×
      val (ldDropped, ldSecs) = timed {
        graft.operators.Curation.dedupLines(d, "doc_id", "text", sep = " ")
          .agg(coalesce(sum(col("n_lines") - col("n_lines_kept")), lit(0L)))
          .collect()(0).getLong(0)
      }
      report("line_dedup_dropped", scale, ldDropped, ldSecs)

      // incremental dedup: index over the k×-corpus, FIXED probe shard (the
      // 1× docs). Replicas are mutually dissimilar, so verified hits must be
      // IDENTICAL at both scales (only the shard's true matches inside
      // replica 0 fire); index build cost tracks the corpus, and the query
      // cost tracks the shard's bucket collisions — never the index size²
      val idxDir = java.nio.file.Files
        .createTempDirectory(s"graft_probe_idx_$scale").toString
      val (_, idxBuildSecs) = timed {
        Dedup.saveMinhashIndex(d, "doc_id", "text", idxDir)
      }
      report("index_build_docs", scale, n, idxBuildSecs)
      val (incHits, incSecs) = timed {
        // the params-file path: queries with exactly the build parameters
        Dedup.dedupAgainstSavedIndex(spark, docs, "doc_id", "text", idxDir).count()
      }
      report("index_query_hits", scale, incHits, incSecs)

      // ANN saved-index APPEND: IVF index over the k×-corpus, then a FIXED
      // 1× shard appended against the PINNED saved centroids. Append cost
      // is shard × nlist assignment + a shard-sized bucket-partitioned
      // write — the index is never read or rewritten — so wall must track
      // the shard (at most × √k through nlist ≈ √(kn)), never the corpus;
      // the reported value (appended rows) is identical at every scale
      val annIdxDir = java.nio.file.Files
        .createTempDirectory(s"graft_probe_annidx_$scale").toString
      graft.operators.Similarity.saveIvfIndex(
        e.select(col("vec_id"), col("embedding")), "vec_id", "embedding", annIdxDir)
      val shard = emb.select(
        (col("vec_id") + lit(20L * idStride)).as("vec_id"), col("embedding"))
      val (apRows, apSecs) = timed {
        graft.operators.Similarity.appendToIvfIndex(
          shard, "vec_id", "embedding", annIdxDir)
        shard.count()
      }
      report("ann_append_rows", scale, apRows, apSecs)

      // Delta MERGE copy-on-write: the table is k×, the change set is
      // FIXED (replica-0 keys only), and files are range-clustered on the
      // key — the log's add.stats must prune the rewrite to the ~8 files
      // that hold replica 0, so rewritten-file count and wall stay ~flat
      // while the table grows 10×. That pruning IS the primitive's 100 TB
      // claim; without it every merge is a table rewrite.
      val mgDir = java.nio.file.Files
        .createTempDirectory(s"graft_probe_merge_$scale").toString
      val mgTbl = d.select(col("doc_id"),
          length(col("text")).cast("long").as("n_chars"))
        .repartitionByRange(8 * scale, col("doc_id"))
        .sortWithinPartitions("doc_id")
      graft.operators.Sinks.deltaAppend(mgTbl, mgDir)
      val mgChanges = docs
        .filter(pmod(col("doc_id"), lit(100L)) === 0)
        .select(col("doc_id"), lit(1L).as("n_chars"))
      val mgPre = graft.sources.DeltaCatalog.fromDeltaLog(spark, mgDir, "mg_pre")
        .files.map(_.key).toSet
      val (mgRewritten, mgSecs) = timed {
        graft.operators.Sinks.deltaMerge(spark, mgDir, mgChanges, "doc_id")
        val post = graft.sources.DeltaCatalog.fromDeltaLog(spark, mgDir, "mg_post")
          .files.map(_.key).toSet
        (mgPre -- post).size.toLong
      }
      report("merge_files_rewritten", scale, mgRewritten, mgSecs)

      // merge-on-read DELETE (deletion vectors) over the SAME table: a
      // fixed doc_id range deletes the same rows at every scale. Zone
      // pruning bounds the candidate read to the ~8 intersecting files
      // and the sidecar write to the matches, so wall must stay ~flat
      // while the table grows 10× — the no-rewrite primitive's 100 TB
      // claim. Value = rows actually gone (fixed across scales).
      val (dvGone, dvSecs) = timed {
        graft.operators.Sinks.deltaDeleteVectors(
          spark, mgDir, "doc_id BETWEEN 100 AND 399")
        val cat = graft.sources.DeltaCatalog.fromDeltaLog(spark, mgDir, "dv_probe")
        val live = cat.read(spark, cat.files)
          .filter(col("doc_id").between(100L, 399L)).count()
        val total = docs.filter(col("doc_id").between(100L, 399L)).count()
        total - live
      }
      report("dv_delete_rows", scale, dvGone, dvSecs)

      // shallow clone of the same table: zero data IO, O(#files) metadata
      // — wall tracks file count (8×scale here), never bytes
      val cloneDst = java.nio.file.Files
        .createTempDirectory(s"graft_probe_clone_$scale").toString
      val (cloneFiles, cloneSecs) = timed {
        graft.operators.Sinks.deltaCloneShallow(spark, mgDir, cloneDst)
        graft.sources.DeltaCatalog.fromDeltaLog(spark, cloneDst, "cl_probe")
          .files.size.toLong
      }
      report("clone_files", scale, cloneFiles, cloneSecs)

      // incremental sync: after the (table-sized, untimed) snapshot sync,
      // a FIXED-SIZE append ships as the increment — wall must track the
      // delta, not the 10× table
      val syncDst = java.nio.file.Files
        .createTempDirectory(s"graft_probe_sync_$scale").toString
      graft.operators.Sinks.deltaSync(spark, mgDir, syncDst, "probe_tail")
      graft.operators.Sinks.deltaAppend(
        docs.filter(col("doc_id") < 100L)
          .select((col("doc_id") + lit(900000000L)).as("doc_id"),
            lit(1L).as("n_chars")).coalesce(1), mgDir)
      val syPre = graft.sources.DeltaCatalog.fromDeltaLog(spark, syncDst, "sy_pre")
      val syPreN = syPre.read(spark, syPre.files).count()
      // timed: the increment sync alone (counts bracket it untimed — a
      // table-sized count inside the timer would hide the delta-sized wall)
      val (_, syncSecs) = timed {
        graft.operators.Sinks.deltaSync(spark, mgDir, syncDst, "probe_tail")
      }
      val syPost = graft.sources.DeltaCatalog.fromDeltaLog(spark, syncDst, "sy_post")
      val syncRows = syPost.read(spark, syPost.files).count() - syPreN
      report("sync_increment_rows", scale, syncRows, syncSecs)

      // ---- late pass (graph / text / ER) ----
      // SETTLE first: the probes above just saturated all cores, and the
      // 1-minute loadavg a row records would otherwise read the probe's
      // OWN wake (r9's committed graph rows carried loadavg 16-20 on a
      // 32-CPU host — ambient was quiet, the artifact couldn't say so).
      // Wait for the load to decay (bounded), then re-calibrate so the
      // late rows carry an ADJACENT fixed-work reference.
      def settle(maxWaitMs: Long = 90000L): Unit = {
        val deadline = System.currentTimeMillis() + maxWaitMs
        while (Calibration.loadAvg() > 8.0 && System.currentTimeMillis() < deadline)
          Thread.sleep(5000L)
      }
      // settle before EVERY late-pass measurement (not just the group):
      // each probe here saturates all cores for tens of seconds, so the
      // NEXT row's start-loadavg would read the previous row's wake —
      // per-row settling is the only way each row's loadavg answers "was
      // the host quiet when this started" on its own
      def timedSettled[A](body: => A): (A, Double) = { settle(); timed(body) }
      // the late pass (graph/text/ER) never touches Delta: drop the
      // metadata cache's soft ballast (the 1e6-add probe state retains
      // ~0.5 GB until evicted, and soft values survive GC until heap
      // pressure) so these rows measure the operators, not the cache's
      // GC drag — and stay comparable to the pre-memo recordings
      graft.sources.MetaCache.reset()
      graft.operators.Sinks.invalidateCommitParseCache()
      settle(120000L)
      val (_, lateCal) = timed(Calibration.job(spark))
      report("calibration_late_pass", scale, 50000000L, lateCal)

      // pagerank: k disconnected copies of the trade graph (node ids
      // offset per replica). Rounds are FIXED (power iteration), so wall
      // must track the edge count ~linearly — each round is one equi-join
      // + one agg regardless of scale; node count must be exactly scale×
      val fwd = Tables.load(spark, sfDir, "lineitem")
        .select(col("l_orderkey"), col("l_suppkey"))
        .join(Tables.load(spark, sfDir, "orders")
          .select(col("o_orderkey"), col("o_custkey")),
          col("l_orderkey") === col("o_orderkey"))
        .select(col("o_custkey").cast("long").as("src"),
          (lit(1000000L) + col("l_suppkey").cast("long")).as("dst"))
      val edges1 = fwd.unionAll(fwd.select(col("dst").as("src"), col("src").as("dst")))
      val edgesK = (0 until scale).map { i =>
        if (i == 0) edges1
        else edges1.select((col("src") + lit(i * idStride)).as("src"),
          (col("dst") + lit(i * idStride)).as("dst"))
      }.reduce(_.unionAll(_))
      val (prNodes, prSecs) = timedSettled {
        graft.operators.Graph.pageRank(edgesK).count()
      }
      report("pagerank_nodes", scale, prNodes, prSecs)

      // triangles: k disconnected copies of the part co-purchase graph —
      // the count must be EXACTLY scale× (copies share no nodes), and wall
      // must track the wedge volume ~linearly (degree orientation keeps
      // per-node fan-out bounded regardless of corpus size)
      val copurchase = Tables.load(spark, sfDir, "lineitem")
        .select(col("l_orderkey").as("o"), col("l_partkey").cast("long").as("p"))
        .groupBy(col("o"))
        .agg(collect_set(col("p")).as("ps"))
        .select(explode(graft.functions.GraftFunctions
          .pairCombinations(array_sort(col("ps")))).as("pr"))
        .select(col("pr.id_a").as("src"), col("pr.id_b").as("dst"))
      val triK = (0 until scale).map { i =>
        if (i == 0) copurchase
        else copurchase.select((col("src") + lit(i * idStride)).as("src"),
          (col("dst") + lit(i * idStride)).as("dst"))
      }.reduce(_.unionAll(_))
      val (nTri, triSecs) = timedSettled {
        graft.operators.Graph.triangleCount(triK).collect()(0).getLong(0)
      }
      report("triangle_count", scale, nTri, triSecs)

      // k-core: the same k disconnected co-purchase copies — peeling depth
      // is a property of each component's structure, so the ROUND COUNT
      // must stay FLAT under replication (copies peel in parallel inside
      // the same per-round jobs) and core membership must be exactly
      // scale×; wall tracks edges ~linearly (one agg + two semi joins per
      // round, all unhinted)
      val (nCore, coreSecs) = timedSettled {
        graft.operators.Graph.kCore(triK, k = 6).count()
      }
      report("kcore_nodes", scale, nCore, coreSecs)

      // jaccard link prediction: k disconnected co-purchase copies at the
      // CAPPED production setting. The unfiltered co-purchase graph holds
      // ~148M wedges per copy (max degree 222) — uncapped, the 10× run is
      // ~1.5B wedge rows, which is precisely the hub fan-out failure
      // jaccardLinks' maxDegree exists for (it OOMs an 8 GB heap). With
      // the cap the per-copy wedge volume is bounded by maxDegree·|E|, the
      // global top-k set stays k (scores tie across copies), and wall time
      // must track edges ~linearly
      val (jlRows, jlSecs) = timedSettled {
        graft.operators.Graph.jaccardLinks(triK, k = 20, maxDegree = 64).count()
      }
      report("jaccard_links_rows", scale, jlRows, jlSecs)

      // market-basket lift: k disjoint basket-id copies — pair volume is
      // C(basket,2) per basket by construction (the kernel fan-out, never
      // an items×items self-join), so pair counts and wall both track
      // baskets ~linearly; item ids are NOT offset, so per-item
      // frequencies grow k× and the ranked lifts are scale-invariant
      val li = Tables.load(spark, sfDir, "lineitem")
        .select(col("l_orderkey"), col("l_partkey"))
      val basketsK = (0 until scale).map { i =>
        if (i == 0) li
        else li.select((col("l_orderkey") + lit(i * idStride)).as("l_orderkey"),
          col("l_partkey"))
      }.reduce(_.unionAll(_))
      val (blRows, blSecs) = timedSettled {
        graft.operators.Joins.basketLift(
          basketsK, "l_orderkey", "l_partkey", minPairs = 3L * scale, k = 20).count()
      }
      report("basket_lift_rows", scale, blRows, blSecs)

      // adamic-adar: same disconnected co-purchase copies at the capped
      // setting — wedge volume is bounded by maxDegree·|E| exactly like
      // jaccard (shared discipline, plan-asserted), the weighting adds no
      // exchange, and the top-k stays k rows; wall tracks edges ~linearly
      val (aaRows, aaSecs) = timedSettled {
        graft.operators.Graph.adamicAdarLinks(triK, k = 20, maxDegree = 64).count()
      }
      report("adamic_adar_rows", scale, aaRows, aaSecs)

      // covariance: k rotated-replica embeddings — the cell count is a
      // function of DIMENSION alone (d(d+1)/2 = 2080 at d=64), so output
      // must stay FLAT while the vector count grows k×; wall tracks the
      // per-vector triangle expansion ~linearly
      val (cvCells, cvSecs) = timedSettled {
        graft.operators.Similarity.covarianceMatrix(embX(scale), "embedding").count()
      }
      report("covariance_cells", scale, cvCells, cvSecs)

      // gram novelty: perturbed-token replicas — every replica's shingles
      // are corpus-new, so the gram table grows ~k×, output rows exactly
      // k× docs, and the min-owner aggregation stays one partial-agg
      // exchange; wall tracks the shingle stream ~linearly
      val (nvRows, nvSecs) = timedSettled {
        graft.operators.TextAnalysis.gramNovelty(docsX(scale), "doc_id", "text").count()
      }
      report("novelty_docs", scale, nvRows, nvSecs)

      // zipf: suffixed-token replicas grow the vocabulary exactly scale×;
      // the rank assembly is groupedRank's range-partitioned one (no
      // single-reducer vocabulary window), so wall must track the token
      // stream ~linearly
      val (zipfVocab, zipfSecs) = timedSettled {
        graft.operators.TextAnalysis.zipfSlope(d, "text")
          .select(col("vocab")).collect()(0).getLong(0)
      }
      report("zipf_vocab", scale, zipfVocab, zipfSecs)

      // trigram similarity join: k customer-name replicas, each with its
      // DIGITS rotated by the copy index — every digit-bearing gram
      // changes, so replicas share only the "Customer#" stop-grams
      // (Jaccard ≈ 0.4 across replicas, far under τ; a mere suffix would
      // leave cross-replica Jaccard ≈ 0.82 and plant the quadratic
      // structure the probe exists to rule out). Verified pairs must
      // track within-replica structure ~k×; candidate buckets stay
      // replica-local because rotation renames the rare digit grams while
      // the shared prefix grams sit at the rarity order's stop end and
      // never block
      val cust = Tables.load(spark, sfDir, "customer")
        .select(col("c_custkey"), col("c_name"))
      val custK = (0 until scale).map { i =>
        if (i == 0) cust
        else {
          val rot = "0123456789".map(c => ('0' + (c - '0' + i) % 10).toChar)
          cust.select((col("c_custkey") + lit(i * idStride)).as("c_custkey"),
            translate(col("c_name"), "0123456789", rot).as("c_name"))
        }
      }.reduce(_.unionAll(_))
      val (tgPairs, tgSecs) = timedSettled {
        graft.operators.Joins.trigramSimilarityJoin(
          custK, "c_custkey", "c_name", tau = 0.8).count()
      }
      report("trigram_join_pairs", scale, tgPairs, tgSecs)
      // the PPJoin CANDIDATE volume the verify stage pays for — the wall
      // of er_trigram_join/er_pair_features tracks this count, so its 1×
      // → 10× ratio is the measured law behind "growth ≈ candidate
      // volume, sub-linear per pair": candidates must grow ~like the
      // verified pairs (replica-local blocks), never quadratically
      val (tgCands, tgCandSecs) = timedSettled {
        graft.operators.Joins.trigramCandidatePairs(
          custK, "c_custkey", "c_name", tau = 0.8).count()
      }
      report("trigram_candidates", scale, tgCands, tgCandSecs)
      // er_pair_features' own volume: one featurized row per VERIFIED
      // pair (two id equi-joins + per-pair kernels on top of the trigram
      // join) — recorded beside the candidate count so the bench row's
      // 10×-data wall reads directly against its two drivers
      val (pfRows, pfSecs) = timedSettled {
        val c = custK
        graft.operators.Joins.trigramSimilarityJoin(
            c, "c_custkey", "c_name", tau = 0.8)
          .join(c.select(col("c_custkey").as("id_a"), col("c_name").as("__na")), "id_a")
          .join(c.select(col("c_custkey").as("id_b"), col("c_name").as("__nb")), "id_b")
          .select(col("id_a"), col("id_b"),
            levenshtein(col("__na"), col("__nb")).as("lev"))
          .count()
      }
      report("pair_features_candidates", scale, pfRows, pfSecs)

      // skyline: k exact replicas of the part dims — every copy of a
      // frontier point survives (no strict dim), so rows must be exactly
      // scale× the 1× frontier while the local-prune candidate set stays
      // frontier-sized per partition; wall tracks the scan ~linearly
      val part = Tables.load(spark, sfDir, "part")
        .select(col("p_partkey"), col("p_size").cast("double").as("size"),
          round(col("p_retailprice"), 2).as("price"),
          length(col("p_name")).cast("double").as("name_len"))
      val partK = (0 until scale).map { i =>
        if (i == 0) part
        else part.select((col("p_partkey") + lit(i * idStride)).as("p_partkey"),
          col("size"), col("price"), col("name_len"))
      }.reduce(_.unionAll(_))
      val (skRows, skSecs) = timedSettled {
        graft.operators.Selection.skyline(
          partK, "p_partkey", Seq("size", "price", "name_len")).count()
      }
      report("skyline_rows", scale, skRows, skSecs)

      // ER family END-TO-END (the heaviest bench family): deletion-variant
      // fuzzy pairs → star-contraction CC → golden-record assembly over k×
      // digit-rotated customer replicas. The rotation is a bijection on
      // digits, so within-replica pair structure is exactly the original's
      // (pair count must grow ~scale×, never quadratically) while replicas
      // stay ≥9 edits apart; the (nation, segment) blocks DO absorb all k
      // replicas — the honest blocking stress. Entities must grow ~scale×
      // with CC rounds flat.
      val custEr = Tables.load(spark, sfDir, "customer")
        .select(col("c_custkey"), col("c_name"),
          col("c_nationkey"), col("c_mktsegment"))
      val custErK = (0 until scale).map { i =>
        if (i == 0) custEr
        else {
          val rot = "0123456789".map(c => ('0' + (c - '0' + i) % 10).toChar)
          custEr.select((col("c_custkey") + lit(i * idStride)).as("c_custkey"),
            translate(col("c_name"), "0123456789", rot).as("c_name"),
            col("c_nationkey"), col("c_mktsegment"))
        }
      }.reduce(_.unionAll(_))
      val (erPairs, erPairSecs) = timedSettled {
        graft.operators.Joins.fuzzyPairs(custErK, "c_custkey", "c_name",
          Seq("c_nationkey", "c_mktsegment")).count()
      }
      report("er_fuzzy_pairs", scale, erPairs, erPairSecs)
      val (erEntities, erSecs) = timedSettled {
        graft.operators.Joins.resolveEntities(custErK, "c_custkey", "c_name",
          Seq("c_nationkey", "c_mktsegment")).count()
      }
      report("er_entities", scale, erEntities, erSecs)

      // BPE training: EXACT replicas — the vocabulary is identical at
      // every scale, so the learned merges must be identical with
      // pair_count exactly scale× (sum of counts = scale × the 1× sum),
      // and wall must stay near-flat: after the one corpus-sized
      // word-count exchange, every iteration is vocab-bound. This is the
      // property that makes tokenizer training viable at 100 TB.
      val docsExactK = (0 until scale).map { i =>
        if (i == 0) docs
        else docs.select((col("doc_id") + lit(i * idStride)).as("doc_id"),
          col("text"))
      }.reduce(_.unionAll(_))
      val (bpeWeight, bpeSecs) = timedSettled {
        graft.operators.TextAnalysis.bpeTrain(docsExactK, "text", rounds = 8)
          .agg(sum(col("pair_count"))).collect()(0).getLong(0)
      }
      report("bpe_merge_weight", scale, bpeWeight, bpeSecs)

      // concat-and-chunk packing: the window count must scale exactly
      // with the token stream (mutually-dissimilar replicas multiply
      // tokens ~scale×) and wall must track the ONE range exchange the
      // distributed prefix sum pays — windows-sized output, no
      // corpus-sized window operator anywhere
      val (packWindows, packSecs) = timedSettled {
        graft.operators.Curation.packChunks(d, "doc_id", "text", 2048L).count()
      }
      report("pack_windows", scale, packWindows, packSecs)

      PipelineCache.clear()
      spark.catalog.clearCache()
    }
    spark.stop()
  }
}
