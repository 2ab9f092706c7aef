package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** File-level zone maps (data skipping): a per-file (rows, min, max,
  * null_count) manifest for one column, read from parquet FOOTERS — no data
  * pages touched — and a conservative pruner that drops every file whose
  * value range provably cannot satisfy a BETWEEN predicate. This is the
  * Delta/Iceberg file-stats skipping primitive, layered over the same
  * split-only catalog model the reference uses (`catalog/mod.rs` keeps only
  * paths + partition values; zone maps extend that metadata with column
  * ranges, so range predicates prune FILES the way partition filters prune
  * directories).
  *
  * 100 TB shape: the manifest build distributes footer reads across the
  * cluster (one task per file batch — a 10⁶-file lake reads 10⁶ footers in
  * parallel, ~KB each, never a data page); the manifest itself is
  * files-sized, the same cardinality the catalog already carries. Pruning
  * collects only the surviving path strings (manifest-bounded driver
  * traffic). Missing or unreadable stats KEEP the file — skipping is an
  * optimization and must never be a correctness bet. */
object ZoneMap {

  /** Distributed footer-stats manifest for `column` over `paths`: one row
    * per file — (file, rows, min, max, null_count), min/max as doubles
    * (exact for integer values < 2⁵³; a file whose chunk statistics are
    * absent yields NULL min/max and is never pruned; null_count is NULL
    * when any chunk leaves its null count unset). Supports INT32 /
    * INT64 / FLOAT / DOUBLE physical chunks — the numeric-range predicates
    * zone maps serve. */
  def fileStats(spark: SparkSession, paths: Seq[String], column: String): DataFrame = {
    import scala.jdk.CollectionConverters._
    // Hadoop Configuration is not serializable — ship its entries and
    // rebuild on the executor (defaults + session overlay)
    val confProps = spark.sessionState.newHadoopConf().asScala
      .map(e => e.getKey -> e.getValue).toMap
    val parallelism = math.min(paths.size, spark.sparkContext.defaultParallelism).max(1)
    val rows = spark.sparkContext
      .parallelize(paths, parallelism)
      .map { p =>
        try {
        val conf = new org.apache.hadoop.conf.Configuration(true)
        confProps.foreach { case (k, v) => conf.set(k, v) }
        val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
          org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
            new org.apache.hadoop.fs.Path(p), conf))
        val footer = try reader.getFooter finally reader.close()
        var rows = 0L; var nulls = 0L
        // parquet-mr Statistics.getNumNulls returns -1 when unset —
        // accumulating that would drive the manifest's null_count negative,
        // so an unset chunk makes the FILE's null_count unknown (NULL)
        var nullsKnown = true
        var mn = Option.empty[Double]; var mx = Option.empty[Double]
        var statsComplete = true
        footer.getBlocks.asScala.foreach { block =>
          rows += block.getRowCount
          block.getColumns.asScala
            .filter(_.getPath.toDotString == column)
            .foreach { chunk =>
              val st = chunk.getStatistics
              if (st == null || st.isEmpty) statsComplete = false
              else {
                if (st.isNumNullsSet) nulls += st.getNumNulls
                else nullsKnown = false
                if (st.hasNonNullValue) {
                  def num(v: AnyRef): Double = v match {
                    case i: java.lang.Integer => i.toDouble
                    case l: java.lang.Long    => l.toDouble
                    case f: java.lang.Float   => f.toDouble
                    case d: java.lang.Double  => d
                    case _ => statsComplete = false; Double.NaN
                  }
                  val lo = num(st.genericGetMin.asInstanceOf[AnyRef])
                  val hi = num(st.genericGetMax.asInstanceOf[AnyRef])
                  if (!lo.isNaN && !hi.isNaN) {
                    mn = Some(mn.fold(lo)(math.min(_, lo)))
                    mx = Some(mx.fold(hi)(math.max(_, hi)))
                  }
                } // an all-null chunk contributes no range but stays complete
              }
            }
        }
        val (fmn, fmx) =
          if (statsComplete) (mn, mx) else (None, None) // conservative: unknown range
        (p, rows, fmn, fmx, if (nullsKnown) Some(nulls) else None)
        } catch {
          // pruning is an OPTIMIZATION: a missing or unreadable footer
          // yields an unknown-stats row (never pruned) instead of failing
          // the manifest build — the subsequent read surfaces any real
          // missing-file error loudly, and planner-validation catalogs
          // with synthetic paths keep planning
          case scala.util.control.NonFatal(_) =>
            (p, 0L, Option.empty[Double], Option.empty[Double],
              Option.empty[Long])
        }
      }
    spark.createDataFrame(rows)
      .toDF("file", "rows", "min", "max", "null_count")
  }

  /** ORC twin of [[fileStats]]: per-file (rows, min, max, null_count) for
    * one top-level column from ORC footer statistics — same manifest
    * shape, same conservatism (unreadable footer / unsupported type /
    * valueless stats ⇒ unknown range, never pruned). ORC's
    * ColumnStatistics.getNumberOfValues counts NON-null values, so the
    * file's null count is rows − values — always known when stats are. */
  def orcFileStats(spark: SparkSession, paths: Seq[String], column: String): DataFrame = {
    import scala.jdk.CollectionConverters._
    val confProps = spark.sessionState.newHadoopConf().asScala
      .map(e => e.getKey -> e.getValue).toMap
    val parallelism = math.min(paths.size, spark.sparkContext.defaultParallelism).max(1)
    val rows = spark.sparkContext
      .parallelize(paths, parallelism)
      .map { p =>
        try {
          val conf = new org.apache.hadoop.conf.Configuration(true)
          confProps.foreach { case (k, v) => conf.set(k, v) }
          val reader = org.apache.orc.OrcFile.createReader(
            new org.apache.hadoop.fs.Path(p),
            org.apache.orc.OrcFile.readerOptions(conf))
          try {
            val schema = reader.getSchema
            val names = schema.getFieldNames.asScala
            // exact-name match, same as the parquet manifest's dot-string
            // compare: two footer columns differing only by case must
            // never alias each other into a WRONG range (a casing
            // mismatch just yields unknown stats — never pruned)
            val idx = names.indexOf(column)
            val nRows = reader.getNumberOfRows
            if (idx < 0) (p, nRows, Option.empty[Double], Option.empty[Double], Option.empty[Long])
            else {
              val colId = schema.getChildren.get(idx).getId
              val st = reader.getStatistics()(colId)
              val nulls = Some(nRows - st.getNumberOfValues)
              val range: (Option[Double], Option[Double]) =
                if (st.getNumberOfValues == 0L) (None, None)
                else st match {
                  case i: org.apache.orc.IntegerColumnStatistics =>
                    (Some(i.getMinimum.toDouble), Some(i.getMaximum.toDouble))
                  case d: org.apache.orc.DoubleColumnStatistics =>
                    (Some(d.getMinimum), Some(d.getMaximum))
                  case _ => (None, None) // strings/decimals/timestamps: not served
                }
              (p, nRows, range._1, range._2, nulls)
            }
          } finally reader.close()
        } catch {
          case scala.util.control.NonFatal(_) =>
            (p, 0L, Option.empty[Double], Option.empty[Double], Option.empty[Long])
        }
      }
    spark.createDataFrame(rows)
      .toDF("file", "rows", "min", "max", "null_count")
  }

  /** Per-file Delta `add.stats` JSON for the data-schema columns whose
    * footer statistics the skipping path can serve — the Delta protocol's
    * data-skipping shape (`{"numRecords":N,"minValues":{..},"maxValues":
    * {..},"nullCount":{..}}`), computed from each file's parquet FOOTER
    * (no data pages). Stats then RIDE THE LOG: a reader prunes from
    * metadata it already replays, zero footer reads — the property that
    * makes skipping work when the lake's 10⁶ footers are a cold remote
    * store but its log is one warm replay.
    *
    * Served column types: integral (emitted as JSON integers — exact),
    * float/double, and strings (UTF-8 footer min/max; UTF-8 byte order
    * equals code-point order, so the bounds are sound for any reader
    * comparing code points; values longer than 64 chars or containing
    * surrogate pairs — where Java's UTF-16 comparison diverges from
    * code-point order — make the column's range unknown rather than
    * risk an unsound bound). A column with incomplete chunk statistics
    * is omitted from min/max; an unreadable footer yields NO stats for
    * that file (stats are an optimization, never a commit blocker).
    * Returns path -> stats JSON, omitting files without stats. */
  def deltaFileStats(
      spark: SparkSession, paths: Seq[String],
      schema: org.apache.spark.sql.types.StructType): Map[String, String] = {
    import org.apache.spark.sql.types._
    import scala.jdk.CollectionConverters._
    // kind: 'L' integral, 'D' floating, 'S' string
    val wanted: Seq[(String, Char)] = schema.fields.collect {
      case f if Seq(ByteType, ShortType, IntegerType, LongType).contains(f.dataType) =>
        f.name -> 'L'
      case f if f.dataType == FloatType || f.dataType == DoubleType => f.name -> 'D'
      case f if f.dataType == StringType => f.name -> 'S'
    }.toSeq
    if (wanted.isEmpty || paths.isEmpty) return Map.empty
    val confProps = spark.sessionState.newHadoopConf().asScala
      .map(e => e.getKey -> e.getValue).toMap
    // small commits read their footers ON THE DRIVER: the commit's own
    // staging walk/renames just touched these files driver-side, and
    // scheduling a distributed job for a handful of footer reads costs
    // more than the reads (profiled: the per-append stats job was pure
    // scheduling latency at single-digit file counts). Large commits —
    // the 100 TB regime, thousands of files per append — keep the job.
    val localCutoff =
      spark.conf.get("spark.graft.stats.localFooterCutoff", "32").toInt
    if (paths.size <= localCutoff)
      paths.map(p => p -> deltaStatsForFile(confProps, p, wanted))
        .collect { case (p, Some(j)) => p -> j }.toMap
    else {
      val parallelism = math.min(paths.size, spark.sparkContext.defaultParallelism).max(1)
      spark.sparkContext.parallelize(paths, parallelism).map { p =>
        p -> deltaStatsForFile(confProps, p, wanted)
      }.collect().collect { case (p, Some(j)) => p -> j }.toMap
    }
  }

  /** One file's stats JSON; None when the footer is unreadable. */
  private def deltaStatsForFile(
      confProps: Map[String, String], path: String,
      wanted: Seq[(String, Char)]): Option[String] = {
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    import scala.jdk.CollectionConverters._
    // a string bound is only emitted when Java string comparison agrees
    // with the footer's byte order: ASCII-to-BMP text without surrogates,
    // bounded length (parquet truncation of long binary stats would make
    // a recorded "max" a PREFIX — not an upper bound)
    def safeString(s: String): Boolean =
      s.length <= 64 && !s.exists(Character.isSurrogate)
    try {
      val conf = new org.apache.hadoop.conf.Configuration(true)
      confProps.foreach { case (k, v) => conf.set(k, v) }
      val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
          new org.apache.hadoop.fs.Path(path), conf))
      val footer = try reader.getFooter finally reader.close()
      var rows = 0L
      final class Acc {
        var complete = true
        var nullsKnown = true
        var nulls = 0L
        var loL = 0L; var hiL = 0L
        var loD = 0d; var hiD = 0d
        var loS: String = null; var hiS: String = null
        var saw = false
      }
      val accs = wanted.map { case (c, k) => (c, k, new Acc) }
      footer.getBlocks.asScala.foreach { block =>
        rows += block.getRowCount
        val byName = block.getColumns.asScala.map(c => c.getPath.toDotString -> c).toMap
        accs.foreach { case (cname, kind, a) =>
          byName.get(cname) match {
            case None => a.complete = false // column absent from this block
            case Some(chunk) =>
              val st: org.apache.parquet.column.statistics.Statistics[_] =
                chunk.getStatistics
              if (st == null || st.isEmpty) a.complete = false
              else {
                if (st.isNumNullsSet) a.nulls += st.getNumNulls else a.nullsKnown = false
                if (st.hasNonNullValue) {
                  (kind, st.genericGetMin.asInstanceOf[AnyRef],
                    st.genericGetMax.asInstanceOf[AnyRef]) match {
                    case ('L', mn: Number, mx: Number) =>
                      val (l, h) = (mn.longValue(), mx.longValue())
                      if (a.saw) { a.loL = math.min(a.loL, l); a.hiL = math.max(a.hiL, h) }
                      else { a.loL = l; a.hiL = h; a.saw = true }
                    case ('D', mn: Number, mx: Number) =>
                      val (l, h) = (mn.doubleValue(), mx.doubleValue())
                      if (a.saw) { a.loD = math.min(a.loD, l); a.hiD = math.max(a.hiD, h) }
                      else { a.loD = l; a.hiD = h; a.saw = true }
                    case ('S', mn: org.apache.parquet.io.api.Binary,
                        mx: org.apache.parquet.io.api.Binary) =>
                      val l = mn.toStringUsingUTF8; val h = mx.toStringUsingUTF8
                      if (!safeString(l) || !safeString(h)) a.complete = false
                      else if (a.saw) {
                        if (l < a.loS) a.loS = l
                        if (h > a.hiS) a.hiS = h
                      } else { a.loS = l; a.hiS = h; a.saw = true }
                    case _ => a.complete = false
                  }
                } // an all-null chunk contributes no range but stays complete
              }
          }
        }
      }
      def bound(kind: Char, a: Acc, lo: Boolean): JValue = kind match {
        case 'L' => JLong(if (lo) a.loL else a.hiL)
        case 'D' => JDouble(if (lo) a.loD else a.hiD)
        case _   => JString(if (lo) a.loS else a.hiS)
      }
      val ranged = accs.filter { case (_, _, a) => a.complete && a.saw }
      val obj = JObject(
        "numRecords" -> JLong(rows),
        "minValues" -> JObject(ranged.map { case (c, k, a) => c -> bound(k, a, lo = true) }.toList),
        "maxValues" -> JObject(ranged.map { case (c, k, a) => c -> bound(k, a, lo = false) }.toList),
        "nullCount" -> JObject(accs.collect {
          case (c, _, a) if a.complete && a.nullsKnown => c -> (JLong(a.nulls): JValue)
        }.toList))
      Some(JsonMethods.compact(JsonMethods.render(obj)))
    } catch {
      case scala.util.control.NonFatal(_) => None
    }
  }

  /** Paths whose zone CAN satisfy `column BETWEEN lo AND hi`: a file is
    * skipped only when its stats prove max < lo or min > hi; NULL stats
    * (absent/unsupported footers) keep the file. Collects the manifest's
    * surviving path column — files-sized by construction. */
  def prunePaths(stats: DataFrame, lo: Double, hi: Double): Seq[String] =
    stats
      .filter(col("min").isNull || col("max").isNull ||
        !(col("max") < lit(lo) || col("min") > lit(hi)))
      .select(col("file"))
      .collect().map(_.getString(0)).toSeq

  // ---------------------------------------------------------------------
  // Catalog/two-stage integration: harvest range predicates from a map
  // statement's WHERE clause and prune the planned file list through a
  // cached footer-stats manifest — range predicates then skip FILES the
  // way partition_filter skips directories (the reference's catalog prunes
  // by querying the file table, catalog/mod.rs:52-69; zone maps are the
  // same idea over column ranges).
  // ---------------------------------------------------------------------

  /** Driver-side (path, column) → (min, max) cache. Parquet files are
    * immutable in this model (the same assumption StaticCatalog's
    * inference cache makes), so footer ranges never go stale; repeated
    * queries against a catalog pay the footer reads once. */
  private val zoneCache =
    new java.util.concurrent.ConcurrentHashMap[(String, String), (Option[Double], Option[Double])]()

  /** Directories whose sidecar has already been probed this process —
    * hit or miss — so repeated miss batches (a column absent from the
    * manifest, a sidecar-less table) never re-pay the exists() probe or
    * re-read rows already in [[zoneCache]]. */
  private val seededDirs =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  private[graft] def clearZoneCache(): Unit = { zoneCache.clear(); seededDirs.clear() }

  /** Seed one (path, column) range directly — the hook log-carried stats
    * (Delta `add.stats`) use to pre-warm pruning without any footer read. */
  private[graft] def seedEntry(
      path: String, column: String,
      mn: Option[Double], mx: Option[Double]): Unit =
    zoneCache.put((path, column), (mn, mx))

  private[graft] def isSeeded(path: String, column: String): Boolean =
    zoneCache.containsKey((path, column))

  /** Number of FILES whose footers have been opened by manifest builds in
    * this process — observability for the sidecar path (a seeded cache
    * must answer pruning with zero new footer reads; asserted in specs). */
  private[graft] val footerReads = new java.util.concurrent.atomic.AtomicLong(0)

  /** The sidecar directory of a table root. */
  private def sidecarDir(tableDir: String): String = s"$tableDir/_zonemap"

  /** PERSIST the footer-stats manifest as a `_zonemap/` sidecar under the
    * table root — one parquet dataset of (file, column, rows, min, max,
    * null_count) over every data file and each of `columns` — so a FRESH
    * process seeds its pruning cache from files-sized metadata instead of
    * re-opening every footer (the role `_last_checkpoint` plays for the
    * Delta replay). Append-only tables stay correct without rewriting the
    * sidecar: a file missing from the manifest is a cache miss and falls
    * back to its footer. The sidecar name is `_`-prefixed, so catalog
    * discovery never mistakes it for data. Returns the sidecar path. */
  def saveManifest(
      spark: SparkSession, tableDir: String, columns: Seq[String],
      format: String = "parquet"): String = {
    require(columns.nonEmpty, "need at least one column to manifest")
    val paths = FsUtil.walkDataFiles(spark, tableDir, s".$format").map(_._1)
    require(paths.nonEmpty, s"no $format files under '$tableDir'")
    val stats = columns.map { c =>
      val s = if (format == "orc") orcFileStats(spark, paths, c)
              else fileStats(spark, paths, c)
      s.withColumn("column", lit(c))
    }.reduce(_.unionByName(_))
    val out = sidecarDir(tableDir)
    stats.coalesce(1).write.mode("overwrite").parquet(out)
    out
  }

  /** Seed the process-local pruning cache from a table's `_zonemap/`
    * sidecar, if present; returns the number of (file, column) entries
    * loaded (0 when there is no sidecar). Idempotent and cheap — the
    * sidecar is files-sized metadata. */
  def seedFromSidecar(spark: SparkSession, tableDir: String): Long = {
    val dir = sidecarDir(tableDir)
    if (!FsUtil.exists(spark, s"$dir/_SUCCESS")) return 0L
    val rows = spark.read.parquet(dir)
      .select(col("file"), col("column"), col("min"), col("max"))
      .collect()
    rows.foreach { r =>
      def d(i: Int): Option[Double] = if (r.isNullAt(i)) None else Some(r.getDouble(i))
      zoneCache.put((r.getString(0), r.getString(1)), (d(2), d(3)))
    }
    rows.length.toLong
  }

  /** (min, max) per path for `column`, consulting [[zoneCache]] and
    * reading only the MISSING footers (distributed via [[fileStats]] /
    * [[orcFileStats]] per the catalog's format — a path is one format
    * for life, so the cache key stays (path, column)). */
  private def zonesFor(
      spark: SparkSession, paths: Seq[String], column: String,
      format: String)
      : Map[String, (Option[Double], Option[Double])] = {
    val (_, miss0) = paths.partition(p => zoneCache.containsKey((p, column)))
    if (miss0.nonEmpty) {
      // a fresh process may have a PERSISTED manifest next to the data —
      // seed from each missing file's TABLE ROOT sidecar before paying
      // any footer read. saveManifest writes the sidecar at the table
      // root; a Hive-partitioned file sits under `col=value` segments,
      // so ascend past every '='-named directory to find that root
      // (flat layouts ascend zero levels: parent IS the root). Each
      // directory is probed at most once per process (seededDirs).
      def tableRoot(p: String): String = {
        var d = new org.apache.hadoop.fs.Path(p).getParent
        while (d.getParent != null && d.getName.contains("=")) d = d.getParent
        d.toString
      }
      miss0.map(tableRoot).distinct
        .filter(seededDirs.add) // false ⇒ already probed this process
        .foreach(d => seedFromSidecar(spark, d))
      val miss = miss0.filterNot(p => zoneCache.containsKey((p, column)))
      if (miss.nonEmpty) {
        footerReads.addAndGet(miss.size.toLong)
        val stats =
          if (format == "orc") orcFileStats(spark, miss, column)
          else fileStats(spark, miss, column)
        stats.select("file", "min", "max").collect().foreach { r =>
          def d(i: Int): Option[Double] = if (r.isNullAt(i)) None else Some(r.getDouble(i))
          zoneCache.put((r.getString(0), column), (d(1), d(2)))
        }
      }
    }
    paths.map(p => p -> zoneCache.get((p, column))).toMap
  }

  /** A harvested inclusive range constraint; open bounds are relaxed to
    * closed (a file with max == lo under `col > lo` survives — keeping a
    * file is always sound, skipping one never is). */
  private[graft] final case class ColumnRange(lo: Double, hi: Double) {
    def merge(o: ColumnRange): ColumnRange =
      ColumnRange(math.max(lo, o.lo), math.min(hi, o.hi))
  }

  /** Range constraints provably REQUIRED by `statement` (a parsed,
    * CTE-free [[graft.plans.Statement]] plan) on raw columns of its
    * (single) base relation: only top-level conjuncts of Filter nodes
    * sitting DIRECTLY on the relation (through subquery aliases) are
    * read — a filter above a Project/Aggregate may reference an alias
    * that shadows a data column (`SELECT a+1 AS a ... WHERE a > 5`), and
    * harvesting it would prune files the query still needs. Shapes:
    * `col <op> literal` / `literal <op> col` for < <= > >= =, which also
    * covers BETWEEN (parsed as >= AND <=). `candidates` filters to the
    * catalog's numeric DATA columns; comparison is case-insensitive to
    * match the session's default resolution. */
  private[graft] def harvestRanges(
      statement: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan,
      candidates: Set[String],
      allColumns: Set[String] = Set.empty): Map[String, ColumnRange] = {
    import org.apache.spark.sql.catalyst.analysis.{UnresolvedAttribute, UnresolvedRelation}
    import org.apache.spark.sql.catalyst.expressions._
    import org.apache.spark.sql.catalyst.plans.logical.{Filter => LFilter, LogicalPlan, SubqueryAlias}
    val lowered = candidates.map(_.toLowerCase(java.util.Locale.ROOT))
    def onRelation(p: LogicalPlan): Boolean = p match {
      case _: UnresolvedRelation => true
      case s: SubqueryAlias      => onRelation(s.child)
      case _                     => false
    }
    def conjuncts(e: Expression): Seq[Expression] = e match {
      case And(l, r) => conjuncts(l) ++ conjuncts(r)
      case other     => Seq(other)
    }
    val allLowered = allColumns.map(_.toLowerCase(java.util.Locale.ROOT))
    def colName(e: Expression): Option[String] = e match {
      // a bare name is the sole relation's column; a two-part name is a
      // table-qualified reference (t.col) ONLY when its head cannot be a
      // declared column — `props.latency` where `props` is a (struct)
      // column of the catalog is a FIELD access, and harvesting `latency`
      // would prune by the wrong column's footer stats. Deeper paths are
      // never harvested (conservative: lost optimization, never lost rows).
      case a: UnresolvedAttribute if a.nameParts.size == 1 =>
        Some(a.nameParts.head.toLowerCase(java.util.Locale.ROOT))
      case a: UnresolvedAttribute if a.nameParts.size == 2 &&
          !allLowered.contains(a.nameParts.head.toLowerCase(java.util.Locale.ROOT)) =>
        Some(a.nameParts.last.toLowerCase(java.util.Locale.ROOT))
      case _ => None
    }
    def litNum(e: Expression): Option[Double] = e match {
      case Literal(v, _) => v match {
        case n: Number                               => Some(n.doubleValue())
        case d: org.apache.spark.sql.types.Decimal   => Some(d.toDouble)
        case _                                       => None
      }
      case _ => None
    }
    val ranges = scala.collection.mutable.Map[String, ColumnRange]()
    def add(c: String, r: ColumnRange): Unit =
      if (lowered.contains(c)) ranges(c) = ranges.get(c).fold(r)(_.merge(r))
    val conds = statement.collect {
      case LFilter(cond, child) if onRelation(child) => cond
    }.flatMap(conjuncts)
    conds.foreach {
      case GreaterThan(a, b) =>
        colName(a).zip(litNum(b)).foreach { case (c, v) => add(c, ColumnRange(v, Double.PositiveInfinity)) }
        colName(b).zip(litNum(a)).foreach { case (c, v) => add(c, ColumnRange(Double.NegativeInfinity, v)) }
      case GreaterThanOrEqual(a, b) =>
        colName(a).zip(litNum(b)).foreach { case (c, v) => add(c, ColumnRange(v, Double.PositiveInfinity)) }
        colName(b).zip(litNum(a)).foreach { case (c, v) => add(c, ColumnRange(Double.NegativeInfinity, v)) }
      case LessThan(a, b) =>
        colName(a).zip(litNum(b)).foreach { case (c, v) => add(c, ColumnRange(Double.NegativeInfinity, v)) }
        colName(b).zip(litNum(a)).foreach { case (c, v) => add(c, ColumnRange(v, Double.PositiveInfinity)) }
      case LessThanOrEqual(a, b) =>
        colName(a).zip(litNum(b)).foreach { case (c, v) => add(c, ColumnRange(Double.NegativeInfinity, v)) }
        colName(b).zip(litNum(a)).foreach { case (c, v) => add(c, ColumnRange(v, Double.PositiveInfinity)) }
      case EqualTo(a, b) =>
        colName(a).zip(litNum(b)).foreach { case (c, v) => add(c, ColumnRange(v, v)) }
        colName(b).zip(litNum(a)).foreach { case (c, v) => add(c, ColumnRange(v, v)) }
      // Spark 4 parses BETWEEN as an unresolved between(col, lo, hi) call
      // rather than expanding it to >= AND <= at parse time
      case f: org.apache.spark.sql.catalyst.analysis.UnresolvedFunction
          if f.nameParts.map(_.toLowerCase(java.util.Locale.ROOT)) == Seq("between") &&
            f.arguments.size == 3 =>
        colName(f.arguments(0))
          .zip(litNum(f.arguments(1)).zip(litNum(f.arguments(2))))
          .foreach { case (c, (lo, hi)) => add(c, ColumnRange(lo, hi)) }
      case _ => ()
    }
    ranges.toMap
  }

  /** Zone-map file skipping for a planned two-stage query: harvest the map
    * SQL's range predicates over the catalog's NUMERIC data columns
    * (integral and float/double — decimals are excluded because their
    * footer stats carry unscaled values) and drop every file whose footer
    * range provably cannot satisfy them. No-op — and no footer is read —
    * when the statement carries no harvestable range or the catalog has a
    * single file. Files with unknown stats always survive. */
  def pruneForQuery(
      spark: SparkSession,
      schema: org.apache.spark.sql.types.StructType,
      files: Seq[SizedFile],
      mapSql: String,
      format: String = "parquet",
      exhaustive: Boolean = false): Seq[SizedFile] =
    pruneForPlan(spark, schema, files,
      graft.plans.Statement.parse(spark, mapSql).plan, format, exhaustive)

  /** [[pruneForQuery]] over an already parsed statement. */
  def pruneForPlan(
      spark: SparkSession,
      schema: org.apache.spark.sql.types.StructType,
      files: Seq[SizedFile],
      statement: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan,
      format: String,
      exhaustive: Boolean = false): Seq[SizedFile] = {
    import org.apache.spark.sql.types._
    // a single surviving file saves a QUERY nothing (the scan reads it
    // anyway), but conflict probes need the verdict even for one file
    if (files.size <= 1 && !exhaustive) return files
    val numeric = schema.fields.collect {
      case f if Seq(ByteType, ShortType, IntegerType, LongType, FloatType, DoubleType)
        .contains(f.dataType) => f.name
    }.toSet
    val ranges = harvestRanges(statement, numeric,
      allColumns = schema.fieldNames.toSet)
    if (ranges.isEmpty) return files
    // resolve harvested lowercase names back to the schema's declared case,
    // then to the PHYSICAL parquet name (zone cache + footers are keyed by
    // what the files store; identity unless column-mapping renames exist)
    val byLower = schema.fields
      .filter(f => numeric.contains(f.name))
      .map(f => f.name.toLowerCase(java.util.Locale.ROOT) -> ColumnMapping.physicalName(f))
      .toMap
    ranges.foldLeft(files) { case (fs, (cLower, r)) =>
      val zones = zonesFor(spark, fs.map(_.key), byLower(cLower), format)
      fs.filter { f =>
        zones(f.key) match {
          case (Some(mn), Some(mx)) => !(mx < r.lo || mn > r.hi)
          case _                    => true // unknown range: never skip
        }
      }
    }
  }
}
