package graft.sources

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.MetaCache.{FileId, SidecarProbed, Zones}

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
  * 100 TB shape: past Spark's listing threshold the manifest build
  * distributes footer reads across the cluster (one task per file batch —
  * a 10⁶-file lake reads 10⁶ footers in parallel, ~KB each, never a data
  * page); the manifest itself is
  * files-sized, the same cardinality the catalog already carries. Pruning
  * collects only the surviving path strings (manifest-bounded driver
  * traffic). Missing or unreadable stats KEEP the file — skipping is an
  * optimization and must never be a correctness bet. */
object ZoneMap {

  /** Footer-stats manifest for `column` over `paths`: one row per file —
    * (file, rows, min, max, null_count), min/max as doubles (exact for
    * integer values < 2⁵³; a file whose chunk statistics are absent yields
    * NULL min/max and is never pruned; null_count is NULL when any chunk
    * leaves its null count unset). Supports INT32 / INT64 / FLOAT /
    * DOUBLE physical chunks — the numeric-range predicates zone maps
    * serve. Footers are read per [[readEach]]'s local/distributed rule. */
  def fileStats(spark: SparkSession, paths: Seq[String], column: String): DataFrame = {
    val rows = readEach(spark, paths)(parquetFooter).map { case (p, footer) =>
      val (mn, mx) = footer.fold(Unknown)(_.range(column))
      (p, footer.fold(0L)(_.rows), mn, mx, footer.flatMap(_.columns.get(column)).flatMap(_.nulls))
    }
    spark.createDataFrame(rows).toDF("file", "rows", "min", "max", "null_count")
  }

  /** Runs `read` once per path — on the driver for at most
    * `spark.sql.sources.parallelPartitionDiscovery.threshold` paths,
    * otherwise in one job of up to `defaultParallelism` tasks. This is
    * the rule Spark applies to file listing: below the threshold a job's
    * scheduling costs more than the reads, above it the reads (a 10⁶-file
    * lake's footers, ~KB each) spread across the cluster. The Hadoop conf
    * (`spark.hadoop.*` credentials and endpoints included) travels as its
    * entries, since `Configuration` is not serializable. */
  private def readEach[T](spark: SparkSession, paths: Seq[String])(
      read: (Configuration, String) => T): Seq[(String, T)] = {
    val conf = spark.sessionState.newHadoopConf()
    if (paths.size <= spark.sessionState.conf.parallelPartitionDiscoveryThreshold)
      paths.map(p => p -> read(conf, p))
    else {
      import scala.jdk.CollectionConverters._
      val props = conf.asScala.map(e => e.getKey -> e.getValue).toMap
      val parallelism = math.min(paths.size, spark.sparkContext.defaultParallelism)
      spark.sparkContext.parallelize(paths, parallelism).mapPartitions { it =>
        val c = new Configuration(true)
        props.foreach { case (k, v) => c.set(k, v) }
        it.map(p => p -> read(c, p))
      }.collect().toSeq
    }
  }

  /** One file's footer statistics: its row count and, per column, the
    * bounds over every row group — a Long for integral chunks, a Double
    * for floating ones, a String for UTF-8 binary — and the null count.
    * `complete` is false when any chunk leaves its statistics unset or a
    * bound unserved; min/max are then None. nulls is None when any chunk
    * leaves its count unset. */
  private final case class ColumnStats(
      complete: Boolean, min: Option[Any], max: Option[Any], nulls: Option[Long])
  private final case class FooterStats(rows: Long, columns: Map[String, ColumnStats]) {
    /** `column`'s numeric (min, max) as doubles (exact below 2⁵³). */
    def range(column: String): Range = columns.get(column).fold(Unknown) { s =>
      def num(v: Option[Any]): Option[Double] = v.collect {
        case l: Long   => l.toDouble
        case d: Double => d
      }
      (num(s.min), num(s.max))
    }
  }

  /** A parquet footer's [[FooterStats]] keyed by dotted column path; None
    * when the footer is missing or unreadable — pruning is an
    * OPTIMIZATION, so such a file gets unknown stats (never pruned) and
    * the read itself surfaces any real missing-file error loudly. */
  private def parquetFooter(conf: Configuration, path: String): Option[FooterStats] =
    try {
      import scala.jdk.CollectionConverters._
      val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(new Path(path), conf))
      val footer = try reader.getFooter finally reader.close()
      final class Acc {
        var complete = true
        // parquet-mr Statistics.getNumNulls returns -1 when unset —
        // accumulating that would drive the count negative, so an unset
        // chunk makes the file's null count unknown
        var nullsKnown = true
        var nulls = 0L
        var mn = Option.empty[Any]; var mx = Option.empty[Any]
      }
      // a string bound is only served when Java string comparison agrees
      // with the footer's byte order: BMP text without surrogates, of
      // bounded length (parquet truncation of long binary stats would
      // make a recorded "max" a PREFIX — not an upper bound)
      def bound(v: Any): Option[Any] = v match {
        case i: java.lang.Integer => Some(i.longValue)
        case l: java.lang.Long    => Some(l.longValue)
        case f: java.lang.Float   => Some(f.doubleValue).filterNot(_.isNaN)
        case d: java.lang.Double  => Some(d.doubleValue).filterNot(_.isNaN)
        case b: org.apache.parquet.io.api.Binary =>
          Some(b.toStringUsingUTF8).filter(s => s.length <= 64 && !s.exists(Character.isSurrogate))
        case _ => None
      }
      def less(a: Any, b: Any): Boolean = (a, b) match {
        case (x: Long, y: Long)     => x < y
        case (x: Double, y: Double) => x < y
        case (x: String, y: String) => x < y
        case _                      => false
      }
      val accs = scala.collection.mutable.LinkedHashMap[String, Acc]()
      var rows = 0L
      footer.getBlocks.asScala.foreach { block =>
        rows += block.getRowCount
        block.getColumns.asScala.foreach { chunk =>
          val a = accs.getOrElseUpdate(chunk.getPath.toDotString, new Acc)
          val st: org.apache.parquet.column.statistics.Statistics[_] = chunk.getStatistics
          if (st == null || st.isEmpty) a.complete = false
          else {
            if (st.isNumNullsSet) a.nulls += st.getNumNulls else a.nullsKnown = false
            // an all-null chunk contributes no range but stays complete
            if (st.hasNonNullValue) (bound(st.genericGetMin), bound(st.genericGetMax)) match {
              case (Some(lo), Some(hi)) =>
                a.mn = Some(a.mn.fold(lo)(m => if (less(lo, m)) lo else m))
                a.mx = Some(a.mx.fold(hi)(m => if (less(m, hi)) hi else m))
              case _ => a.complete = false
            }
          }
        }
      }
      Some(FooterStats(rows, accs.map { case (c, a) =>
        c -> ColumnStats(a.complete, a.mn.filter(_ => a.complete),
          a.mx.filter(_ => a.complete), if (a.nullsKnown) Some(a.nulls) else None)
      }.toMap))
    } catch { case scala.util.control.NonFatal(_) => None }

  /** ORC twin of [[parquetFooter]] over the top-level fields. Field names
    * match exactly, as parquet's dotted paths do: two columns differing
    * only by case never alias each other into a WRONG range. ORC's
    * getNumberOfValues counts NON-null values, so a column's null count
    * is rows − values. */
  private def orcFooter(conf: Configuration, path: String): Option[FooterStats] =
    try {
      import scala.jdk.CollectionConverters._
      val reader = org.apache.orc.OrcFile.createReader(
        new Path(path), org.apache.orc.OrcFile.readerOptions(conf))
      try {
        val schema = reader.getSchema
        val nRows = reader.getNumberOfRows
        val stats = reader.getStatistics
        Some(FooterStats(nRows, schema.getFieldNames.asScala.zip(schema.getChildren.asScala)
          .map { case (name, t) =>
            val st = stats(t.getId)
            val (mn, mx): (Option[Any], Option[Any]) =
              if (st.getNumberOfValues == 0L) (None, None)
              else st match {
                case i: org.apache.orc.IntegerColumnStatistics =>
                  (Some(i.getMinimum), Some(i.getMaximum))
                case d: org.apache.orc.DoubleColumnStatistics =>
                  (Some(d.getMinimum), Some(d.getMaximum))
                case _ => (None, None) // strings/decimals/timestamps: not served
              }
            name -> ColumnStats(mn.isDefined, mn, mx, Some(nRows - st.getNumberOfValues))
          }.toMap))
      } finally reader.close()
    } catch { case scala.util.control.NonFatal(_) => None }

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
    // kind: 'L' integral, 'D' floating, 'S' string
    val wanted: Seq[(String, Char)] = schema.fields.collect {
      case f if Seq(ByteType, ShortType, IntegerType, LongType).contains(f.dataType) =>
        f.name -> 'L'
      case f if f.dataType == FloatType || f.dataType == DoubleType => f.name -> 'D'
      case f if f.dataType == StringType => f.name -> 'S'
    }.toSeq
    if (wanted.isEmpty || paths.isEmpty) return Map.empty
    // a commit's own files: small appends read their footers on the
    // driver, the 100 TB regime's thousands of files per append in a job
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    readEach(spark, paths)(parquetFooter).collect { case (p, Some(footer)) =>
      val cols = wanted.flatMap { case (c, kind) => footer.columns.get(c).map((c, kind, _)) }
      val ranged = cols.flatMap { case (c, kind, s) =>
        def json(v: Option[Any]): Option[JValue] = (kind, v) match {
          case ('L', Some(l: Long))   => Some(JLong(l))
          case ('D', Some(d: Double)) => Some(JDouble(d))
          case ('S', Some(t: String)) => Some(JString(t))
          case _                      => None
        }
        json(s.min).zip(json(s.max)).map { case (lo, hi) => (c, lo, hi) }
      }
      p -> JsonMethods.compact(JsonMethods.render(JObject(
        "numRecords" -> JLong(footer.rows),
        "minValues" -> JObject(ranged.map { case (c, lo, _) => c -> lo }.toList),
        "maxValues" -> JObject(ranged.map { case (c, _, hi) => c -> hi }.toList),
        "nullCount" -> JObject(cols.collect {
          case (c, _, s) if s.complete && s.nulls.isDefined => c -> (JLong(s.nulls.get): JValue)
        }.toList))))
    }.toMap
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

  /** A column's (min, max); None bounds are unknown and never prune. */
  private[sources] type Range = (Option[Double], Option[Double])
  private val Unknown: Range = (None, None)

  /** Cache the ranges known for one file identity — the hook log-carried
    * stats (Delta `add.stats`) and the sidecar use to pre-warm pruning
    * without any footer read. */
  private[sources] def seedZones(file: FileId, ranges: Map[String, Range]): Unit =
    MetaCache.put(Zones(file), ranges,
      2L * file.path.length + ranges.keysIterator.map(80L + 2L * _.length).sum)

  private def cachedZones(files: Iterable[FileId]): Map[FileId, Map[String, Range]] =
    MetaCache.present[Zones, Map[String, Range]](files.map(Zones(_)))
      .map { case (k, v) => k.file -> v }

  /** Number of FILES whose footers have been opened by manifest builds in
    * this process — observability for the sidecar path (a seeded cache
    * must answer pruning with zero new footer reads; asserted in specs). */
  private[graft] val footerReads = new java.util.concurrent.atomic.AtomicLong(0)

  /** The sidecar directory of a table root. */
  private def sidecarDir(tableDir: String): String = s"$tableDir/_zonemap"

  /** PERSIST the footer-stats manifest as a `_zonemap/` sidecar under the
    * table root — one parquet dataset of (file, length,
    * modification_time, column, rows, min, max, null_count) over every
    * data file and each of `columns` — so a FRESH process seeds its
    * pruning cache from files-sized metadata instead of re-opening every
    * footer (the role `_last_checkpoint` plays for the Delta replay). A
    * file added or rewritten after the save has an identity the sidecar
    * does not hold: a cache miss that falls back to its footer, so the
    * sidecar never needs rewriting to stay correct. The sidecar name is
    * `_`-prefixed, so catalog discovery never mistakes it for data.
    * Returns the sidecar path. */
  def saveManifest(
      spark: SparkSession, tableDir: String, columns: Seq[String],
      format: String = "parquet"): String = {
    require(columns.nonEmpty, "need at least one column to manifest")
    val listed = FsUtil.walkDataFiles(spark, tableDir, s".$format").map(_._1)
    require(listed.nonEmpty, s"no $format files under '$tableDir'")
    // identities come from the listing, taken before reading: a rewrite in
    // between pins the NEW range to the OLD identity, which is harmless
    // (any read sees the new bytes); the reverse order would pin the old
    // range to the new identity
    val paths = listed.map(_.getPath.toString)
    val ids = listed.map(st => st.getPath.toString -> st).toMap
    val rows = readEach(spark, paths)(footerReader(format)).flatMap { case (p, footer) =>
      columns.map { c =>
        val (mn, mx) = footer.fold(Unknown)(_.range(c))
        (p, ids(p).getLen, ids(p).getModificationTime, c, footer.fold(0L)(_.rows),
          mn, mx, footer.flatMap(_.columns.get(c)).flatMap(_.nulls))
      }
    }
    val out = sidecarDir(tableDir)
    spark.createDataFrame(rows)
      .toDF("file", "length", "modification_time", "column", "rows", "min", "max", "null_count")
      .coalesce(1).write.mode("overwrite").parquet(out)
    out
  }

  /** Seed the process-local pruning cache from a table's `_zonemap/`
    * sidecar, if present; returns the number of (file, column) entries
    * loaded (0 when there is no sidecar, or it predates file identities).
    * Idempotent and cheap — the sidecar is files-sized metadata. */
  def seedFromSidecar(spark: SparkSession, tableDir: String): Long = {
    val dir = sidecarDir(tableDir)
    if (!FsUtil.exists(spark, s"$dir/_SUCCESS")) return 0L
    val sidecar = spark.read.parquet(dir)
    if (!sidecar.columns.contains("modification_time")) return 0L
    val rows = sidecar
      .select(col("file"), col("length"), col("modification_time"),
        col("column"), col("min"), col("max"))
      .collect()
    val byFile = rows.groupBy(r => FileId(r.getString(0), r.getLong(1), r.getLong(2)))
    val cached = cachedZones(byFile.keys)
    byFile.foreach { case (id, rs) =>
      def d(r: org.apache.spark.sql.Row, i: Int): Option[Double] =
        if (r.isNullAt(i)) None else Some(r.getDouble(i))
      seedZones(id, cached.getOrElse(id, Map.empty) ++
        rs.map(r => r.getString(3) -> (d(r, 4), d(r, 5))))
    }
    rows.length.toLong
  }

  private def footerReader(format: String): (Configuration, String) => Option[FooterStats] =
    if (format == "orc") orcFooter else parquetFooter

  /** (min, max) of `column` for each of `files`, in order. A file's zone
    * entry holds every numeric column range known for its identity; only
    * files whose entry lacks `column` are looked up — first in their
    * table root's sidecar (probed once per root while the cache holds the
    * probe), then in their own footers, read per the catalog's format.
    * A footer read caches every numeric range the footer carries. */
  private def zonesFor(
      spark: SparkSession, files: Seq[SizedFile], column: String,
      format: String): Seq[Range] = {
    var zones = cachedZones(files.map(_.id))
    def missing = files.filterNot(f => zones.get(f.id).exists(_.contains(column)))
    if (missing.nonEmpty) {
      // a fresh process may have a PERSISTED manifest next to the data.
      // saveManifest writes the sidecar at the table root; a
      // Hive-partitioned file sits under `col=value` segments, so ascend
      // past every '='-named directory to find that root (flat layouts
      // ascend zero levels: parent IS the root)
      def tableRoot(p: String): String = {
        var d = new Path(p).getParent
        while (d.getParent != null && d.getName.contains("=")) d = d.getParent
        d.toString
      }
      val roots = missing.map(f => tableRoot(f.key)).distinct.map(SidecarProbed(_))
      val probed = MetaCache.present[SidecarProbed, AnyRef](roots)
      val unprobed = roots.filterNot(probed.contains)
      unprobed.foreach { r =>
        seedFromSidecar(spark, r.dir)
        MetaCache.put(r, r, 2L * r.dir.length)
      }
      if (unprobed.nonEmpty) zones = zones ++ cachedZones(missing.map(_.id))
      val miss = missing
      if (miss.nonEmpty) {
        footerReads.addAndGet(miss.size.toLong)
        val footers = readEach(spark, miss.map(_.key).distinct)(footerReader(format)).toMap
        miss.foreach { f =>
          val footer = footers(f.key)
          val known = footer.fold(Map.empty[String, Range])(ft =>
            ft.columns.keys.map(c => c -> ft.range(c)).toMap.filter(_._2 != Unknown))
          val ranges = zones.getOrElse(f.id, Map.empty) ++ known +
            (column -> footer.fold(Unknown)(_.range(column)))
          seedZones(f.id, ranges)
          zones += f.id -> ranges
        }
      }
    }
    files.map(f => zones.get(f.id).flatMap(_.get(column)).getOrElse(Unknown))
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
      fs.zip(zonesFor(spark, fs, byLower(cLower), format)).filter {
        case (_, (Some(mn), Some(mx))) => !(mx < r.lo || mn > r.hi)
        case _                         => true // unknown range: never skip
      }.map(_._1)
    }
  }
}
