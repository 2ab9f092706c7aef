package graft.sources

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{And, AttributeReference, BoundReference, Expression, Predicate}
import org.apache.spark.sql.catalyst.util.CaseInsensitiveMap
import org.apache.spark.sql.execution.datasources.{FileFormat, FileIndex, HadoopFsRelation, PartitionDirectory, csv, json, orc, parquet}
import org.apache.spark.sql.functions.{col, expr}
import org.apache.spark.sql.graft.PlanBridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.model.BuzzException

/** A file known to a catalog: path + byte length + partition values, and
  * the modification time that, with path and length, identifies the
  * file's bytes for the metadata cache ([[MetaCache.FileId]]). Static
  * catalogs take it from the listing's `FileStatus`, Delta catalogs from
  * the add action; 0 where the lister does not know it (Delta files are
  * never rewritten in place, so their path and length suffice).
  *
  * Reference: `SizedFile { key, length }` at
  * `/root/reference/code/src/models/mod.rs:13-16`; partition values are
  * always strings (`/root/reference/README.md:113`).
  */
final case class SizedFile(
    key: String, length: Long, partitionValues: Seq[String], modificationTime: Long = 0L) {
  def id: MetaCache.FileId = MetaCache.FileId(key, length, modificationTime)

  /** This file as Spark's reader would stat it: the path qualified against
    * its file system, with the catalog's length and modification time.
    * The qualified path is parsed once more from its string form, as
    * Spark's `FileFormat` does before reporting `_metadata.file_path`, so
    * an empty authority (`file:///x`) becomes none (`file:/x`) and every
    * string Spark derives from this status is [[scanPath]]. */
  private[sources] def status(conf: Configuration): FileStatus = {
    val p = new Path(key)
    val qualified = new Path(p.getFileSystem(conf).makeQualified(p).toString)
    new FileStatus(length, false, 0, 0L, modificationTime, qualified)
  }

  /** The file's identity inside a scan: the URI of the path
    * [[SelectedFileIndex]] hands Spark, which Spark reports as
    * `_metadata.file_path` for each row read from it and names in its
    * read errors. Every match between catalog files and scanned rows
    * (deletion vectors, per-file commit versions, worker-failure
    * attribution) compares this string. */
  private[graft] def scanPath(conf: Configuration): String =
    status(conf).getPath.toUri.toString
}

/** A catalog that can list its files as a queryable table and be split into
  * per-file scan units.
  *
  * Reference: the `SplittableTable` trait at
  * `/root/reference/code/src/datasource/catalog/mod.rs:20-30`. The catalog
  * itself is never scanned directly (scan errors, mod.rs:111-121); it exists
  * to be pruned + split. In Spark, "split" collapses into the file →
  * partition assignment the scheduler already does, so `read` returns one
  * DataFrame over all surviving files and lets Spark parallelize.
  */
trait SplittableCatalog {
  def name: String

  /** Declared data schema (partition columns NOT included). The reference
    * declares schemas up front per catalog (example_catalog.rs:132-161). */
  def schema: StructType

  /** Whether a declared NULLABLE column may legitimately be absent from a
    * data file's footer — true for Delta catalogs, whose schema evolution
    * means files written before a column was added simply lack it (absent
    * ≡ all-null). Static file catalogs keep the reference's strict
    * presence contract. Consumed by the engine's pre-flight
    * [[SchemaVerifier]] pass. */
  def missingNullableOk: Boolean = false

  /** Names of partition columns; values are strings appended after the data
    * columns (static_catalog.rs:111-120). */
  def partitionColumns: Seq[String]

  /** Columns stored as parquet TIMESTAMP(NANOS), which Spark's reader only
    * surfaces as epoch-nanos longs: declared TimestampType in [[schema]],
    * read as long, truncated to microseconds inside [[read]]. Keeping the
    * conversion in the catalog read path means any map SQL can touch these
    * columns — instead of relying on column pruning to hide them. */
  def nanosColumns: Seq[String] = Nil

  /** Columns stored as parquet TIMESTAMP(MICROS/MILLIS, isAdjustedToUTC =
    * false), which Spark reads as TIMESTAMP_NTZ: declared TimestampType in
    * [[schema]], read as NTZ, cast to session timestamps inside [[read]].
    * All entrypoints pin the session time zone to UTC, so the cast is
    * value-preserving. Same rationale as [[nanosColumns]]: the catalog owns
    * the normalization so every map SQL sees one timestamp type. */
  def ntzColumns: Seq[String] = Nil

  /** Data format of the catalog's files: parquet (default) | orc | csv |
    * json. Beyond reference (its engine is parquet-only). Non-parquet
    * catalogs skip the parquet-specific machinery: footer schema
    * verification, TIMESTAMP(NANOS)/NTZ normalization, and zone-map
    * footer pruning (the manifest builder degrades them to unknown-stats
    * rows anyway — the planner simply doesn't try). */
  def format: String = "parquet"

  def files: Seq[SizedFile]

  /** Merge-on-read deletion vectors: file key → resolved descriptor of
    * the file's DELETED row indexes (the protocol's portable RoaringBitmap
    * frame inside a `.bin` vector file — [[DeletionVectors]]). [[read]]
    * anti-joins these out via the scan's own `_metadata.row_index`, so a
    * row-level delete never rewrites a data file — the 100 TB GDPR path is
    * one small vector write + one log commit, and the anti-join's build
    * side is DV-sized, not table-sized. Empty for every catalog except
    * Delta tables with DV commits. */
  def deletionVectors: Map[String, ResolvedDv] = Map.empty

  /** Column mapping (logical → physical parquet name), derived from the
    * declared schema's field metadata — non-empty only after a Delta
    * RENAME COLUMN. [[read]] scans under physical names and surfaces
    * logical ones; unmapped catalogs skip all of it. */
  final def physicalNames: Map[String, String] = ColumnMapping.mapping(schema)

  /** Full table schema as workers see it and [[read]] surfaces it: the data
    * columns made nullable, as Spark reads any file, then the partition
    * columns as nullable strings. */
  final def fullSchema: StructType =
    partitionColumns.foldLeft(PlanBridge.asNullable(schema))(_.add(_, StringType))

  /** The catalog's "table of files": one row per file with columns
    * (key string, length long, <partition cols> string...), as a local
    * relation on the driver. Reference: catalog/mod.rs:128-137. */
  final def fileTable(spark: SparkSession): DataFrame = {
    val st = StructType(
      StructField("key", StringType, nullable = false) ::
      StructField("length", LongType, nullable = false) ::
      partitionColumns.map(p => StructField(p, StringType, nullable = false)).toList)
    val rows = files.map(f => Row.fromSeq(f.key +: f.length +: f.partitionValues))
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), st)
  }

  /** Partition pruning: evaluate the user's SQL WHERE clause against the
    * file table and keep the surviving files.
    * Reference: `filter_catalog` runs `SELECT * FROM catalog WHERE <filter>`
    * over the file table (catalog/mod.rs:52-99). Implemented as a DataFrame
    * filter so Catalyst handles the expression; the file table is a local
    * relation (as the file list in Spark's own `PruneFileSourcePartitions`
    * is driver-side metadata), so the optimizer evaluates the filter on
    * the driver and no Spark job runs.
    */
  final def prune(spark: SparkSession, partitionFilter: Option[String]): Seq[SizedFile] =
    partitionFilter match {
      case None => files
      case Some(f) =>
        val surviving =
          try fileTable(spark).where(expr(f)).select(col("key")).collect().map(_.getString(0)).toSet
          catch {
            case e: Exception =>
              throw new BuzzException.PlanError(s"invalid partition_filter '$f': ${e.getMessage}")
          }
        files.filter(sf => surviving.contains(sf.key))
    }

  /** Read the given files as ONE file scan over exactly these files, any
    * layout ([[SelectedFileIndex]]), surfacing [[fullSchema]]. */
  final def read(spark: SparkSession, selected: Seq[SizedFile]): DataFrame =
    readInternal(spark, selected, withRowIndex = false, keepPath = false)

  /** [[read]] WITHOUT deletion-vector filtering, plus two trailing columns:
    * `__gfp` (the row's [[SizedFile.scanPath]]) and `__gri` (the parquet scan's
    * `_metadata.row_index`). The DV writer's raw view — it must see every
    * physical row to compute and merge deleted row indexes. */
  private[graft] final def readWithRowIndex(
      spark: SparkSession, selected: Seq[SizedFile]): DataFrame =
    readInternal(spark, selected, withRowIndex = true, keepPath = false)

  /** [[read]] (deletion vectors applied) plus one trailing `__gfp` column
    * — the [[SizedFile.scanPath]] of each row's source file. The change-feed
    * readers join per-file metadata (the commit version that added or
    * removed a file) back onto the rows of a MULTI-COMMIT single-relation
    * scan, which is what keeps a long feed span's plan width bounded by
    * schema-era runs instead of one union leaf per commit. */
  private[graft] final def readKeepingPath(
      spark: SparkSession, selected: Seq[SizedFile]): DataFrame =
    readInternal(spark, selected, withRowIndex = false, keepPath = true)

  private def readInternal(
      spark: SparkSession, selected: Seq[SizedFile], withRowIndex: Boolean,
      keepPath: Boolean): DataFrame = {
    // ranged-read tuning for object-store catalogs (no-op for any other
    // scheme); all of a catalog's files share one scheme, so the first
    // decides
    selected.headOption.foreach(f => FsUtil.applyS3aTuning(spark, f.key))
    // TIMESTAMP(NANOS) columns: declared TimestampType publicly, read as
    // epoch-nanos long, truncated to µs (integer DIV — double division loses
    // precision above 2^53 ns; DuckDB's ns→µs cast truncates identically).
    // Column mapping: the scan schema uses each field's PHYSICAL parquet
    // name; renamed fields come back under their logical names below.
    val readSchema = StructType(schema.fields.map { f0 =>
      val f = f0.copy(name = ColumnMapping.physicalName(f0))
      if (nanosColumns.contains(f0.name)) f.copy(dataType = LongType)
      else if (ntzColumns.contains(f0.name)) f.copy(dataType = TimestampNTZType)
      else f
    })
    if (nanosColumns.nonEmpty) {
      // DELIBERATE session-conf set, not scoped: the flag is consulted at
      // EXECUTION time by the parquet reader, so restoring it after building
      // this (lazy) DataFrame would break the read. The flag is monotonic in
      // effect — it only changes files that would otherwise FAIL to read
      // (Spark errors on TIMESTAMP(NANOS) without it) into long-typed
      // columns; valid reads are unaffected.
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    }
    // partition columns are strings holding the catalog's values verbatim
    // (the reference's strings-only model, README.md:113)
    val partitionSchema = StructType(partitionColumns.map(StructField(_, StringType)))
    val conf = spark.sessionState.newHadoopConf()
    val loaded = spark.baseRelationToDataFrame(HadoopFsRelation(
      SelectedFileIndex(partitionSchema, selected)(conf),
      partitionSchema, PlanBridge.asNullable(readSchema), bucketSpec = None,
      StaticCatalog.SupportedFormats(format)(), formatOptions)(spark))
    // row identity (scan path + row index) is attached RIGHT AFTER the
    // load — `_metadata` is a scan-relation column and must be resolved
    // before projections hide it. Needed when this read either filters
    // deletion vectors out or surfaces the identity itself.
    val scanned =
      if (!withRowIndex && !keepPath && !selected.exists(f => deletionVectors.contains(f.key))) loaded
      else loaded.withColumn("__gfp", col("_metadata.file_path"))
        .withColumn("__gri", col("_metadata.row_index"))
    // surface mapped columns under their LOGICAL names from here on —
    // ONE atomic select (sequential renames would collide when a rename
    // chain reuses a live name mid-fold, e.g. w→v alongside v→col-uuid)
    val logicalFor = physicalNames.map(_.swap)
    val logicalNamed =
      if (physicalNames.isEmpty) scanned
      else scanned.select(scanned.columns.toIndexedSeq.map(c =>
        col(c).as(logicalFor.getOrElse(c, c))): _*)
    // merge-on-read: anti-join each DV'd file's deleted row indexes out.
    // The raw (writer's) view skips this — it must see every physical row.
    val undeleted =
      if (withRowIndex) logicalNamed
      else {
        val dvd = selected.flatMap(f => deletionVectors.get(f.key)
          .map(dv => (f.scanPath(conf), dv)))
        if (dvd.isEmpty) logicalNamed
        else {
          // each file's descriptor frames exactly ONE vector; decode is
          // distributed (one task per descriptor slice), so the build
          // side never passes through the driver
          val dvRows = DeletionVectors.deletedRowsDF(spark, dvd)
          // no broadcast hint: AQE broadcasts the (small) vector side on
          // its own; a pathological multi-GB DV still executes as SMJ
          logicalNamed.join(dvRows,
            logicalNamed("__gfp") === dvRows("__path") &&
              logicalNamed("__gri") === dvRows("__ri"),
            "left_anti")
        }
      }
    val nanosConverted = nanosColumns.foldLeft(undeleted) { (df, c) =>
      df.withColumn(c, expr(s"timestamp_micros(`$c` DIV 1000)"))
    }
    val converted = ntzColumns.foldLeft(nanosConverted) { (df, c) =>
      df.withColumn(c, col(c).cast(TimestampType))
    }
    // the catalog's declared column order (data cols, then partition
    // cols), then the identity columns this read surfaces
    val identity =
      if (withRowIndex) Seq("__gfp", "__gri") else if (keepPath) Seq("__gfp") else Nil
    val projected = converted.select((fullSchema.fieldNames.toSeq ++ identity).map(col): _*)
    // the mapping is THIS table's storage detail — it must not ride the
    // output schema into downstream writers (a synced/derived table would
    // otherwise claim physical names its own files don't have)
    if (physicalNames.isEmpty) projected
    else projected.select(projected.schema.fields.map(f =>
      col(f.name).as(f.name, ColumnMapping.withoutMapping(f.metadata))).toSeq: _*)
  }

  /** User-supplied reader options (a Static catalog's JSON `options`
    * object); merged OVER the engine defaults, so `{"header": "false"}`
    * turns off the headered-CSV contract for genuinely headerless files
    * and `{"sep": "\t"}` reads TSV. */
  def readerOptions: Map[String, String] = Map.empty

  /** Reader options the format needs, before user overrides. CSV
    * catalogs are HEADERED by default (what every sink here writes):
    * `header=true` names the columns, and `enforceSchema=false` makes
    * Spark CHECK the file's header names against the declared schema
    * instead of assigning columns positionally — a misordered
    * declaration fails loudly rather than silently mis-assigning every
    * column. Headerless CSV declares `{"header": "false"}` in the
    * catalog's `options`. */
  private def formatOptions: Map[String, String] = CaseInsensitiveMap(format match {
    case "csv" => Map("header" -> "true", "enforceSchema" -> "false")
    case _     => Map.empty[String, String]
  }) ++ readerOptions
}

/** Compiled-in static file list, parity with
  * `/root/reference/code/src/datasource/catalog/static_catalog.rs`. */
final class StaticCatalog(
    val name: String,
    val schema: StructType,
    val partitionColumns: Seq[String],
    val files: Seq[SizedFile],
    override val nanosColumns: Seq[String] = Nil,
    override val ntzColumns: Seq[String] = Nil,
    override val format: String = "parquet",
    override val readerOptions: Map[String, String] = Map.empty,
    override val missingNullableOk: Boolean = false,
    override val deletionVectors: Map[String, ResolvedDv] = Map.empty)
  extends SplittableCatalog {
  require(
    files.forall(_.partitionValues.length == partitionColumns.length),
    "every file must carry one value per partition column")

  /** Same catalog viewed under a DIFFERENT deletion-vector state — how a
    * change-feed reader presents one side of a commit at that side's DV
    * truth (the pre-commit state for removes, the commit's own actions
    * for adds). */
  private[graft] def withDeletionVectors(dv: Map[String, ResolvedDv]): StaticCatalog =
    new StaticCatalog(name, schema, partitionColumns, files, nanosColumns,
      ntzColumns, format, readerOptions, missingNullableOk, dv)
}

object StaticCatalog {
  /** One footer read serving inference: the TIMESTAMP(NANOS) column names
    * (Spark's reader only surfaces these as longs, so the catalog converts
    * them explicitly, see [[SplittableCatalog.read]]), the NTZ ones, and
    * the REQUIRED (non-nullable) column names. Spark's own inference
    * widens every field to nullable, which would make an inferred catalog
    * over a REQUIRED column unverifiable under the strict (reference-
    * parity) nullability check — the footer's repetition is the truth. */
  private def footerMeta(
      spark: SparkSession, path: String): (Seq[String], Seq[String], Set[String]) = {
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    import org.apache.parquet.schema.LogicalTypeAnnotation
    import org.apache.parquet.schema.LogicalTypeAnnotation.TimestampLogicalTypeAnnotation
    import org.apache.parquet.schema.Type
    val reader = ParquetFileReader.open(
      HadoopInputFile.fromPath(new Path(path),
        spark.sessionState.newHadoopConf()))
    val footer = try reader.getFooter finally reader.close()
    import scala.jdk.CollectionConverters._
    val fields = footer.getFileMetaData.getSchema.getFields.asScala
    val nanos = fields.collect {
      case f if f.isPrimitive &&
        (f.getLogicalTypeAnnotation match {
          case t: TimestampLogicalTypeAnnotation =>
            t.getUnit == LogicalTypeAnnotation.TimeUnit.NANOS
          case _ => false
        }) => f.getName
    }.toSeq
    // local (unadjusted) MICROS/MILLIS timestamps — Spark reads TIMESTAMP_NTZ
    val ntz = fields.collect {
      case f if f.isPrimitive &&
        (f.getLogicalTypeAnnotation match {
          case t: TimestampLogicalTypeAnnotation =>
            !t.isAdjustedToUTC && t.getUnit != LogicalTypeAnnotation.TimeUnit.NANOS
          case _ => false
        }) => f.getName
    }.toSeq
    val required = fields.collect {
      case f if f.getRepetition == Type.Repetition.REQUIRED => f.getName
    }.toSet
    (nanos, ntz, required)
  }

  /** (schema, nanos columns, NTZ columns) of a parquet or ORC file, inferred
    * by its file format from its known status — a name, never a glob
    * (`a[1].parquet` is one file) — and made nullable as Spark's reader does. */
  private def infer(
      spark: SparkSession, format: String,
      file: SizedFile): (StructType, Seq[String], Seq[String]) = {
    def inferred = PlanBridge.asNullable(SupportedFormats(format)().inferSchema(
      spark, Map.empty, Seq(file.status(spark.sessionState.newHadoopConf())))
      .getOrElse(throw new BuzzException.BadRequest(s"cannot infer a schema from '${file.key}'")))
    if (format == "orc") (inferred, Nil, Nil) // self-describing footer
    else {
      // tolerate TIMESTAMP(NANOS) columns during inference (read as
      // long), then re-declare them TimestampType backed by the
      // catalog's conversion
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      val (nanos, ntz, required) = footerMeta(spark, file.key)
      (StructType(inferred.fields.map { f0 =>
        // inference widens every field to nullable; restore the
        // footer's repetition so the inferred declaration round-trips
        // through the strict nullability check (reference parity)
        val f = f0.copy(nullable = !required.contains(f0.name))
        if (nanos.contains(f.name) || ntz.contains(f.name))
          f.copy(dataType = TimestampType)
        else f
      }), nanos, ntz)
    }
  }

  /** Formats a Static catalog can declare, each with the Spark file format
    * it is read through; parquet is the default and the only one the
    * reference's engine reads. */
  val SupportedFormats: Map[String, () => FileFormat] = Map(
    "parquet" -> (() => new parquet.ParquetFileFormat), "orc" -> (() => new orc.OrcFileFormat),
    "csv" -> (() => new csv.CSVFileFormat), "json" -> (() => new json.JsonFileFormat))

  /** Catalog over explicit parquet paths, inferring the schema from the
    * first file; file lengths and modification times come from the
    * Hadoop FileSystem so `file://`, `hdfs://` and `s3a://` URIs all work. */
  def overLocalFiles(
      spark: SparkSession,
      name: String,
      paths: Seq[String],
      partitionColumns: Seq[String] = Nil,
      partitionValues: Map[String, Seq[String]] = Map.empty,
      format: String = "parquet",
      declaredSchema: Option[StructType] = None,
      readerOptions: Map[String, String] = Map.empty): StaticCatalog =
    overFiles(spark, name,
      paths.map { p =>
        val st = FsUtil.status(spark, p)
        SizedFile(p, st.getLen, partitionValues.getOrElse(p, Nil), st.getModificationTime)
      },
      partitionColumns, format, declaredSchema, readerOptions)

  /** Catalog over files whose lengths and modification times are already
    * known; `listed` is evaluated only once the format can be read. */
  private def overFiles(
      spark: SparkSession,
      name: String,
      listed: => Seq[SizedFile],
      partitionColumns: Seq[String],
      format: String,
      declaredSchema: Option[StructType],
      readerOptions: Map[String, String]): StaticCatalog = {
    require(SupportedFormats.contains(format),
      s"unsupported catalog format '$format'")
    lazy val files = listed
    val (schema, nanosCols, ntzCols) = declaredSchema match {
      case Some(s) => (s, Nil: Seq[String], Nil: Seq[String])
      case None => format match {
        // the reference reads one footer per catalog construction; callers
        // that rebuild a catalog per query (the JSON API resolves catalogs
        // at query time) would otherwise pay a footer read + Spark schema
        // inference on every query. Keyed by the first file's identity, so
        // a file rewritten in place is inferred afresh.
        case "parquet" | "orc" =>
          MetaCache.getOrLoad(MetaCache.Inferred(format, files.head.id))(
            infer(spark, format, files.head))(
            v => 256L + 128L * v._1.length)
        case other =>
          // inferring csv/json schemas requires a DATA scan, which catalog
          // resolution must never pay at any scale — require a declaration
          throw new BuzzException.BadRequest(
            s"$other catalog '$name' requires a declared schema " +
              "(\"schema\": \"col TYPE, ...\") — schema inference would scan the data")
      }
    }
    new StaticCatalog(
      name, schema, partitionColumns, files, nanosCols, ntzCols, format, readerOptions)
  }

  /** Catalog over a parquet file or a directory of parquet files (the shape
    * a `Static` catalog uri takes in the JSON query API). A directory laid
    * out Hive-style (`col=value/` subdirectories) is discovered as a
    * partitioned catalog: partition columns come from the directory names,
    * values are strings (exactly the reference's partition model,
    * README.md:113), and the `partition_filter` prunes whole directories
    * before any data is read. */
  def overPath(
      spark: SparkSession,
      name: String,
      uri: String,
      partitionColumns: Seq[String] = Nil,
      partitionValuesFor: String => Seq[String] = _ => Nil,
      format: String = "parquet",
      declaredSchema: Option[StructType] = None,
      readerOptions: Map[String, String] = Map.empty): StaticCatalog = {
    require(SupportedFormats.contains(format),
      s"unsupported catalog format '$format'")
    if (!FsUtil.isDirectory(spark, uri)) {
      return overLocalFiles(spark, name, Seq(uri), partitionColumns,
        Map(uri -> partitionValuesFor(uri)), format, declaredSchema, readerOptions)
    }
    val found = FsUtil.walkDataFiles(spark, uri, s".$format")
    if (found.isEmpty)
      throw new BuzzException.BadRequest(s"no $format files under '$uri'")
    val discoveredCols = found.head._2.map(_._1)
    if (found.exists(_._2.map(_._1) != discoveredCols))
      throw new BuzzException.BadRequest(
        s"inconsistent Hive partition layout under '$uri'")
    if (discoveredCols.nonEmpty && partitionColumns.nonEmpty)
      throw new BuzzException.BadRequest(
        s"'$uri' is Hive-partitioned (${discoveredCols.mkString(",")}); " +
          "explicit partitionColumns conflict with the discovered layout")
    val cols = if (discoveredCols.nonEmpty) discoveredCols else partitionColumns
    // the listing already carries each file's length and mtime: no stat
    val files = found.map { case (st, parts) =>
      val p = st.getPath.toString
      SizedFile(p, st.getLen,
        if (discoveredCols.nonEmpty) parts.map(_._2) else partitionValuesFor(p),
        st.getModificationTime)
    }
    overFiles(spark, name, files, cols, format, declaredSchema, readerOptions)
  }
}

/** The files a catalog read selected, as the `FileIndex` of ONE Spark file
  * scan: these files with the lengths and mtimes the catalog holds, grouped
  * by their partition values taken literally. Nothing is listed, stat'd,
  * globbed or parsed out of a path, so every layout plans the same scan —
  * as the reference's HBee scans exactly the file descriptor it is handed
  * (`from_proto.rs:10-34`). Equal indexes select equal files, so two reads
  * of the same files share cached and reused plans. */
private[sources] final case class SelectedFileIndex(
    partitionSchema: StructType, files: Seq[SizedFile])(conf: Configuration)
  extends FileIndex {

  private lazy val statuses = files.map(_.status(conf))

  private lazy val directories: Seq[PartitionDirectory] = {
    val byValues = files.zip(statuses).groupBy(_._1.partitionValues)
    files.map(_.partitionValues).distinct.map { values =>
      PartitionDirectory(InternalRow.fromSeq(values.map(UTF8String.fromString)),
        byValues(values).map(_._2).toArray)
    }
  }

  def rootPaths: Seq[Path] = statuses.map(_.getPath)
  def inputFiles: Array[String] = rootPaths.map(_.toString).toArray
  def sizeInBytes: Long = files.map(_.length).sum
  def refresh(): Unit = ()

  /** Spark drops partition filters after a file scan, so the index applies
    * them to each directory's values, as Spark's own indexes do. */
  def listFiles(
      partitionFilters: Seq[Expression], dataFilters: Seq[Expression]): Seq[PartitionDirectory] =
    partitionFilters.reduceOption(And).fold(directories) { filter =>
      val keep = Predicate.createInterpreted(filter.transform { case a: AttributeReference =>
        BoundReference(partitionSchema.fieldNames.indexOf(a.name), StringType, nullable = true)
      })
      directories.filter(d => keep.eval(d.values))
    }
}
