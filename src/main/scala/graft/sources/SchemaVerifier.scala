package graft.sources

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
import org.apache.parquet.schema.Type
import org.apache.spark.sql.types._

import graft.model.BuzzException

/** Strict schema verification against the parquet footer, parity with the
  * reference's scan-time check (`/root/reference/code/src/execution_plan/
  * parquet.rs:84-100`): for every declared column, the file must contain a
  * field with the same name, a compatible physical type AND the same
  * nullability (the reference compares `is_nullable()` exactly: a parquet
  * REQUIRED column declared nullable fails, as does OPTIONAL declared
  * non-nullable), else the scan fails up front. Spark alone is permissive
  * (missing columns become nulls, compatible types are cast, nullability
  * is widened), so this is an explicit pre-flight check.
  *
  * Scale note: this reads only footers (a few KB each), driver-side, and is
  * opt-in per catalog read. For 100 TB / ~100k files you would verify a
  * sample or push the check into the first task per file instead.
  */
object SchemaVerifier {

  /** Verified-file memo: a file that PASSED verification against a
    * declaration is not re-read while [[MetaCache]] holds its (format,
    * path, length, mtime, declared DDL, flag) key — the check is a pure
    * function of the file bytes and the declaration, and the engine
    * re-verifies per query (the fingerprint stat is ~10× cheaper than a
    * footer open+parse). Failures are never cached — a mismatch re-throws
    * with its full message on every call. The format leg keeps a path
    * verified as ORC from ever skipping the stricter parquet check (and
    * vice versa).
    *
    * The (length, mtime) identity is only trustworthy where mtime is
    * fine-grained and monotone — a file REWRITTEN IN PLACE with the same
    * byte length inside one mtime tick (coarse-mtime object stores) would
    * silently pass stale verification, and this verifier exists precisely
    * to fail such files. So the memo is scheme-gated: ON for file/hdfs
    * (fine-grained mtime; also the bench/engine path the memo was built
    * for), OFF elsewhere unless the Hadoop conf sets
    * `graft.schemaVerifier.memo=on` (`off` force-disables everywhere). */
  private def memoEnabled(p: Path, conf: Configuration): Boolean =
    conf.get("graft.schemaVerifier.memo", "auto") match {
      case "on"  => true
      case "off" => false
      case _ =>
        Option(p.toUri.getScheme).getOrElse("file") match {
          case "file" | "local" | "hdfs" | "viewfs" => true
          case _                                    => false
        }
    }

  private def verifyEach(
      format: String, paths: Seq[String], declared: StructType,
      conf: Configuration, missingNullableOk: Boolean)(check: String => Unit): Unit = {
    lazy val ddl = declared.toDDL
    paths.foreach { p =>
      if (!memoEnabled(new Path(p), conf)) check(p)
      else {
        val st = new Path(p).getFileSystem(conf).getFileStatus(new Path(p))
        val key = MetaCache.Verified(format,
          MetaCache.FileId(p, st.getLen, st.getModificationTime), ddl, missingNullableOk)
        MetaCache.getOrLoad(key) { check(p); key }(_ => 2L * (p.length + ddl.length))
      }
    }
  }

  /** Pass the session's Hadoop conf (`spark.sessionState.newHadoopConf()`)
    * so `spark.hadoop.*` filesystem settings (s3a credentials, endpoints)
    * apply to the footer reads — a bare Configuration would resolve remote
    * paths with none of the session's filesystem config. */
  def verify(
      paths: Seq[String],
      declared: StructType,
      conf: Configuration = new Configuration(),
      missingNullableOk: Boolean = false): Unit =
    verifyEach("parquet", paths, declared, conf, missingNullableOk)(
      verifyOne(_, declared, conf, missingNullableOk))

  private def verifyOne(
      p: String,
      declared: StructType,
      conf: Configuration,
      missingNullableOk: Boolean): Unit = {
    locally {
      val reader = ParquetFileReader.open(HadoopInputFile.fromPath(new Path(p), conf))
      val footer = try reader.getFooter finally reader.close()
      val fileSchema = footer.getFileMetaData.getSchema
      declared.fields.foreach { f =>
        if (!fileSchema.containsField(f.name)) {
          // under schema EVOLUTION (Delta catalogs) a file written before
          // a nullable column was added legitimately lacks it — absent ≡
          // all-null, exactly what the reader fills in. A non-nullable
          // declared column can never be satisfied by absence.
          if (!(missingNullableOk && f.nullable))
            throw new BuzzException.SchemaMismatch(
              s"file $p is missing declared column '${f.name}'")
        } else {
          val ft = fileSchema.asGroupType().getFields.stream()
            .filter(t => t.getName == f.name).findFirst().get()
          if (ft.isPrimitive) {
            val prim = ft.asPrimitiveType().getPrimitiveTypeName
            if (!compatible(prim, f.dataType))
              throw new BuzzException.SchemaMismatch(
                s"file $p column '${f.name}': parquet $prim incompatible with declared ${f.dataType.sql}")
          }
          // nullability parity: parquet REQUIRED ⇔ nullable=false, anything
          // else (OPTIONAL/REPEATED) ⇔ nullable=true — exact match, both
          // directions, per the reference's is_nullable() equality
          val fileNullable = ft.getRepetition != Type.Repetition.REQUIRED
          if (fileNullable != f.nullable)
            throw new BuzzException.SchemaMismatch(
              s"file $p column '${f.name}': parquet repetition ${ft.getRepetition} " +
                s"incompatible with declared nullable=${f.nullable}")
        }
      }
    }
  }

  /** ORC twin of [[verify]]: every declared column must exist in each
    * file's footer TypeDescription with a compatible category. ORC's
    * schema carries no per-field repetition, so there is no nullability
    * leg — presence + type only (the parquet check's nullability parity
    * is a parquet-footer contract). Field lookup is case-SENSITIVE, the
    * same exact-name contract [[verify]] applies for parquet (the
    * reference compares field names exactly) — the strict flag enforces
    * one rule regardless of format. */
  def verifyOrc(
      paths: Seq[String],
      declared: StructType,
      conf: Configuration = new Configuration(),
      missingNullableOk: Boolean = false): Unit = {
    import scala.jdk.CollectionConverters._
    def verifyOneOrc(p: String): Unit = {
      val reader = org.apache.orc.OrcFile.createReader(
        new Path(p), org.apache.orc.OrcFile.readerOptions(conf))
      val (names, kids) =
        try {
          val s = reader.getSchema
          (s.getFieldNames.asScala.toSeq, s.getChildren.asScala.toSeq)
        } finally reader.close()
      declared.fields.foreach { f =>
        val idx = names.indexOf(f.name)
        if (idx < 0) {
          if (!(missingNullableOk && f.nullable))
            throw new BuzzException.SchemaMismatch(
              s"file $p is missing declared column '${f.name}'")
        } else {
          val cat = kids(idx).getCategory
          if (!orcCompatible(cat, f.dataType))
            throw new BuzzException.SchemaMismatch(
              s"file $p column '${f.name}': orc $cat incompatible with declared ${f.dataType.sql}")
        }
      }
    }
    verifyEach("orc", paths, declared, conf, missingNullableOk)(verifyOneOrc)
  }

  private def orcCompatible(
      cat: org.apache.orc.TypeDescription.Category, dt: DataType): Boolean = {
    import org.apache.orc.TypeDescription.Category._
    (cat, dt) match {
      case (STRING | VARCHAR | CHAR, StringType)            => true
      case (BINARY, BinaryType)                             => true
      case (LONG, LongType)                                 => true
      case (INT, IntegerType)                               => true
      case (SHORT, ShortType)                               => true
      case (BYTE, ByteType)                                 => true
      case (DOUBLE, DoubleType)                             => true
      case (FLOAT, FloatType)                               => true
      case (BOOLEAN, BooleanType)                           => true
      case (DATE, DateType)                                 => true
      case (TIMESTAMP, TimestampType | TimestampNTZType)    => true
      case (TIMESTAMP_INSTANT, TimestampType)               => true
      case (DECIMAL, _: DecimalType)                        => true
      // nested/list/map/struct categories: not served by this verifier —
      // conservative REJECT so a declared scalar never silently reads a
      // complex column
      case _                                                => false
    }
  }

  private def compatible(prim: PrimitiveTypeName, dt: DataType): Boolean = (prim, dt) match {
    case (PrimitiveTypeName.BINARY, StringType | BinaryType)                   => true
    case (PrimitiveTypeName.INT64, LongType | TimestampType | TimestampNTZType)=> true
    case (PrimitiveTypeName.INT32, IntegerType | ShortType | ByteType | DateType) => true
    case (PrimitiveTypeName.DOUBLE, DoubleType)                                => true
    case (PrimitiveTypeName.FLOAT, FloatType)                                  => true
    case (PrimitiveTypeName.BOOLEAN, BooleanType)                              => true
    case (PrimitiveTypeName.INT96, TimestampType | TimestampNTZType)           => true
    case (PrimitiveTypeName.FIXED_LEN_BYTE_ARRAY, _: DecimalType | BinaryType) => true
    case (PrimitiveTypeName.INT32, _: DecimalType)                             => true
    case (PrimitiveTypeName.INT64, _: DecimalType)                             => true
    case _                                                                     => false
  }
}
