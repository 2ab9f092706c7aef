package graft.sources

import org.apache.spark.sql.SparkSession

import graft.model.{BuzzCatalogRef, BuzzException}

/** Resolves the `catalogs` array of a JSON buzz query into live catalogs —
  * parity with `FuseService.configure_catalog`
  * (`/root/reference/code/src/services/fuse/fuse_service.rs:40-59`), where
  * `Static` uris map to known file sets and `DeltaLake` uris load the Delta
  * log. Here a `Static` uri IS the data location (a parquet file or a
  * directory of parquet files) rather than a key into compiled-in catalogs —
  * same resolution step, without the hardcoded example registry. */
object CatalogResolver {

  def resolve(
      spark: SparkSession,
      refs: Seq[BuzzCatalogRef]): Map[String, SplittableCatalog] =
    refs.map { r =>
      r.name -> (r.catalogType match {
        case "Static" =>
          if (r.versionAsOf.isDefined)
            throw new BuzzException.BadRequest(
              s"version_as_of is only valid for DeltaLake catalogs ('${r.name}' is Static)")
          if (r.timestampAsOf.isDefined)
            throw new BuzzException.BadRequest(
              s"timestamp_as_of is only valid for DeltaLake catalogs ('${r.name}' is Static)")
          val format = r.format.getOrElse("parquet")
          if (!StaticCatalog.SupportedFormats.contains(format))
            throw new BuzzException.BadRequest(
              s"unknown format '$format' for catalog '${r.name}' " +
                s"(expected one of ${StaticCatalog.SupportedFormats.keys.toSeq.sorted.mkString(", ")})")
          // `StructType.fromDDL` pays a full parse per call and catalogs
          // re-resolve per query (the reference re-configures per request
          // too), so a schema string parses once while the cache holds it;
          // invalid DDL caches nothing and re-throws on every call
          val declared = r.schemaDdl.map { ddl =>
            try MetaCache.getOrLoad(MetaCache.Ddl(ddl))(
              org.apache.spark.sql.types.StructType.fromDDL(ddl))(_ => 16L * ddl.length)
            catch {
              case e: Exception => throw new BuzzException.BadRequest(
                s"invalid schema DDL for catalog '${r.name}': ${e.getMessage}")
            }
          }
          StaticCatalog.overPath(spark, r.name, r.uri,
            format = format, declaredSchema = declared,
            readerOptions = r.options): SplittableCatalog
        case "DeltaLake" =>
          if (r.format.exists(_ != "parquet"))
            throw new BuzzException.BadRequest(
              s"'format' is only valid for Static catalogs ('${r.name}' is DeltaLake)")
          if (r.schemaDdl.isDefined)
            throw new BuzzException.BadRequest(
              s"'schema' is only valid for Static catalogs ('${r.name}' is DeltaLake — its log declares the schema)")
          if (r.options.nonEmpty)
            throw new BuzzException.BadRequest(
              s"'options' is only valid for Static catalogs ('${r.name}' is DeltaLake)")
          DeltaCatalog.fromDeltaLog(spark, r.uri, r.name, r.versionAsOf,
            r.timestampAsOf): SplittableCatalog
        case other =>
          throw new BuzzException.BadRequest(
            s"unknown catalog type '$other' for '${r.name}' (expected Static or DeltaLake)")
      })
    }.toMap
}
