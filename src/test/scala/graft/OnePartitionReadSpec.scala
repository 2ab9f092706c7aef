package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.Exchange
import org.json4s._
import org.json4s.jackson.JsonMethods
import org.scalatest.funsuite.AnyFunSuite

import graft.model.BuzzQuery
import graft.operators.Sinks
import graft.plans.BuzzEngine

/** A request whose selected files total at most
  * `spark.sql.adaptive.coalescePartitions.minPartitionSize` reads them in
  * one partition, so Spark plans no exchange and the request runs as one
  * job with one task; above that size the scan keeps its tasks and the
  * map→reduce exchange. Either way the answer is the one `spark.sql`
  * gives for the same two statements over temp views. */
class OnePartitionReadSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val engine = new BuzzEngine(Map.empty)

  private val minPartitionSize = "spark.sql.adaptive.coalescePartitions.minPartitionSize"

  private def tmpDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  /** A Hive-layout table: 6 months x 2 files x 200 rows, with NULL
    * payment types and few distinct vendors, so sort keys repeat. */
  private lazy val dir: String = {
    val d = tmpDir("graft_one_partition")
    spark.range(0, 2400, 1, 12).selectExpr(
      "format_string('2024-%02d', CAST(id DIV 400 + 1 AS INT)) AS month",
      "CASE id % 5 WHEN 0 THEN 'CASH' WHEN 1 THEN 'CARD' WHEN 2 THEN 'DISPUTE' " +
        "WHEN 3 THEN 'NOCHARGE' END AS payment_type",
      "CAST(id DIV 5 % 3 AS INT) AS vendor",
      "id * 7 % 1000 AS fare_cents",
      "id % 400 AS pickup_seconds")
      .write.partitionBy("month").parquet(s"$d/taxi")
    s"$d/taxi"
  }

  private val months = "month BETWEEN '2024-02' AND '2024-04'"
  private val window = "pickup_seconds BETWEEN 20 AND 219"

  private def json(map: String, reduce: String, catalog: String, filter: Option[String]): String = {
    val pf = filter.fold("")(f => s""", "partition_filter": "$f"""")
    s"""{"steps": [
       | {"sql": "$map", "name": "nyc_taxi_map", "step_type": "HBee"$pf},
       | {"sql": "$reduce", "name": "reduce", "step_type": "HComb"}],
       |"capacity": {"zones": 1},
       |"catalogs": [$catalog]}""".stripMargin
  }

  private def taxi(map: String, reduce: String, filter: String = months): String =
    json(map, reduce, s"""{"name": "nyc_taxi", "type": "Static", "uri": "$dir"}""", Some(filter))

  private val canonicalMap =
    "SELECT payment_type, COUNT(payment_type) AS payment_type_count, SUM(fare_cents) AS fare_sum " +
      s"FROM nyc_taxi WHERE $window GROUP BY payment_type"
  private val canonicalReduce =
    "SELECT payment_type, SUM(payment_type_count) AS payment_type_count, " +
      "SUM(fare_sum) AS fare_sum FROM nyc_taxi_map GROUP BY payment_type ORDER BY payment_type"

  /** The perfbench `pruned_interactive` request shape. */
  private lazy val canonical = taxi(canonicalMap, canonicalReduce)

  private def byTypeAndVendorMap =
    "SELECT payment_type, vendor, COUNT(*) AS trips, SUM(fare_cents) AS fare " +
      s"FROM nyc_taxi WHERE $window GROUP BY payment_type, vendor"
  private def byTypeAndVendorReduce(orderBy: String) =
    "SELECT payment_type, vendor, SUM(trips) AS trips, SUM(fare) AS fare " +
      s"FROM nyc_taxi_map GROUP BY payment_type, vendor ORDER BY $orderBy"

  private def withConf[T](kvs: (String, String)*)(body: => T): T = {
    val old = kvs.map { case (k, _) => k -> spark.conf.getOption(k) }
    kvs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally old.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** `spark.sql`'s answer to the same two statements: the map statement
    * over `source` registered as `nyc_taxi`, the reduce statement over the
    * map's result registered as `nyc_taxi_map`. */
  private def viaSparkSql(source: DataFrame, map: String, reduce: String): Seq[Row] = {
    source.createOrReplaceTempView("nyc_taxi")
    try {
      spark.sql(map).createOrReplaceTempView("nyc_taxi_map")
      try spark.sql(reduce).collect().toSeq
      finally spark.catalog.dropTempView("nyc_taxi_map")
    } finally spark.catalog.dropTempView("nyc_taxi")
  }

  private def taxiViaSparkSql(map: String, reduce: String, filter: String = months): Seq[Row] =
    viaSparkSql(spark.read.parquet(dir).where(filter), map, reduce)

  private def finalPlan(df: DataFrame): SparkPlan = df.queryExecution.executedPlan match {
    case a: AdaptiveSparkPlanExec => a.executedPlan
    case p => p
  }

  /** The rows, and the final plan after `collect`, query stages included. */
  private def collected(df: DataFrame): (Seq[Row], SparkPlan) = {
    val rows = df.collect().toSeq
    (rows, finalPlan(df))
  }

  /** The exchanges in `plan`, inside query stages (which are leaves) too. */
  private def exchanges(plan: SparkPlan): Seq[Exchange] = plan.collect {
    case e: Exchange => Seq(e)
    case s: QueryStageExec => exchanges(s.plan)
  }.flatten

  private def onePartition(q: String): Boolean = {
    val JBool(one) = (JsonMethods.parse(engine.explainJson(spark, q)) \ "files" \ "one_partition"): @unchecked
    assert(one == engine.plan(spark, BuzzQuery.fromJson(q)).readsOnePartition,
      "explainJson and plan disagree")
    one
  }

  /** Same sort keys in the same order, and the same rows as a multiset. */
  private def assertSameOrderedAnswer(got: Seq[Row], want: Seq[Row], keys: Seq[String]): Unit = {
    assert(got.nonEmpty)
    def keyOf(r: Row) = keys.map(k => r.get(r.fieldIndex(k)))
    assert(got.map(keyOf) == want.map(keyOf))
    assert(got.map(_.toString).sorted == want.map(_.toString).sorted)
  }

  test("the canonical pruned query runs 1 job, 1 stage, 1 task and no exchange") {
    val q = BuzzQuery.fromJson(canonical)
    engine.runAndCollect(spark, q) // warm the catalog
    val (rows, metrics) = engine.runAndCollect(spark, q)
    assert(metrics("jobs") == 1, s"metrics: $metrics")
    assert(metrics("stages") == 1, s"metrics: $metrics")
    assert(metrics("tasks") == 1, s"metrics: $metrics")
    assert(metrics("shuffle_bytes") == 0, s"metrics: $metrics")
    assert(rows.toSeq == taxiViaSparkSql(canonicalMap, canonicalReduce))

    val (_, plan) = collected(engine.run(spark, q))
    assert(exchanges(plan).isEmpty, plan)
    assert(plan.toString.contains("Coalesce 1"), plan)
    assert(onePartition(canonical))
  }

  test("ASC/DESC, NULLS FIRST/LAST and duplicate keys order like spark.sql") {
    Seq(
      "payment_type, vendor" -> Seq("payment_type", "vendor"),
      "payment_type DESC, vendor DESC" -> Seq("payment_type", "vendor"),
      "payment_type ASC NULLS LAST, vendor" -> Seq("payment_type", "vendor"),
      "payment_type DESC NULLS FIRST, vendor" -> Seq("payment_type", "vendor"),
      "vendor" -> Seq("vendor"),
      "vendor DESC, payment_type NULLS LAST" -> Seq("vendor", "payment_type"),
      "trips DESC" -> Seq("trips")
    ).foreach { case (orderBy, keys) =>
      val reduce = byTypeAndVendorReduce(orderBy)
      val (got, plan) = collected(engine.run(spark, BuzzQuery.fromJson(taxi(byTypeAndVendorMap, reduce))))
      assert(exchanges(plan).isEmpty, s"ORDER BY $orderBy: $plan")
      withClue(s"ORDER BY $orderBy: ") {
        assertSameOrderedAnswer(got, taxiViaSparkSql(byTypeAndVendorMap, reduce), keys)
      }
    }
  }

  test("above minPartitionSize the scan keeps its tasks and the exchange") {
    withConf(minPartitionSize -> "1024b") {
      assert(!onePartition(canonical))
      val q = BuzzQuery.fromJson(canonical)
      val (rows, metrics) = engine.runAndCollect(spark, q)
      assert(metrics("tasks") > 2 && metrics("stages") >= 2, s"metrics: $metrics")
      assert(metrics("shuffle_bytes") > 0, s"metrics: $metrics")
      assert(rows.toSeq == taxiViaSparkSql(canonicalMap, canonicalReduce))
      val (_, plan) = collected(engine.run(spark, q))
      assert(exchanges(plan).nonEmpty, plan)
      assert(!plan.toString.contains("Coalesce 1"), plan)
    }
  }

  test("null group keys and an empty selection answer like spark.sql") {
    // NULL payment types form their own group on both sides
    val nullKeys = "SELECT payment_type, SUM(payment_type_count) AS n FROM nyc_taxi_map " +
      "GROUP BY payment_type ORDER BY payment_type NULLS FIRST"
    val (got, _) = collected(engine.run(spark, BuzzQuery.fromJson(taxi(canonicalMap, nullKeys))))
    assert(got.head.isNullAt(0), got)
    assert(got == taxiViaSparkSql(canonicalMap, nullKeys))

    val none = "month = '2031-01'"
    val global = "SELECT COUNT(*) AS groups, SUM(fare_sum) AS fare FROM nyc_taxi_map"
    for (reduce <- Seq(canonicalReduce, global)) {
      val q = taxi(canonicalMap, reduce, none)
      assert(onePartition(q))
      val got = engine.run(spark, BuzzQuery.fromJson(q)).collect().toSeq
      assert(got == taxiViaSparkSql(canonicalMap, reduce, none), reduce)
    }
    assert(engine.run(spark, BuzzQuery.fromJson(taxi(canonicalMap, global, none))).collect()
      .toSeq == Seq(Row(0L, null)))
  }

  test("a Delta table with deletion vectors answers like spark.sql") {
    import spark.implicits._
    val d = tmpDir("graft_one_partition_dv")
    val v0 = (0L until 40L).map(i => (i, i % 3, i * 2)).toDF("id", "g", "v")
    val v1 = (100L until 140L).map(i => (i, i % 3, i * 2)).toDF("id", "g", "v")
    Sinks.deltaAppend(v0.coalesce(1), d)
    Sinks.deltaAppend(v1.coalesce(1), d)
    Sinks.deltaDeleteVectors(spark, d, "id BETWEEN 3 AND 20 OR id IN (101, 139)")
    val map = "SELECT g, COUNT(*) AS n, SUM(v) AS v FROM nyc_taxi GROUP BY g"
    val reduce = "SELECT g, SUM(n) AS n, SUM(v) AS v FROM nyc_taxi_map GROUP BY g ORDER BY g DESC"
    val q = json(map, reduce, s"""{"name": "nyc_taxi", "type": "DeltaLake", "uri": "$d"}""", None)
    assert(onePartition(q))
    val (got, plan) = collected(engine.run(spark, BuzzQuery.fromJson(q)))
    assert(plan.toString.contains("Coalesce 1"), plan)
    val kept = v0.union(v1).where("NOT (id BETWEEN 3 AND 20 OR id IN (101, 139))")
    assert(got == viaSparkSql(kept, map, reduce))
    assert(got.map(_.getLong(1)).sum == 80 - 20)
  }

  test("a CSV catalog answers like spark.sql in one partition") {
    import spark.implicits._
    val d = tmpDir("graft_one_partition_csv") + "/t"
    val rows = (0L until 300L).map(i => (i, if (i % 7 == 0) null else s"k${i % 4}", i * 3))
    rows.toDF("id", "k", "v").repartition(3).write.option("header", "true").csv(d)
    val map = "SELECT k, COUNT(*) AS n, SUM(v) AS v FROM nyc_taxi WHERE id >= 10 GROUP BY k"
    val reduce = "SELECT k, SUM(n) AS n, SUM(v) AS v FROM nyc_taxi_map GROUP BY k " +
      "ORDER BY k DESC NULLS LAST"
    val q = json(map, reduce, s"""{"name": "nyc_taxi", "type": "Static", "uri": "$d",
      "format": "csv", "schema": "id BIGINT, k STRING, v BIGINT"}""", None)
    assert(onePartition(q))
    val (got, plan) = collected(engine.run(spark, BuzzQuery.fromJson(q)))
    assert(exchanges(plan).isEmpty, plan)
    assert(got == viaSparkSql(rows.toDF("id", "k", "v"), map, reduce))
  }
}
