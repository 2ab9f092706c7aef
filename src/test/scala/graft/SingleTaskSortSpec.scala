package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec, ShuffleQueryStageExec}
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.model.BuzzQuery
import graft.plans.{BuzzEngine, SingleTaskSort}

/** A small ordered reduce runs in one task once AQE has measured the map
  * output, on a session prepared by [[Server.start]]: no range-sampling job
  * and no sort shuffle, with the same rows in the same order as Spark's own
  * range-partitioned sort. */
class SingleTaskSortSpec extends AnyFunSuite with BeforeAndAfterAll {
  private lazy val spark = TestSpark.spark
  private lazy val server = Server.start(spark, 0)
  private val engine = new BuzzEngine(Map.empty)

  /** A Hive-layout table: 6 months x 2 files x 200 rows, with NULL
    * payment types and few distinct vendors, so sort keys repeat. */
  private lazy val dir: String = {
    val d = java.nio.file.Files.createTempDirectory("graft_single_task_sort").toString
    spark.range(0, 2400, 1, 12).selectExpr(
      "format_string('2024-%02d', CAST(id DIV 400 + 1 AS INT)) AS month",
      "CASE id % 5 WHEN 0 THEN 'CASH' WHEN 1 THEN 'CARD' WHEN 2 THEN 'DISPUTE' " +
        "WHEN 3 THEN 'NOCHARGE' END AS payment_type",
      "CAST(id DIV 5 % 3 AS INT) AS vendor",
      "id * 7 % 1000 AS fare_cents",
      "id % 400 AS pickup_seconds")
      .write.partitionBy("month").parquet(s"$d/taxi")
    spark.read.parquet(s"$d/taxi").createOrReplaceTempView("taxi_direct")
    s"$d/taxi"
  }

  private val months = "month BETWEEN '2024-02' AND '2024-04'"
  private val window = "pickup_seconds BETWEEN 20 AND 219"

  override def beforeAll(): Unit = { server; dir; () }
  override def afterAll(): Unit = server.stop(0)

  private def query(map: String, reduce: String): BuzzQuery = BuzzQuery.fromJson(
    s"""{"steps": [
       | {"sql": "$map", "name": "nyc_taxi_map", "step_type": "HBee", "partition_filter": "$months"},
       | {"sql": "$reduce", "name": "reduce", "step_type": "HComb"}],
       |"capacity": {"zones": 1},
       |"catalogs": [{"name": "nyc_taxi", "type": "Static", "uri": "$dir"}]}""".stripMargin)

  /** The perfbench `pruned_interactive` request shape. */
  private val canonical = query(
    "SELECT payment_type, COUNT(payment_type) AS payment_type_count, SUM(fare_cents) AS fare_sum " +
      s"FROM nyc_taxi WHERE $window GROUP BY payment_type",
    "SELECT payment_type, SUM(payment_type_count) AS payment_type_count, " +
      "SUM(fare_sum) AS fare_sum FROM nyc_taxi_map GROUP BY payment_type ORDER BY payment_type")

  private def byTypeAndVendor(orderBy: String): BuzzQuery = query(
    "SELECT payment_type, vendor, COUNT(*) AS trips, SUM(fare_cents) AS fare " +
      s"FROM nyc_taxi WHERE $window GROUP BY payment_type, vendor",
    "SELECT payment_type, vendor, SUM(trips) AS trips, SUM(fare) AS fare " +
      s"FROM nyc_taxi_map GROUP BY payment_type, vendor ORDER BY $orderBy")

  private def directByTypeAndVendor(orderBy: String): String =
    "SELECT payment_type, vendor, COUNT(*) AS trips, SUM(fare_cents) AS fare FROM taxi_direct " +
      s"WHERE $months AND $window GROUP BY payment_type, vendor ORDER BY $orderBy"

  private def withConf[T](kvs: (String, String)*)(body: => T): T = {
    val old = kvs.map { case (k, _) => k -> spark.conf.getOption(k) }
    kvs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally old.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** Spark's own answer, with AQE off so the strategy cannot plan it. */
  private def direct(sql: String): Seq[Row] =
    withConf("spark.sql.adaptive.enabled" -> "false")(spark.sql(sql).collect().toSeq)

  private def finalPlan(df: DataFrame): SparkPlan = df.queryExecution.executedPlan match {
    case a: AdaptiveSparkPlanExec => a.executedPlan
    case p => p
  }

  /** The plan text after `collect`, query stages included. */
  private def collected(df: DataFrame): (Seq[Row], String) = {
    val rows = df.collect().toSeq
    (rows, finalPlan(df).toString)
  }

  /** Same sort keys in the same order, and the same rows as a multiset. */
  private def assertSameOrderedAnswer(got: Seq[Row], want: Seq[Row], keys: Seq[String]): Unit = {
    assert(got.nonEmpty)
    def keyOf(r: Row) = keys.map(k => r.get(r.fieldIndex(k)))
    assert(got.map(keyOf) == want.map(keyOf))
    assert(got.map(_.toString).sorted == want.map(_.toString).sorted)
  }

  test("the canonical pruned query runs 2 jobs; its range exchange is planned, then dropped") {
    engine.runAndCollect(spark, canonical) // warm the catalog
    val (rows, metrics) = engine.runAndCollect(spark, canonical)
    assert(metrics("jobs") == 2, s"metrics: $metrics")
    assert(metrics("stages") == 2, s"metrics: $metrics")
    assert(rows.toSeq == direct(
      "SELECT payment_type, COUNT(payment_type) AS payment_type_count, " +
        s"SUM(fare_cents) AS fare_sum FROM taxi_direct WHERE $months AND $window " +
        "GROUP BY payment_type ORDER BY payment_type"))

    val df = engine.run(spark, canonical)
    val initial = df.queryExecution.executedPlan.toString
    assert(initial.contains("rangepartitioning"), initial)
    val (_, after) = collected(df)
    assert(!after.contains("rangepartitioning"), after)
    assert(after.contains("Coalesce 1"), after)
  }

  test("ASC/DESC, NULLS FIRST/LAST, multi-column and duplicate keys order like Spark's sort") {
    Seq(
      "payment_type, vendor" -> Seq("payment_type", "vendor"),
      "payment_type DESC, vendor DESC" -> Seq("payment_type", "vendor"),
      "payment_type ASC NULLS LAST, vendor" -> Seq("payment_type", "vendor"),
      "payment_type DESC NULLS FIRST, vendor" -> Seq("payment_type", "vendor"),
      "vendor" -> Seq("vendor"),
      "vendor DESC, payment_type NULLS LAST" -> Seq("vendor", "payment_type"),
      "trips DESC" -> Seq("trips")
    ).foreach { case (orderBy, keys) =>
      val (got, plan) = collected(engine.run(spark, byTypeAndVendor(orderBy)))
      assert(!plan.contains("rangepartitioning"), s"ORDER BY $orderBy: $plan")
      withClue(s"ORDER BY $orderBy: ") {
        assertSameOrderedAnswer(got, direct(directByTypeAndVendor(orderBy)), keys)
      }
    }
  }

  test("a map output above minPartitionSize keeps its range exchange and sorts correctly") {
    val minPartitionSize = 1024L
    withConf("spark.sql.adaptive.coalescePartitions.minPartitionSize" -> s"${minPartitionSize}b") {
      val q = query(
        s"SELECT fare_cents, COUNT(*) AS trips FROM nyc_taxi WHERE $window GROUP BY fare_cents",
        "SELECT fare_cents, SUM(trips) AS trips FROM nyc_taxi_map GROUP BY fare_cents " +
          "ORDER BY trips DESC, fare_cents")
      val df = engine.run(spark, q)
      val (got, plan) = collected(df)
      assert(plan.contains("rangepartitioning"), plan)
      assert(!plan.contains("Coalesce 1"), plan)
      // query stages are leaves: the map stage sits inside the later stages
      def stages(p: SparkPlan): Seq[QueryStageExec] =
        p.collect { case s: QueryStageExec => s +: stages(s.plan) }.flatten
      val mapOutput = stages(finalPlan(df)).collect {
        case s: ShuffleQueryStageExec if s.shuffle.outputPartitioning.isInstanceOf[HashPartitioning] =>
          s.mapStats.get.bytesByPartitionId.sum
      }
      assert(mapOutput.size == 1 && mapOutput.head > minPartitionSize, s"map output $mapOutput")
      assertSameOrderedAnswer(got, direct(
        "SELECT fare_cents, COUNT(*) AS trips FROM taxi_direct " +
          s"WHERE $months AND $window GROUP BY fare_cents ORDER BY trips DESC, fare_cents"),
        Seq("trips", "fare_cents"))
    }
  }

  test("nothing changes with AQE off, with coalescing off, or for ORDER BY … LIMIT") {
    val orderBy = "payment_type DESC, vendor"
    val want = direct(directByTypeAndVendor(orderBy))
    withConf("spark.sql.adaptive.enabled" -> "false") {
      val (got, plan) = collected(engine.run(spark, byTypeAndVendor(orderBy)))
      assert(plan.contains("rangepartitioning") && !plan.contains("Coalesce 1"), plan)
      assert(got == want)
    }
    withConf("spark.sql.adaptive.coalescePartitions.enabled" -> "false") {
      val (got, plan) = collected(engine.run(spark, byTypeAndVendor(orderBy)))
      assert(plan.contains("rangepartitioning") && !plan.contains("Coalesce 1"), plan)
      assert(got == want)
      val (_, metrics) = engine.runAndCollect(spark, canonical)
      assert(metrics("jobs") == 4, s"metrics: $metrics")
    }
    val (got, plan) = collected(engine.run(spark, byTypeAndVendor(s"$orderBy LIMIT 4")))
    assert(plan.contains("TakeOrderedAndProject") && !plan.contains("Coalesce 1"), plan)
    assert(got == want.take(4))
  }

  test("Server.start installs the strategy once, for the session and its forks") {
    Server.start(spark, 0).stop(0)
    def copies(s: org.apache.spark.sql.SparkSession): Int =
      s.sessionState.planner.strategies.count(_ eq SingleTaskSort)
    assert(copies(spark) == 1)
    val fork = spark.newSession()
    assert(copies(fork) == 1)
    SingleTaskSort.install(fork)
    assert(copies(fork) == 1)
  }
}
