package graft

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.Aggregate
import org.scalatest.funsuite.AnyFunSuite

import graft.model._
import graft.plans.BuzzEngine
import graft.sources.StaticCatalog
import graft.streaming.StreamingTwoStage

/** The binder's reduce collapse ([[graft.plans.Statement.collapseUniqueGroups]]),
  * differentially: every case runs the two statements through the engine
  * and, as the reference, through `spark.sql` with the catalog and the map
  * output as temp views (no collapse). Answers, output schemas (nullability
  * included) and row order under ORDER BY must agree; whether the collapse
  * fired is read from the plan shape. */
class StatementSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  /** `t`: 60 rows in 3 files. k is a nullable string key (every 7th row
    * null), g an int, d a DECIMAL(9,2) that is null on odd g, c a string
    * that is null on every 5th row, ts a timestamp. */
  private lazy val source: StaticCatalog = {
    val dir = java.nio.file.Files.createTempDirectory("graft_collapse").toString
    spark.sql(
      """SELECT IF(id % 7 = 0, NULL, CONCAT('k', CAST(id % 4 AS STRING))) AS k,
        |       CAST(id % 3 AS INT) AS g,
        |       IF(id % 2 = 1, NULL, CAST(id * 1.25 AS DECIMAL(9,2))) AS d,
        |       IF(id % 5 = 0, NULL, CONCAT('c', CAST(60 - id AS STRING))) AS c,
        |       TIMESTAMP_SECONDS(1700000000 + id * 3600) AS ts
        |FROM range(60)""".stripMargin)
      .repartition(3).write.mode("overwrite").parquet(dir)
    StaticCatalog.overPath(spark, "t", dir)
  }
  private lazy val engine = new BuzzEngine(Map("t" -> source))

  private def query(mapSql: String, reduceSql: String) = BuzzQuery(
    Seq(
      BuzzStep(mapSql, "m", BuzzStepType.HBee, None),
      BuzzStep(reduceSql, "r", BuzzStepType.HComb, None)),
    BuzzCapacity(1), Nil)

  private def aggregates(df: DataFrame): Int =
    df.queryExecution.analyzed.collect { case a: Aggregate => a }.size

  /** Runs `fn` against the reference: the reduce through `spark.sql` over
    * temp views `t` (the catalog) and `m` (the map output). */
  private def viaViews[A](q: BuzzQuery)(fn: DataFrame => A): A =
    try {
      source.read(spark, source.files).createOrReplaceTempView("t")
      spark.sql(q.steps(0).sql).createOrReplaceTempView("m")
      fn(spark.sql(q.steps(1).sql))
    } finally Seq("t", "m").foreach(spark.catalog.dropTempView)

  /** Asserts the engine agrees with the reference, and returns whether the
    * reduce collapsed (one aggregate fewer than the reference's plan). */
  private def collapses(mapSql: String, reduceSql: String, ordered: Boolean = false): Boolean = {
    val q = query(mapSql, reduceSql)
    def rows(df: DataFrame) = {
      val r = df.collect().map(_.toString).toSeq
      if (ordered) r else r.sorted
    }
    val (want, wantSchema, wantAggs) = viaViews(q)(df => (rows(df), df.schema, aggregates(df)))
    val got = engine.run(spark, q)
    assert(rows(got) == want, s"$mapSql | $reduceSql")
    assert(got.schema == wantSchema, s"run schema of $reduceSql")
    assert(engine.plan(spark, q).reduceOutputSchema == wantSchema, s"plan schema of $reduceSql")
    aggregates(got) < wantAggs
  }

  private val byKey = "SELECT k, COUNT(*) AS n, SUM(d) AS s FROM t GROUP BY k"

  test("the reduce collapses when the map output is unique on its grouping keys") {
    // SUM over a nullable DECIMAL(9,2): the sum's DECIMAL(19,2), nulls kept
    assert(collapses("SELECT k, MAX(d) AS d FROM t GROUP BY k",
      "SELECT k, SUM(d) AS d FROM m GROUP BY k"))
    // COUNT(col) over nulls is 0 for a null, 1 otherwise
    assert(collapses("SELECT k, MAX(d) AS d FROM t GROUP BY k",
      "SELECT k, COUNT(d) AS n FROM m GROUP BY k"))
    assert(collapses(byKey, "SELECT k, COUNT(*) AS n FROM m GROUP BY k"))
    // MIN/MAX over strings and timestamps
    assert(collapses("SELECT g, MIN(c) AS c, MAX(ts) AS ts FROM t GROUP BY g",
      "SELECT g, MIN(c) AS lo, MAX(c) AS hi, MIN(ts) AS t0, MAX(ts) AS t1 FROM m GROUP BY g"))
    // a nullable group key: the null group is one map row too
    assert(collapses(byKey, "SELECT k, SUM(n) AS n, SUM(s) AS s FROM m GROUP BY k"))
    assert(engine.run(spark, query(byKey, "SELECT k, SUM(n) AS n FROM m GROUP BY k"))
      .collect().exists(_.isNullAt(0)))
    assert(collapses(byKey, "SELECT k, SUM(n) AS n FROM m GROUP BY k HAVING SUM(n) > 12"))
    assert(collapses(byKey,
      "SELECT k FROM m GROUP BY k ORDER BY SUM(s) DESC NULLS LAST, k LIMIT 3", ordered = true))
    // grouping on a superset of the map's keys
    assert(collapses(byKey, "SELECT k, n, SUM(s) AS s FROM m GROUP BY k, n"))
    // the map output reached through a CTE in the reduce
    assert(collapses(byKey,
      "WITH x AS (SELECT k, n * 2 AS n2 FROM m) SELECT k, SUM(n2) AS n2 FROM x GROUP BY k"))
  }

  test("the reduce re-aggregates when a group may hold several map rows or the call needs it") {
    // grouping on a subset of the map's keys
    assert(!collapses("SELECT k, g, COUNT(*) AS n FROM t GROUP BY k, g",
      "SELECT k, SUM(n) AS n FROM m GROUP BY k"))
    assert(!collapses(byKey, "SELECT k, SUM(n) FILTER (WHERE n > 8) AS n FROM m GROUP BY k"))
    assert(!collapses(byKey, "SELECT k, COUNT(DISTINCT n) AS n FROM m GROUP BY k"))
    assert(!collapses(byKey, "SELECT k, AVG(n) AS a FROM m GROUP BY k"))
    // a global aggregate returns one row even over an empty map output,
    // including one Catalyst knows has at most one row
    assert(!collapses("SELECT k, COUNT(*) AS n FROM t WHERE g < 0 GROUP BY k",
      "SELECT COUNT(*) AS c, SUM(n) AS n FROM m"))
    assert(!collapses("SELECT COUNT(*) AS n FROM t HAVING COUNT(*) > 1000",
      "SELECT COUNT(*) AS c, SUM(n) AS n FROM m"))
    assert(!collapses(s"$byKey ORDER BY k LIMIT 1", "SELECT COUNT(*) AS c, SUM(n) AS n FROM m"))
  }

  test("the canonical query's optimized plan aggregates once") {
    val q = query(byKey, "SELECT k, SUM(n) AS n FROM m GROUP BY k")
    def optimizedAggregates(df: DataFrame) =
      df.queryExecution.optimizedPlan.collect { case a: Aggregate => a }.size
    assert(optimizedAggregates(engine.run(spark, q)) == 1)
    assert(viaViews(q)(optimizedAggregates) == 2)
  }

  test("the streaming twin re-aggregates its accumulated per-batch partials") {
    val dir = java.nio.file.Files.createTempDirectory("graft_collapse_stream").toString
    source.read(spark, source.files).repartition(3).write.mode("overwrite").parquet(dir)
    val cat = StaticCatalog.overPath(spark, "t", dir)
    val q = query(byKey, "SELECT k, SUM(n) AS n, SUM(s) AS s FROM m GROUP BY k")
    val results = ArrayBuffer[(Int, Seq[String])]()
    StreamingTwoStage.run(spark, Map("t" -> cat), q, (df, _) =>
      results.synchronized {
        results += aggregates(df) -> df.collect().map(_.toString).toSeq.sorted
      }).awaitTermination(120000)
    assert(results.length >= 2, s"expected 2+ micro-batches, got ${results.length}")
    assert(results.forall(_._1 == 1), "each micro-batch's reduce must aggregate")
    val batch = new BuzzEngine(Map("t" -> cat)).run(spark, q)
    assert(aggregates(batch) == 1, "the batch engine's reduce collapses")
    assert(results.last._2 == batch.collect().map(_.toString).toSeq.sorted)
  }
}
