package graft

import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.model._
import graft.plans.QueryPlanner
import graft.sources.{SizedFile, StaticCatalog}

/** Mirrors the reference planner tests
  * (/root/reference/code/src/services/fuse/query_planner.rs:180-374). */
class QueryPlannerSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  // MockSplittableTable analog (reference test_catalog.rs:20-97):
  // 5 files, 2 string partition cols, values part_value_001..005
  private def mockCatalog(nFiles: Int = 5): StaticCatalog = {
    val files = (1 to nFiles).map { i =>
      SizedFile(s"file_$i", 999999999L, Seq(f"part_value_$i%03d", f"part_value_$i%03d"))
    }
    new StaticCatalog(
      "test",
      StructType(Seq(StructField("data_col", LongType))),
      Seq("part_key_1", "part_key_2"),
      files)
  }

  private def planner = new QueryPlanner(Map("test" -> mockCatalog()))

  private def twoSteps(mapSql: String, reduceSql: String, filter: Option[String] = None) =
    BuzzQuery(
      Seq(
        BuzzStep(mapSql, "mapper", BuzzStepType.HBee, filter),
        BuzzStep(reduceSql, "reducer", BuzzStepType.HComb, None)),
      BuzzCapacity(1), Nil)

  test("plans a simple 2-step query") {
    val p = planner.plan(spark, twoSteps(
      "SELECT * FROM test",
      "SELECT * FROM mapper"))
    assert(p.files.length == 5)
    assert(p.mapOutputSchema.fieldNames.toSeq ==
      Seq("data_col", "part_key_1", "part_key_2"))
  }

  test("partition filter prunes 5 files to 3 (reference :244-276)") {
    val p = planner.plan(spark, twoSteps(
      "SELECT * FROM test WHERE data_col = 0",
      "SELECT * FROM mapper",
      Some("part_key_2 >= 'part_value_001' AND part_key_2 <= 'part_value_003'")))
    assert(p.files.map(_.key) == Seq("file_1", "file_2", "file_3"))
  }

  test("expression subqueries cannot smuggle a second table past validation") {
    val e = intercept[BuzzException.PlanError] {
      planner.plan(spark, twoSteps(
        "SELECT * FROM test WHERE data_col IN (SELECT x FROM other_table)",
        "SELECT * FROM mapper"))
    }
    assert(e.getMessage.contains("single-table"), e.getMessage)
  }

  test("a CTE body cannot smuggle a different table past validation") {
    import spark.implicits._
    // the session holds a view `other`: the map step must still read only
    // its catalog, so the CTE body's read of `other` is rejected
    (0L until 1000L).toDF("secret").createOrReplaceTempView("other")
    try {
      val e = intercept[BuzzException.PlanError] {
        planner.plan(spark, twoSteps(
          "WITH test AS (SELECT secret AS data_col FROM other) SELECT count(*) c FROM test",
          "SELECT * FROM mapper"))
      }
      assert(e.getMessage.contains("unknown table 'other'"), e.getMessage)
    } finally spark.catalog.dropTempView("other")
  }

  test("identifier matching is case-insensitive like spark.sql resolution") {
    val p = planner.plan(spark, twoSteps(
      "SELECT * FROM TEST",
      "SELECT * FROM Mapper"))
    assert(p.files.length == 5)
  }

  test("a partition_filter on the reduce step is rejected, not ignored") {
    val q = BuzzQuery(
      Seq(
        BuzzStep("SELECT * FROM test", "mapper", BuzzStepType.HBee, None),
        BuzzStep("SELECT * FROM mapper", "reducer", BuzzStepType.HComb, Some("part_key_1 = 'x'"))),
      BuzzCapacity(1), Nil)
    val e = intercept[BuzzException.PlanError](planner.plan(spark, q))
    assert(e.getMessage.contains("only valid on the HBee"), e.getMessage)
  }

  test("malformed capacity.zones and catalogs are rejected, not defaulted") {
    val e1 = intercept[BuzzException.BadRequest](BuzzQuery.fromJson(
      """{"steps": [], "capacity": {"zones": "2"}}"""))
    assert(e1.getMessage.contains("zones"))
    val e2 = intercept[BuzzException.BadRequest](BuzzQuery.fromJson(
      """{"steps": [], "catalogs": {"name": "x"}}"""))
    assert(e2.getMessage.contains("catalogs"))
  }

  test("unknown source table is rejected") {
    val e = intercept[BuzzException.PlanError] {
      planner.plan(spark, twoSteps("SELECT * FROM nope", "SELECT * FROM mapper"))
    }
    assert(e.getMessage.contains("unknown table"))
  }

  test("reduce step must read the map step's output (reference :103-109)") {
    val e = intercept[BuzzException.PlanError] {
      planner.plan(spark, twoSteps("SELECT * FROM test", "SELECT * FROM elsewhere"))
    }
    assert(e.getMessage.contains("must read the map step's output"))
  }

  test("multi-source (join) statements are rejected (linear-plan rule)") {
    val e = intercept[BuzzException.PlanError] {
      planner.plan(spark, twoSteps(
        "SELECT * FROM test t1 JOIN test2 t2 ON t1.data_col = t2.data_col",
        "SELECT * FROM mapper"))
    }
    assert(e.getMessage.contains("single-table"))
  }

  test("self-joins are rejected (one name, two relation inputs — linear-plan rule)") {
    val e = intercept[BuzzException.PlanError] {
      planner.plan(spark, twoSteps(
        "SELECT a.data_col FROM test a JOIN test b ON a.data_col = b.data_col",
        "SELECT * FROM mapper"))
    }
    assert(e.getMessage.contains("single-table"))
  }

  test("capacity.zones != 1 is rejected, not silently ignored (hcomb_manager.rs:28,51)") {
    val q = BuzzQuery(
      Seq(
        BuzzStep("SELECT * FROM test", "mapper", BuzzStepType.HBee, None),
        BuzzStep("SELECT * FROM mapper", "r", BuzzStepType.HComb, None)),
      BuzzCapacity(7), Nil)
    intercept[BuzzException.NotImplemented] { planner.plan(spark, q) }
  }

  test("planning does not destroy a pre-existing temp view of the same name") {
    import spark.implicits._
    Seq((42L, "keep")).toDF("data_col", "tag").createOrReplaceTempView("mapper")
    try {
      planner.plan(spark, twoSteps("SELECT * FROM test", "SELECT * FROM mapper"))
      // the analysis-time scratch view must not have clobbered ours
      val rows = spark.table("mapper").collect()
      assert(rows.length == 1 && rows(0).getString(1) == "keep")
    } finally spark.catalog.dropTempView("mapper")
  }

  test("exactly two steps required") {
    val q = BuzzQuery(
      Seq(BuzzStep("SELECT * FROM test", "m", BuzzStepType.HBee, None)),
      BuzzCapacity(1), Nil)
    intercept[BuzzException.PlanError] { planner.plan(spark, q) }
  }

  test("step order must be HBee then HComb") {
    val q = BuzzQuery(
      Seq(
        BuzzStep("SELECT * FROM test", "m", BuzzStepType.HComb, None),
        BuzzStep("SELECT * FROM m", "r", BuzzStepType.HBee, None)),
      BuzzCapacity(1), Nil)
    intercept[BuzzException.PlanError] { planner.plan(spark, q) }
  }

  test("grouped map + grouped reduce derives the map output schema") {
    val p = planner.plan(spark, twoSteps(
      "SELECT data_col, count(data_col) AS cnt FROM test GROUP BY data_col",
      "SELECT data_col, count(cnt) FROM mapper GROUP BY data_col"))
    assert(p.mapOutputSchema.fieldNames.toSeq == Seq("data_col", "cnt"))
  }

  test("invalid reduce SQL against derived schema fails at plan time") {
    intercept[BuzzException.PlanError] {
      planner.plan(spark, twoSteps(
        "SELECT data_col FROM test",
        "SELECT no_such_col FROM mapper"))
    }
  }

  test("BuzzQuery JSON parses the reference format (README.md:80-104)") {
    val q = BuzzQuery.fromJson(
      """{
        |  "steps": [
        |    {"sql": "SELECT payment_type, COUNT(payment_type) AS cnt FROM nyc_taxi GROUP BY payment_type",
        |     "name": "nyc_taxi_map", "step_type": "HBee",
        |     "partition_filter": "month<='2009/06'"},
        |    {"sql": "SELECT payment_type, SUM(cnt) FROM nyc_taxi_map GROUP BY payment_type",
        |     "name": "nyc_taxi_reduce", "step_type": "HComb"}
        |  ],
        |  "capacity": {"zones": 1},
        |  "catalogs": [{"name": "nyc_taxi", "type": "Static", "uri": "s3://x"}]
        |}""".stripMargin)
    assert(q.steps.length == 2)
    assert(q.steps.head.stepType == BuzzStepType.HBee)
    assert(q.steps.head.partitionFilter.contains("month<='2009/06'"))
    assert(q.capacity.zones == 1)
    assert(q.catalogs.head.catalogType == "Static")
  }
}
