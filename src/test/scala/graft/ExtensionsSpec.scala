package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

class ExtensionsSpec extends AnyFunSuite {

  test("GraftExtensions injects the scalar kernels into a fresh session's SQL") {
    val existing = TestSpark.spark // ensure the shared context is up
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try {
      // reuses the running SparkContext but builds a NEW session, which is
      // when extension injection happens. A cluster sets
      // spark.sql.extensions=graft.GraftExtensions in spark-defaults (read
      // from the context conf at launch); withExtensions is the same hook
      // reachable when the test JVM's context already exists
      val s = SparkSession.builder()
        .master("local[2]")
        .withExtensions(new GraftExtensions()(_))
        .getOrCreate()
      assert(s ne existing, "expected a fresh session for extension injection")
      val row = s.sql(
        """SELECT
          |  round(cosine_sim(array(1.0D, 0.0D), array(1.0D, 0.0D)), 6) AS cs,
          |  hamming64(7L, 4L) AS hd,
          |  lang_id('the cat sat on the mat and it was good') AS lang,
          |  word_shingles('b a b a', 2) AS sh,
          |  sorted_intersect_count(array('a', 'b'), array('b', 'c')) AS ic
          |""".stripMargin).collect()(0)
      assert(row.getDouble(0) == 1.0)
      assert(row.getInt(1) == 2) // 7 xor 4 = 3 → two bits
      assert(row.getString(2) == "en")
      assert(row.getSeq[String](3) == Seq("a b", "b a"))
      assert(row.getInt(4) == 1)
    } finally {
      SparkSession.setDefaultSession(existing)
      SparkSession.setActiveSession(existing)
    }
  }
}
