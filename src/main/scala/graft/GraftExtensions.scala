package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.types.IntegerType

import graft.functions._

/** Library entry point for `spark.sql.extensions` — the zero-code install
  * path for a cluster: set
  * `spark.sql.extensions=graft.GraftExtensions` (spark-submit conf or
  * spark-defaults) and every session gets graft's scalar functions in SQL,
  * no driver-side `registerAll` call required. The same registrations are
  * available programmatically via
  * [[graft.functions.GraftFunctions.registerAll]] for sessions built
  * without the conf (e.g. notebooks attaching to a running session).
  *
  * Only deterministic scalar kernels are injected; the operator surface
  * (dedup, ANN, curation, catalogs) stays a plain Scala API because those
  * are multi-statement plans, not expressions. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  private def intLit(e: Expression, what: String): Int = e match {
    case Literal(v: Int, IntegerType) => v
    case other =>
      throw new IllegalArgumentException(s"$what must be an int literal, got $other")
  }

  private def info(name: String, usage: String): ExpressionInfo =
    new ExpressionInfo(
      classOf[GraftExtensions].getName, null, name, usage,
      "", "", "", "", "", "", "built-in")

  override def apply(ext: SparkSessionExtensions): Unit = {
    def inject(name: String, usage: String)(builder: Seq[Expression] => Expression): Unit =
      ext.injectFunction((FunctionIdentifier(name), info(name, usage), builder))

    inject("cosine_sim", "cosine_sim(a, b) - cosine similarity of two float/double arrays") {
      es => CosineSimilarity(es(0), es(1))
    }
    inject("minhash_sig", "minhash_sig(tokens, numHashes) - MinHash signature") {
      es => MinHashSignature(es(0), intLit(es(1), "numHashes"))
    }
    inject("simhash64", "simhash64(tokens) - 64-bit SimHash") { es => SimHash64(es(0)) }
    inject("hamming64", "hamming64(a, b) - Hamming distance of two 64-bit values") {
      es => HammingDistance64(es(0), es(1))
    }
    inject("rolling_fingerprint",
      "rolling_fingerprint(text, window) - winnowing min rolling hash") {
      es => RollingHashFingerprint(es(0), intLit(es(1), "window"))
    }
    inject("lang_id", "lang_id(text) - heuristic ISO 639-1 language code") {
      es => LanguageId(es(0))
    }
    inject("sorted_intersect_count",
      "sorted_intersect_count(a, b) - intersection size of two sorted arrays " +
        "(both array<string> or both array<bigint>)") {
      es => SortedIntersectCount(es(0), es(1))
    }
    inject("word_shingles", "word_shingles(text, n) - distinct sorted word n-grams") {
      es => WordShingles(es(0), intLit(es(1), "n"))
    }
  }
}
