package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Derive a larger benchmark dataset from a driver-generated SF dir by
  * k-fold replication with the scale-probe discipline — args:
  * `<srcDir> <outDir> <k>`. Replica i offsets every entity key by
  * i·10⁸ (joins stay consistent within a replica, so per-replica join
  * fan-out is exactly the source's), rotates customer-name digits and
  * suffixes document tokens (replicas are mutually DISSIMILAR — dedup/ER
  * structure grows ~k×, not quadratically), and rotates embeddings
  * (replica vectors near-orthogonal to their originals). Dimension
  * tables (region, nation) keep a single copy, so fact-to-dim fan-out
  * grows k× like a real corpus against fixed reference data. Used to
  * record the sf1-equivalent bench (10 × sf0.1); testdata itself is
  * read-only and stays untouched. */
object MakeScaled {
  def main(args: Array[String]): Unit = {
    val Array(srcDir, outDir, kStr) = args.take(3)
    val k = kStr.toInt
    require(k >= 1, s"k must be >= 1, got $k")
    val spark = GraftSession.local()
    val stride = 100000000L

    // Dimension tables ship as single parquet FILES named table.parquet
    // (testdata's shape — q12's strict-footer declared-schema scan reads
    // region.parquet as an explicit file path). Fact tables stay
    // DIRECTORIES: a scaled fact is realistically multi-file, and a
    // single file would collapse scan parallelism to one task, measuring
    // the layout instead of the operators.
    def writeSingleFile(df: DataFrame, table: String): Unit = {
      import org.apache.hadoop.fs.Path
      val staging = s"$outDir/.staging_$table"
      df.coalesce(1).write.mode("overwrite").parquet(staging)
      val fs = new Path(outDir).getFileSystem(
        spark.sessionState.newHadoopConf())
      val part = fs.listStatus(new Path(staging))
        .map(_.getPath).find(_.getName.endsWith(".parquet"))
        .getOrElse(sys.error(s"no part file written for $table"))
      val dest = new Path(s"$outDir/$table.parquet")
      fs.delete(dest, true)
      fs.rename(part, dest)
      fs.delete(new Path(staging), true)
    }

    def replicate(table: String)(tx: (DataFrame, Int) => DataFrame): Unit = {
      val base = Tables.load(spark, srcDir, table)
      val out = (0 until k).map(i => if (i == 0) base else tx(base, i))
        .reduce(_.unionAll(_))
      out.write.mode("overwrite").parquet(s"$outDir/$table.parquet")
      println(s"[make-scaled] $table x$k written")
    }
    def off(c: String, i: Int) = (col(c) + lit(i * stride)).as(c)

    replicate("lineitem")((df, i) => df.select(
      off("l_orderkey", i), off("l_partkey", i), off("l_suppkey", i),
      col("l_linenumber"), col("l_quantity"), col("l_extendedprice"),
      col("l_discount"), col("l_tax"), col("l_returnflag"),
      col("l_linestatus"), col("l_shipdate")))
    replicate("orders")((df, i) => df.select(
      off("o_orderkey", i), off("o_custkey", i), col("o_orderstatus"),
      col("o_totalprice"), col("o_orderdate"), col("o_orderpriority")))
    replicate("customer")((df, i) => {
      // rotation amount 1..9, never 0: a k>10 run must not hand replica
      // i=10 the identity rotation (its names would exactly duplicate
      // replica 0's and ER/dedup pair counts would go quadratic)
      val amt = 1 + (i - 1) % 9
      val rot = "0123456789".map(c => ('0' + (c - '0' + amt) % 10).toChar)
      df.select(
        off("c_custkey", i),
        translate(col("c_name"), "0123456789", rot).as("c_name"),
        col("c_nationkey"), col("c_acctbal"), col("c_mktsegment"))
    })
    replicate("supplier")((df, i) => df.select(
      off("s_suppkey", i), col("s_name"), col("s_nationkey"), col("s_acctbal")))
    replicate("part")((df, i) => df.select(
      off("p_partkey", i), col("p_name"), col("p_brand"), col("p_type"),
      col("p_size"), col("p_retailprice")))
    replicate("documents")((df, i) => {
      // the suffix must stay [a-z]+: several text operators (BPE training
      // among them) filter words on \A[a-z]+\z, and a "_$i"-style suffix
      // would make every replica token invisible to them — the scaled
      // bench would then measure a 1x vocabulary while claiming kx.
      // Two base-26 letters keep replicas mutually distinct to k=676.
      val code = "x" + ('a' + (i / 26) % 26).toChar + ('a' + i % 26).toChar
      df.select(
        off("doc_id", i),
        array_join(transform(split(col("text"), " "),
          w => concat(w, lit(code))), " ").as("text"),
        col("lang"), col("source"), col("n_chars"))
    })
    replicate("embeddings")((df, i) => {
      // rotation 1..62, never 0: i=63 would hand a replica the identity
      val s = 1 + (i - 1) % 62
      df.select(
        off("vec_id", i),
        concat(slice(col("embedding"), s + 1, 64 - s),
          slice(col("embedding"), 1, s)).as("embedding"),
        col("label"))
    })
    replicate("events")((df, i) => df.select(
      off("event_id", i), col("ts"), off("user_id", i),
      col("event_type"), col("value"), col("props")))
    // dimension tables: one copy — fact-to-dim fan-out grows k× like a
    // real corpus against fixed reference data
    Seq("region", "nation").foreach { t =>
      writeSingleFile(Tables.load(spark, srcDir, t), t)
      println(s"[make-scaled] $t x1 written")
    }
    spark.stop()
  }
}
