package perfbench

import java.io.File
import java.nio.file.{Files, StandardCopyOption}

import org.apache.parquet.example.data.Group
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.ParquetWriter
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.parquet.io.LocalOutputFile
import org.apache.parquet.schema.{MessageType, MessageTypeParser}
import org.apache.spark.sql.types._
import org.json4s._
import org.json4s.JsonDSL._
import org.json4s.jackson.JsonMethods

/** Seeded input generators. Every value is a hash of (row id, seed), so one
  * seed always yields byte-identical files under identical names, and any
  * other seed yields different content of the same shape. Outputs are
  * cached under `root`, keyed by seed and size, and published by an atomic
  * directory rename, so an interrupted generation is never reused. */
object Data {

  /** NYC-taxi-shaped table, Hive-partitioned by `month`. Within a month
    * each file holds one contiguous slice of `pickup_seconds`, which is what
    * makes a BETWEEN on that column zone-prunable. The same directory is
    * also a Delta table: `_delta_log` holds `Commits` commits adding those
    * files, with per-file stats and a checkpoint at `CheckpointVersion`. */
  final case class Taxi(dir: String, rows: Long, files: Int, bytes: Long, generateS: Double)

  val Months = 12
  /** Two files per month: 24 files in all, at most the 32 paths Spark lists
    * on the driver. Above `spark.sql.sources.parallelPartitionDiscovery
    * .threshold` (32), every unpruned read of the catalog's explicit file
    * list starts a Spark listing job, which made that listing, not the
    * scan, the largest share of a full-scan request. */
  val FilesPerMonth = 2
  /** Pickup offsets span 28 days, whatever the month. */
  val MonthSeconds = 28 * 86400
  val SliceSeconds: Int = MonthSeconds / FilesPerMonth
  val Medallions = 100000
  /** One add per commit. */
  val Commits = 24
  val CheckpointVersion = 15

  def month(m: Int): String = f"2009-$m%02d"

  /** A value in [0, n) drawn from (row id, seed, salt): SplitMix64's
    * finalizer over a mix of the three. */
  private def draw(id: Long, seed: Long, salt: Int, n: Long): Long = {
    var z = id * 0x9E3779B97F4A7C15L + seed * 0xC2B2AE3D27D4EB4FL + salt * 0x165667B19E3779F9L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    Math.floorMod(z ^ (z >>> 31), n)
  }
  private def draw(id: Long, seed: Long, salt: Int, n: Int): Int =
    draw(id, seed, salt, n.toLong).toInt

  private val TaxiParquet = MessageTypeParser.parseMessageType(
    """message spark_schema {
      |  optional int64 trip_id;
      |  optional int32 pickup_seconds;
      |  optional int32 medallion;
      |  optional binary vendor_id (STRING);
      |  optional int32 passenger_count;
      |  optional double trip_distance;
      |  optional binary payment_type (STRING);
      |  optional int32 fare_amount (DECIMAL(9,2));
      |  optional int32 tip_amount (DECIMAL(9,2));
      |}""".stripMargin)

  /** The same columns as Spark reads them, plus the partition column, for
    * the Delta log's schemaString. */
  private val TaxiSchema = StructType(Seq(
    StructField("trip_id", LongType), StructField("pickup_seconds", IntegerType),
    StructField("medallion", IntegerType), StructField("vendor_id", StringType),
    StructField("passenger_count", IntegerType), StructField("trip_distance", DoubleType),
    StructField("payment_type", StringType), StructField("fare_amount", DecimalType(9, 2)),
    StructField("tip_amount", DecimalType(9, 2)), StructField("month", StringType)))

  /** Inputs are written with the parquet library directly, not with Spark:
    * a cold Spark session and its first jobs took about 30 s of a run for a
    * new seed, several times what the rows themselves cost. */
  private def parquetWriter(file: File, schema: MessageType): ParquetWriter[Group] =
    ExampleParquetWriter.builder(new LocalOutputFile(file.toPath)).withType(schema)
      .withCompressionCodec(CompressionCodecName.SNAPPY).build()

  def taxi(root: String, seed: Long, rowsPerFile: Int): Taxi = {
    val files = Months * FilesPerMonth
    val rows = rowsPerFile.toLong * files
    val dir = new File(root, s"taxi-s$seed-r$rows-f$files")
    cached(dir) { tmp =>
      val factory = new SimpleGroupFactory(TaxiParquet)
      val adds = (0 until files).map { b =>
        val m = month(b / FilesPerMonth + 1)
        val slice = b % FilesPerMonth
        val trips = (b.toLong * rowsPerFile until (b + 1).toLong * rowsPerFile).map { id =>
          (id, slice * SliceSeconds + draw(id, seed, 1, SliceSeconds))
        }.sortBy(t => (t._2, t._1))
        val name = f"month=$m/part-$b%05d.snappy.parquet"
        val file = new File(tmp, name)
        file.getParentFile.mkdirs()
        val w = parquetWriter(file, TaxiParquet)
        var minMed = Int.MaxValue; var maxMed = Int.MinValue
        try trips.foreach { case (id, pickup) =>
          val medallion = draw(id, seed, 2, Medallions)
          minMed = math.min(minMed, medallion); maxMed = math.max(maxMed, medallion)
          val p = draw(id, seed, 6, 100)
          w.write(factory.newGroup()
            .append("trip_id", id)
            .append("pickup_seconds", pickup)
            .append("medallion", medallion)
            .append("vendor_id", Seq("CMT", "VTS", "DDS")(draw(id, seed, 3, 3)))
            .append("passenger_count", draw(id, seed, 4, 6) + 1)
            .append("trip_distance", draw(id, seed, 5, 2000) / 100.0)
            .append("payment_type",
              if (p < 55) "CRD" else if (p < 90) "CSH" else if (p < 95) "NOC" else if (p < 98) "DIS" else "UNK")
            // unscaled values of decimal(9,2)
            .append("fare_amount", draw(id, seed, 7, 6000) + 250)
            .append("tip_amount", draw(id, seed, 8, 1500)))
        } finally w.close()
        val stats = JsonMethods.compact(JsonMethods.render(
          ("numRecords" -> trips.size) ~
            ("minValues" -> (("pickup_seconds" -> trips.head._2) ~ ("medallion" -> minMed))) ~
            ("maxValues" -> (("pickup_seconds" -> trips.last._2) ~ ("medallion" -> maxMed)))))
        (name, m, file.length(), stats)
      }
      writeDeltaLog(tmp, adds)
    }
    val parquet = walk(dir).filter(f => f.getName.endsWith(".parquet") &&
      !f.getPath.contains("_delta_log"))
    Taxi(dir.getPath, rows, parquet.size, parquet.map(_.length).sum, lastGenerateS)
  }

  /** The checkpoint's columns: protocol versions as longs, the schema the
    * engine's own Delta sink writes (and the one its checkpoint reader
    * accepts), with Spark's three-level list and map layouts. */
  private val CheckpointParquet = MessageTypeParser.parseMessageType(
    """message spark_schema {
      |  optional group protocol {
      |    optional int64 minReaderVersion;
      |    optional int64 minWriterVersion;
      |  }
      |  optional group metaData {
      |    optional binary id (STRING);
      |    optional binary schemaString (STRING);
      |    optional group partitionColumns (LIST) {
      |      repeated group list { optional binary element (STRING); }
      |    }
      |  }
      |  optional group add {
      |    optional binary path (STRING);
      |    optional group partitionValues (MAP) {
      |      repeated group key_value { required binary key (STRING); optional binary value (STRING); }
      |    }
      |    optional int64 size;
      |    optional int64 modificationTime;
      |    optional boolean dataChange;
      |    optional binary stats (STRING);
      |  }
      |}""".stripMargin)

  /** A protocol-shaped Delta log over files already in `table`: commit 0
    * carries protocol + metaData, the adds spread over `Commits` commits,
    * a single-part checkpoint at [[CheckpointVersion]] and
    * `_last_checkpoint`, with the later commits as the JSON tail. */
  private def writeDeltaLog(table: File, adds: Seq[(String, String, Long, String)]): Unit = {
    val log = new File(table, "_delta_log")
    log.mkdirs()
    val schemaString = TaxiSchema.json
    val created = 1700000000000L
    val protocol = JObject("protocol" -> JObject(
      "minReaderVersion" -> JInt(1), "minWriterVersion" -> JInt(2)))
    val meta = JObject("metaData" -> JObject(
      "id" -> JString("perfbench-taxi"),
      "format" -> JObject("provider" -> JString("parquet"), "options" -> JObject()),
      "schemaString" -> JString(schemaString),
      "partitionColumns" -> JArray(List(JString("month"))),
      "configuration" -> JObject(),
      "createdTime" -> JLong(created)))
    def add(a: (String, String, Long, String), v: Int): JValue =
      JObject("add" -> JObject(
        "path" -> JString(a._1),
        "partitionValues" -> JObject("month" -> JString(a._2)),
        "size" -> JLong(a._3),
        "modificationTime" -> JLong(created + v),
        "dataChange" -> JBool(true),
        "stats" -> JString(a._4)))
    def version(i: Int): Int = i * Commits / adds.size
    val byVersion = adds.zipWithIndex.groupBy { case (_, i) => version(i) }
    (0 until Commits).foreach { v =>
      val actions = (if (v == 0) Seq(protocol, meta) else Nil) ++
        byVersion.getOrElse(v, Nil).map { case (a, _) => add(a, v) }
      Files.writeString(new File(log, f"$v%020d.json").toPath,
        actions.map(a => JsonMethods.compact(JsonMethods.render(a))).mkString("", "\n", "\n"))
    }
    val cpAdds = byVersion.filter(_._1 <= CheckpointVersion).values.flatten.toSeq.sortBy(_._2)
    val factory = new SimpleGroupFactory(CheckpointParquet)
    val cp = new File(log, f"$CheckpointVersion%020d.checkpoint.parquet")
    val w = parquetWriter(cp, CheckpointParquet)
    try {
      val p = factory.newGroup()
      p.addGroup("protocol").append("minReaderVersion", 1L).append("minWriterVersion", 2L)
      w.write(p)
      val md = factory.newGroup()
      val mg = md.addGroup("metaData").append("id", "perfbench-taxi").append("schemaString", schemaString)
      mg.addGroup("partitionColumns").addGroup("list").append("element", "month")
      w.write(md)
      cpAdds.foreach { case (a, i) =>
        val g = factory.newGroup()
        val ag = g.addGroup("add").append("path", a._1)
        ag.addGroup("partitionValues").addGroup("key_value").append("key", "month").append("value", a._2)
        ag.append("size", a._3).append("modificationTime", created + version(i))
          .append("dataChange", true).append("stats", a._4)
        w.write(g)
      }
    } finally w.close()
    Files.writeString(new File(log, "_last_checkpoint").toPath,
      s"""{"version":$CheckpointVersion,"size":${cpAdds.size + 2}}""")
  }

  /** Tables the traced profile's four operator queries read, in the shapes
    * of the TPC-H-like test data at scale factor 0.05 (customer 7.5k,
    * orders 75k, lineitem 300k, documents 5k, events 50k), each one parquet
    * file under `<name>.parquet/`: half of sf0.1, which shortens the
    * operator runs a traced run must fit in its time limit. Documents come
    * in near-duplicate pairs (every fifth repeats its predecessor plus one
    * word) so the minhash join finds real candidates. */
  final case class Ops(dir: String, generateS: Double)

  private val Vocab = Seq("batch", "part", "spark", "line", "column", "order", "small",
    "sort", "fast", "value", "scan", "a", "hash", "slow", "group", "agg", "filter",
    "query", "big", "key", "window", "row", "table", "stream", "merge", "data",
    "vector", "customer", "join", "the")

  def ops(root: String, seed: Long): Ops = {
    val dir = new File(root, s"ops-s$seed-sf0.05")
    cached(dir) { tmp =>
      def write(name: String, rows: Long, columns: String)(fill: (Group, Long) => Group): Unit = {
        val schema = MessageTypeParser.parseMessageType(s"message spark_schema {\n$columns\n}")
        val factory = new SimpleGroupFactory(schema)
        val file = new File(tmp, s"$name.parquet/part-00000.snappy.parquet")
        file.getParentFile.mkdirs()
        val w = parquetWriter(file, schema)
        try (0L until rows).foreach(id => w.write(fill(factory.newGroup(), id)))
        finally w.close()
      }
      def d(id: Long, salt: Int, n: Long): Long = draw(id, seed, salt, n)
      def pick(values: Seq[String], id: Long, salt: Int): String =
        values(d(id, salt, values.size).toInt)
      val day = 86400L * 1000000L
      val ts0 = 694224000L * 1000000L // 1992-01-01 UTC, in µs
      write("customer", 7500,
        """optional int64 c_custkey; optional binary c_name (STRING); optional int32 c_nationkey;
          |optional double c_acctbal; optional binary c_mktsegment (STRING);""".stripMargin) { (g, id) =>
        g.append("c_custkey", id).append("c_name", f"Customer#$id%09d")
          .append("c_nationkey", d(id, 1, 25).toInt)
          .append("c_acctbal", (d(id, 2, 1100000) - 100000) / 100.0)
          .append("c_mktsegment",
            pick(Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"), id, 3))
      }
      write("orders", 75000,
        """optional int64 o_orderkey; optional int64 o_custkey; optional binary o_orderstatus (STRING);
          |optional double o_totalprice; optional int64 o_orderdate (TIMESTAMP(MICROS,true));
          |optional binary o_orderpriority (STRING);""".stripMargin) { (g, id) =>
        g.append("o_orderkey", id).append("o_custkey", d(id, 4, 7500))
          .append("o_orderstatus", pick(Seq("O", "F", "P"), id, 5))
          .append("o_totalprice", d(id, 6, 50000000) / 100.0)
          .append("o_orderdate", ts0 + d(id, 7, 2400) * day)
          .append("o_orderpriority",
            pick(Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"), id, 8))
      }
      write("lineitem", 300000,
        """optional int64 l_orderkey; optional int64 l_partkey; optional int64 l_suppkey;
          |optional int32 l_linenumber; optional double l_quantity; optional double l_extendedprice;
          |optional double l_discount; optional double l_tax; optional binary l_returnflag (STRING);
          |optional binary l_linestatus (STRING); optional int64 l_shipdate (TIMESTAMP(MICROS,true));""".stripMargin) {
        (g, id) =>
          g.append("l_orderkey", id / 4).append("l_partkey", d(id, 9, 20000))
            .append("l_suppkey", d(id, 10, 1000)).append("l_linenumber", (id % 4 + 1).toInt)
            .append("l_quantity", (d(id, 11, 50) + 1).toDouble)
            .append("l_extendedprice", d(id, 12, 10000000) / 100.0)
            .append("l_discount", d(id, 13, 11) / 100.0).append("l_tax", d(id, 14, 9) / 100.0)
            .append("l_returnflag", pick(Seq("A", "N", "R"), id, 15))
            .append("l_linestatus", pick(Seq("F", "O"), id, 16))
            .append("l_shipdate", ts0 + d(id, 17, 2500) * day)
      }
      write("documents", 5000,
        """optional int64 doc_id; optional binary text (STRING); optional binary lang (STRING);
          |optional binary source (STRING); optional int64 n_chars;""".stripMargin) { (g, id) =>
        val base = if (id % 5 == 4) id - 1 else id
        val words = (0 until 20 + d(base, 20, 40).toInt).map(j => Vocab(d(base, 100 + j, Vocab.size).toInt))
        val text = (if (id % 5 == 4) words :+ "merge" else words).mkString(" ")
        g.append("doc_id", id).append("text", text)
          .append("lang", pick(Seq("en", "zh", "de", "fr"), id, 21))
          .append("source", s"src${id % 20}").append("n_chars", text.length.toLong)
      }
      write("events", 50000,
        """optional int64 event_id; optional int64 ts (TIMESTAMP(MICROS,true)); optional int64 user_id;
          |optional binary event_type (STRING); optional double value;
          |optional binary props (STRING);""".stripMargin) { (g, id) =>
        g.append("event_id", id).append("ts", 1704067200000000L + d(id, 22, 30 * day))
          .append("user_id", d(id, 23, 1500))
          .append("event_type", pick(Seq("view", "click", "purchase", "signup", "error"), id, 24))
          .append("value", d(id, 25, 20000) / 100.0)
          .append("props", s"""{"k": ${d(id, 26, 100)}}""")
      }
    }
    Ops(dir.getPath, lastGenerateS)
  }

  /** Seconds the last [[cached]] call spent generating; 0 on a cache hit. */
  @volatile private var lastGenerateS = 0.0

  private def cached(dir: File)(generate: File => Unit): Unit = {
    lastGenerateS = 0.0
    if (dir.isDirectory) return
    val t0 = System.nanoTime()
    val tmp = new File(dir.getPath + ".tmp")
    deleteTree(tmp)
    tmp.getParentFile.mkdirs()
    generate(tmp)
    Files.move(tmp.toPath, dir.toPath, StandardCopyOption.ATOMIC_MOVE)
    lastGenerateS = (System.nanoTime() - t0) / 1e9
  }

  private def walk(f: File): Seq[File] =
    if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)

  def deleteTree(f: File): Unit = {
    if (f.isDirectory) f.listFiles().foreach(deleteTree)
    f.delete()
  }
}
