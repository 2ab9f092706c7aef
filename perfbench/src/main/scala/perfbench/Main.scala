package perfbench

import java.io.ByteArrayInputStream
import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.CyclicBarrier

import scala.collection.mutable.ArrayBuffer
import scala.util.hashing.MurmurHash3

import com.sun.net.httpserver.HttpServer
import org.apache.spark.PerfbenchBridge
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.json4s._
import org.json4s.JsonDSL._
import org.json4s.jackson.JsonMethods

import graft.model.BuzzQuery
import graft.plans.BuzzEngine
import graft.sources.{CatalogResolver, ZoneMap}

/** One run of one workload, in two JVMs so that every measuring JVM does
  * the same work whatever is cached:
  *
  *  - `--phase prepare` generates the seed's inputs when they are not
  *    cached yet, and writes how long that took;
  *  - `--phase measure` measures, checks every response against the
  *    answers of direct Spark SQL computed after everything timed, and
  *    writes its raw records (request intervals, outcomes, set-up times,
  *    host-load facts and, when traced, spans and Spark jobs). `run.py`
  *    computes the statistics.
  *
  * Usage: perfbench.Main --phase prepare|measure --workload W --seed N
  *          --seconds S --trace 0|1 --data DIR --out FILE */
object Main {

  /** Epoch microseconds on the monotonic clock, so span and Spark job
    * times (epoch ms) share one axis. */
  object Clock {
    private val anchorMs = System.currentTimeMillis()
    private val anchorNs = System.nanoTime()
    def us(): Long = anchorMs * 1000 + (System.nanoTime() - anchorNs) / 1000
  }

  val Workloads = Seq("pruned_interactive", "scan_reduce")
  val OperatorQueries = Seq("graph_pagerank", "er_resolve", "dedup_minhash", "events_hourly")
  /** 192k rows in 24 files. */
  val RowsPerFile = 8000
  /** The warm-up lasts at least this long and takes at least
    * [[WarmRequests]] requests in all, two per client at least. */
  val WarmupS = 5.0
  val WarmRequests = 4
  /** Set-ups per untraced run; the first also pays JVM class loading and
    * is reported on its own, and `stats.py` takes the median of the last
    * 11, once the JIT has compiled the set-up path. A traced run, which
    * reports no set-up time, sets up once. */
  val SetUps = 16
  /** Rounds of the traced layer profile, each sending one request of every
    * kind. */
  val TracedRounds = 3

  final case class Opts(prepare: Boolean, workload: String, seed: Long, seconds: Double,
      trace: Boolean, data: String, out: String)

  def parseArgs(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String): String = m.getOrElse(k, sys.error(s"missing --$k"))
    val w = need("workload")
    require(Workloads.contains(w), s"unknown workload '$w' (expected ${Workloads.mkString(", ")})")
    Opts(need("phase") == "prepare", w, need("seed").toLong, need("seconds").toDouble,
      need("trace") == "1", need("data"), need("out"))
  }

  val cpus: Int = Runtime.getRuntime.availableProcessors()

  /** The session `Server.main` builds with SPARK_GRAFT_CPUS=nproc, plus
    * scratch locations inside the data root. */
  def buildSession(data: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$data/spark-local")
      .config("spark.sql.warehouse.dir", s"$data/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  // ---- requests and their independently computed answers ----

  /** What a response or a direct statement returned: the exact rows in
    * order, or (for wide results) an order-independent digest of every row. */
  sealed trait Answer
  final case class Rows(rows: Seq[Seq[String]]) extends Answer
  final case class Digest(count: Long, sum: Long, xor: Long) extends Answer

  final case class Req(kind: String, body: String, arrow: Boolean, direct: String)

  def canon(v: Any): String = v match {
    case null => "null"
    case b: java.math.BigDecimal => b.stripTrailingZeros.toPlainString
    case b: BigDecimal => canon(b.bigDecimal)
    case other => other.toString
  }

  def digest(rows: Iterator[Seq[String]]): Digest = {
    var n = 0L; var sum = 0L; var xor = 0L
    rows.foreach { r =>
      n += 1
      sum += MurmurHash3.seqHash(r).toLong
      xor ^= (r.mkString("\u0001").hashCode.toLong << 32) | (MurmurHash3.seqHash(r.reverse) & 0xffffffffL)
    }
    Digest(n, sum, xor)
  }

  private def query(map: String, reduce: String, filter: Option[String],
      catalogType: String, uri: String): String = {
    val mapStep = ("sql" -> map) ~ ("name" -> "nyc_taxi_map") ~ ("step_type" -> "HBee") ~
      ("partition_filter" -> filter)
    val reduceStep = ("sql" -> reduce) ~ ("name" -> "nyc_taxi_reduce") ~ ("step_type" -> "HComb")
    JsonMethods.compact(JsonMethods.render(
      ("steps" -> List(mapStep, reduceStep)) ~ ("capacity" -> ("zones" -> 1)) ~
        ("catalogs" -> List(("name" -> "nyc_taxi") ~ ("type" -> catalogType) ~ ("uri" -> uri)))))
  }

  private def monthRange(first: Int, n: Int): String =
    s"month >= '${Data.month(first)}' AND month <= '${Data.month(first + n - 1)}'"

  /** The request variants of each kind, drawn from the seed. `static` and
    * `delta` are the same pruned query over the two catalog types. */
  def requestSpecs(taxi: Data.Taxi, seed: Long): Map[String, Seq[(String, Boolean, String)]] = {
    val rnd = new java.util.Random(seed)
    val pruned = (0 until 4).map { _ =>
      val m0 = 1 + rnd.nextInt(Data.Months - 2)
      val slice = rnd.nextInt(Data.FilesPerMonth)
      // within one file's slice: zone pruning keeps one file per month
      val lo = slice * Data.SliceSeconds + rnd.nextInt(Data.SliceSeconds / 2)
      val hi = lo + Data.SliceSeconds / 2 - 1
      val where = s"pickup_seconds BETWEEN $lo AND $hi"
      val map = "SELECT payment_type, COUNT(payment_type) AS payment_type_count, " +
        s"SUM(fare_amount) AS fare_sum FROM nyc_taxi WHERE $where GROUP BY payment_type"
      val reduce = "SELECT payment_type, SUM(payment_type_count) AS payment_type_count, " +
        "SUM(fare_sum) AS fare_sum FROM nyc_taxi_map GROUP BY payment_type ORDER BY payment_type"
      val direct = "SELECT payment_type, COUNT(payment_type) AS payment_type_count, " +
        s"SUM(fare_amount) AS fare_sum FROM taxi_direct WHERE ${monthRange(m0, 3)} AND $where " +
        "GROUP BY payment_type ORDER BY payment_type"
      (map, reduce, Some(monthRange(m0, 3)), direct)
    }
    val scan = Seq("fare", "tips").map { by =>
      val map = "SELECT medallion, COUNT(*) AS trips, SUM(fare_amount) AS fare, " +
        "SUM(tip_amount) AS tips FROM nyc_taxi GROUP BY medallion"
      val reduce = "SELECT medallion, SUM(trips) AS trips, SUM(fare) AS fare, SUM(tips) AS tips " +
        s"FROM nyc_taxi_map GROUP BY medallion ORDER BY $by DESC, medallion LIMIT 100"
      val direct = "SELECT medallion, COUNT(*) AS trips, SUM(fare_amount) AS fare, " +
        "SUM(tip_amount) AS tips FROM taxi_direct GROUP BY medallion " +
        s"ORDER BY $by DESC, medallion LIMIT 100"
      (map, reduce, None, direct)
    }
    val wide = (0 until 2).map { _ =>
      val m0 = 1 + rnd.nextInt(Data.Months / 2 + 1)
      val map = "SELECT medallion, payment_type, COUNT(*) AS trips, SUM(fare_amount) AS fare " +
        "FROM nyc_taxi GROUP BY medallion, payment_type"
      val reduce = "SELECT medallion, SUM(trips) AS trips, SUM(fare) AS fare " +
        "FROM nyc_taxi_map GROUP BY medallion"
      val direct = "SELECT medallion, COUNT(*) AS trips, SUM(fare_amount) AS fare " +
        s"FROM taxi_direct WHERE ${monthRange(m0, 6)} GROUP BY medallion"
      (map, reduce, Some(monthRange(m0, 6)), direct)
    }
    def bodies(specs: Seq[(String, String, Option[String], String)], tpe: String) =
      specs.map { case (m, r, f, d) => (query(m, r, f, tpe, taxi.dir), false, d) }
    Map(
      "static" -> bodies(pruned, "Static"),
      "delta" -> bodies(pruned, "DeltaLake"),
      "scan" -> bodies(scan, "Static"),
      "wide" -> bodies(wide, "Static").map { case (b, _, d) => (b, true, d) })
  }

  /** The request kinds a run sends. */
  def kindsOf(o: Opts): Seq[String] =
    if (o.trace) Seq("static", "delta", "scan", "wide") else o.workload match {
      case "pruned_interactive" => Seq("static", "delta")
      case "scan_reduce" => Seq("scan")
    }

  /** The request variants a run sends: every variant of its kinds, or one
    * warm variant per kind when traced. */
  def runSpecs(o: Opts, taxi: Data.Taxi): Map[String, Seq[(String, Boolean, String)]] =
    requestSpecs(taxi, o.seed).filter(kv => kindsOf(o).contains(kv._1))
      .map { case (k, v) => k -> (if (o.trace) v.take(1) else v) }

  /** Register the generated table for direct single-statement SQL, read by
    * Spark's own datasource (never through the engine under test). */
  def registerDirect(spark: SparkSession, taxi: Data.Taxi): Unit =
    spark.read.parquet(taxi.dir).createOrReplaceTempView("taxi_direct")

  def answer(spark: SparkSession, direct: String, arrow: Boolean): Answer = {
    val rows = spark.sql(direct).collect().iterator.map(r => r.toSeq.map(canon))
    if (arrow) digest(rows) else Rows(rows.toSeq)
  }

  /** The direct answer to every request in `reqs`, keyed by its statement. */
  def answers(spark: SparkSession, taxi: Data.Taxi, reqs: Iterable[Req]): Map[String, Answer] = {
    registerDirect(spark, taxi)
    reqs.map(r => (r.direct, r.arrow)).toSeq.distinct
      .map { case (d, a) => d -> answer(spark, d, a) }.toMap
  }

  // ---- the client ----

  def post(http: HttpClient, port: Int, req: Req): (Int, Array[Byte]) = {
    val b = HttpRequest.newBuilder(URI.create(s"http://localhost:$port/query"))
      .POST(HttpRequest.BodyPublishers.ofString(req.body))
    if (req.arrow) b.header("Accept", graft.Server.ArrowMime)
    val resp = http.send(b.build(), HttpResponse.BodyHandlers.ofByteArray())
    (resp.statusCode(), resp.body())
  }

  def jsonRows(bytes: Array[Byte]): Iterator[Seq[String]] =
    JsonMethods.parse(new String(bytes, UTF_8), useBigDecimalForDouble = true) match {
      case JArray(objs) => objs.iterator.map {
        case JObject(fields) => fields.map {
          case (_, JString(s)) => s
          case (_, JInt(i)) => i.toString
          case (_, JDecimal(d)) => canon(d)
          case (_, JNull) => "null"
          case (_, other) => sys.error(s"unexpected JSON value $other")
        }
        case other => sys.error(s"not a row: $other")
      }
      case other => sys.error(s"not a JSON array: ${other.getClass.getSimpleName}")
    }

  def arrowRows(bytes: Array[Byte]): Iterator[Seq[String]] = {
    import org.apache.arrow.memory.RootAllocator
    import org.apache.arrow.vector.ipc.ArrowStreamReader
    import scala.jdk.CollectionConverters._
    val allocator = new RootAllocator()
    val reader = new ArrowStreamReader(new ByteArrayInputStream(bytes), allocator)
    val out = ArrayBuffer.empty[Seq[String]]
    try {
      val root = reader.getVectorSchemaRoot
      while (reader.loadNextBatch()) {
        val vectors = root.getFieldVectors.asScala.toSeq
        (0 until root.getRowCount).foreach(i => out += vectors.map(v => canon(v.getObject(i))))
      }
    } finally { reader.close(); allocator.close() }
    out.iterator
  }

  private val reportedFailures = new java.util.concurrent.atomic.AtomicInteger(0)

  /** What a response held; None for a non-200 status or a body that does
    * not parse. */
  def observe(req: Req, status: Int, bytes: Array[Byte]): Option[Answer] =
    if (status != 200) None
    else try {
      val rows = if (req.arrow) arrowRows(bytes) else jsonRows(bytes)
      Some(if (req.arrow) digest(rows) else Rows(rows.toSeq))
    } catch { case scala.util.control.NonFatal(_) => None }

  /** A response as received, checked once the answers are known. */
  final case class Seen(req: Req, status: Int, answer: Option[Answer])

  /** Whether a response is a 200 holding the direct answer. The first few
    * failures are logged. */
  def correct(known: Map[String, Answer], seen: Seen): Boolean = {
    val ok = seen.answer.contains(known(seen.req.direct))
    if (!ok && reportedFailures.incrementAndGet() <= 5)
      System.err.println(s"[perfbench] failed ${seen.req.kind} request: status ${seen.status}, " +
        s"response ${seen.answer.toString.take(500)}\n  body: ${seen.req.body}")
    ok
  }

  // ---- set-up ----

  /** Session build → kernels registered → server started → first 200 from
    * /health: what a fresh deployment pays before it can serve. */
  def setUp(data: String): (SparkSession, HttpServer, Double) = {
    val t0 = System.nanoTime()
    val spark = buildSession(data)
    graft.functions.GraftFunctions.registerAll(spark)
    val server = graft.Server.start(spark, 0)
    val http = HttpClient.newHttpClient()
    val health = HttpRequest.newBuilder(
      URI.create(s"http://localhost:${server.getAddress.getPort}/health")).GET().build()
    while (http.send(health, HttpResponse.BodyHandlers.discarding()).statusCode() != 200)
      Thread.sleep(1)
    (spark, server, (System.nanoTime() - t0) / 1e9)
  }

  // ---- measured loops ----

  final case class Rec(client: Int, startUs: Long, endUs: Long, seen: Seen)

  /** A closed loop: each of `clients` threads sends its next request only
    * after the previous one completed. After a warm-up (and
    * `beforeMeasure`, run while every client waits), every request started
    * within `seconds` of the phase start is recorded. */
  def closedLoop(clients: Int, seconds: Double, next: (Int, Int) => Req, port: Int,
      beforeMeasure: () => Unit): (Long, Seq[Rec]) = {
    @volatile var phaseStart = 0L
    val barrier = new CyclicBarrier(clients, () => { beforeMeasure(); phaseStart = Clock.us() })
    val warmEnd = Clock.us() + (WarmupS * 1e6).toLong
    val results = Array.fill(clients)(ArrayBuffer.empty[Rec])
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val threads = (0 until clients).map { c =>
      new Thread(() => try {
        val http = HttpClient.newBuilder().version(HttpClient.Version.HTTP_1_1).build()
        var i = 0
        def one(): Rec = {
          val req = next(c, i); i += 1
          val s = Clock.us()
          val (status, bytes) = post(http, port, req)
          val e = Clock.us()
          Rec(c, s, e, Seen(req, status, observe(req, status, bytes)))
        }
        val warmMin = math.max(2, (WarmRequests + clients - 1) / clients)
        var warm = 0
        while (warm < warmMin || Clock.us() < warmEnd) { one(); warm += 1 }
        barrier.await()
        val end = phaseStart + (seconds * 1e6).toLong
        while (Clock.us() < end) results(c) += one()
      } catch { case t: Throwable => errors.add(t); barrier.reset() }, s"client-$c")
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    if (!errors.isEmpty) throw errors.peek()
    (phaseStart, results.toSeq.flatten)
  }

  /** Materialize every row of an operator's output: an order-independent
    * hash over all columns plus the row count, so column pruning cannot
    * skip work a real consumer would pay for. */
  def materialize(df: DataFrame): (Long, Long) = {
    val r = df.agg(count(lit(1)),
      coalesce(sum(pmod(xxhash64(df.columns.map(c => col(s"`$c`")): _*), lit(2147483647L))),
        lit(0L))).collect().head
    (r.getLong(0), r.getLong(1))
  }

  def runOperator(spark: SparkSession, dir: String, q: String): (Long, Long) =
    materialize(graft.SparkEntry.queries(q)(spark, dir))

  /** Drops every frame the operators persisted, so the next run of a query
    * does its own work instead of reading an earlier run's cache. */
  def clearOperatorCaches(spark: SparkSession): Unit = {
    graft.operators.PipelineCache.clear()
    spark.catalog.clearCache()
  }

  // ---- traced layer profile ----

  final class Tracer {
    val spans = ArrayBuffer.empty[JValue]
    val jobs = ArrayBuffer.empty[JValue]
    private var nextId = 0
    def id(): Int = { nextId += 1; nextId }
    def add(id: Int, name: String, parent: Int, request: Int, kind: String, s: Long, e: Long,
        attrs: Map[String, Double] = Map.empty): Int = {
      spans += ("id" -> id) ~ ("name" -> name) ~ ("parent" -> parent) ~ ("request" -> request) ~
        ("kind" -> kind) ~ ("start_us" -> s) ~ ("end_us" -> e) ~
        ("attrs" -> JObject(attrs.toList.map { case (k, v) => k -> JDouble(v) }))
      id
    }
    def span[T](name: String, parent: Int, request: Int, kind: String)(body: => T): T = {
      val s = Clock.us(); val r = body; add(id(), name, parent, request, kind, s, Clock.us()); r
    }
    def jobsOf(spark: SparkSession, tracker: JobTracker, request: Int): Unit = {
      PerfbenchBridge.drainListeners(spark.sparkContext)
      tracker.take().foreach { j =>
        jobs += ("request" -> request) ~ ("job" -> j.id) ~ ("start_ms" -> j.startMs) ~
          ("end_ms" -> j.endMs) ~ ("stages" -> j.stages) ~ ("tasks" -> j.tasks) ~
          ("failed_tasks" -> j.failedTasks) ~ ("input_bytes" -> j.inputBytes) ~
          ("input_rows" -> j.inputRows) ~ ("shuffle_write_bytes" -> j.shuffleWriteBytes) ~
          ("shuffle_fetch_wait_ms" -> j.shuffleFetchWaitMs) ~
          ("executor_run_ms" -> j.executorRunMs) ~ ("max_task_ms" -> j.maxTaskMs)
      }
    }
  }

  /** One request through the HTTP server, then the same request through
    * the public functions the /query handler reaches, in handler order,
    * each call wrapped in a span. `BuzzEngine.run` repeats resolve and
    * prune internally on the caches the spans before it just warmed. */
  def tracedRequest(spark: SparkSession, port: Int, http: HttpClient, engine: BuzzEngine,
      tracker: JobTracker, tr: Tracer, req: Req): Seq[Seen] = {
    val request = tr.id()
    val pruned = req.kind == "static" || req.kind == "delta"
    // only the pruned kinds go through HTTP too: server.overhead_ms is a
    // pruned_interactive metric, and the other kinds are checked on the
    // bytes the in-process encode returns. The request is sent twice, first
    // with the job listener detached, then attached, so the two latencies
    // give the tracing overhead; the HTTP requests' jobs are not attributed.
    def httpLeg(name: String): Seen = {
      val hs = Clock.us()
      val (status, bytes) = post(http, port, req)
      tr.add(tr.id(), name, 0, request, req.kind, hs, Clock.us())
      Seen(req, status, observe(req, status, bytes))
    }
    val viaHttp = if (!pruned) Nil else {
      PerfbenchBridge.drainListeners(spark.sparkContext)
      spark.sparkContext.removeSparkListener(tracker)
      val untraced = httpLeg("http.untraced")
      spark.sparkContext.addSparkListener(tracker)
      val traced = httpLeg("http")
      tr.jobsOf(spark, tracker, -1)
      Seq(untraced, traced)
    }

    val root = tr.id()
    val rs = Clock.us()
    val session = tr.span("server.session", root, request, req.kind) {
      val s = spark.newSession(); graft.functions.GraftFunctions.registerAll(s); s
    }
    val q = tr.span("model.parse", root, request, req.kind)(BuzzQuery.fromJson(req.body))
    val cat = tr.span("sources.resolve", root, request, req.kind) {
      CatalogResolver.resolve(session, q.catalogs)
    }.values.head
    val mapStep = q.steps.head
    val afterPartition = tr.span("sources.partition_prune", root, request, req.kind) {
      cat.prune(session, mapStep.partitionFilter)
    }
    val files = tr.span("sources.zone_prune", root, request, req.kind) {
      ZoneMap.pruneForQuery(session, cat.schema, afterPartition, mapStep.sql, cat.format)
    }
    val rd = Clock.us()
    cat.read(session, files)
    tr.add(tr.id(), "sources.read", root, request, req.kind, rd, Clock.us(), Map(
      "files_total" -> cat.files.size.toDouble,
      "files_after_partition" -> afterPartition.size.toDouble,
      "files_after_zone" -> files.size.toDouble,
      "bytes_planned" -> files.map(_.length).sum.toDouble))
    val df = tr.span("plans.run", root, request, req.kind)(engine.run(session, q))
    val rows = tr.span("plans.exec", root, request, req.kind)(df.collect())
    // the handler's encoder applied to the already collected rows (a local
    // relation the encoder reads on the driver), so the span holds the
    // encoding alone, not a second execution of the plan
    val collected = session.createDataFrame(java.util.Arrays.asList(rows: _*), df.schema)
    val es = Clock.us()
    val encoded =
      if (req.arrow) org.apache.spark.sql.graft.ArrowBridge.toIPCStream(collected)
      else collected.toJSON.collect().mkString("[", ",", "]").getBytes(UTF_8)
    tr.add(tr.id(), "server.encode", root, request, req.kind, es, Clock.us(),
      Map("response_bytes" -> encoded.length.toDouble))
    tr.add(root, "request", 0, request, req.kind, rs, Clock.us())
    if (req.kind == "static" || req.kind == "scan")
      tr.span("direct", 0, request, req.kind)(spark.sql(req.direct).collect())
    tr.jobsOf(spark, tracker, request)
    viaHttp :+ Seen(req, 200, observe(req, 200, encoded))
  }

  // ---- main ----

  /** Spark's and the server's non-daemon threads would keep a failed run
    * alive; any failure ends the JVM with a non-zero status. */
  def main(args: Array[String]): Unit =
    try {
      val o = parseArgs(args)
      if (o.prepare) prepare(o) else measure(o)
      System.exit(0)
    } catch { case t: Throwable => t.printStackTrace(); System.exit(1) }

  /** Runs `body`, logging its wall time to stderr (the run's log). */
  def phase[T](name: String)(body: => T): T = {
    val t0 = System.nanoTime()
    val r = body
    System.err.println(f"[perfbench] $name took ${(System.nanoTime() - t0) / 1e9}%.2f s")
    r
  }

  /** Generates the seed's inputs unless they are cached. */
  def prepare(o: Opts): Unit = {
    val t0 = System.nanoTime()
    val taxi = phase("taxi data")(Data.taxi(o.data, o.seed, RowsPerFile))
    val ops = if (o.trace) Some(phase("operator data")(Data.ops(o.data, o.seed))) else None
    java.nio.file.Files.writeString(java.nio.file.Paths.get(o.out), JsonMethods.compact(JsonMethods.render(
      ("taxi" -> ("dir" -> taxi.dir) ~ ("rows" -> taxi.rows) ~ ("files" -> taxi.files) ~
        ("bytes" -> taxi.bytes) ~ ("generate_s" -> taxi.generateS)) ~
      ("ops" -> ops.map(d => ("dir" -> d.dir) ~ ("generate_s" -> d.generateS))) ~
      ("generate_s" -> (System.nanoTime() - t0) / 1e9))))
  }

  def measure(o: Opts): Unit = {
    val root = ArrayBuffer.empty[JField]
    val taxi = Data.taxi(o.data, o.seed, RowsPerFile)
    val opsData = if (o.trace) Some(Data.ops(o.data, o.seed)) else None

    // several set-ups, for a steady median; the last one serves
    var spark: SparkSession = null
    var server: HttpServer = null
    val setUps = if (o.trace) 1 else SetUps
    val setups = phase("set-ups")((1 to setUps).map { i =>
      System.gc() // the previous set-up's garbage, outside the timing
      val (s, srv, t) = setUp(o.data)
      if (i < setUps) { srv.stop(0); s.stop() } else { spark = s; server = srv }
      t
    })
    val port = server.getAddress.getPort

    val kinds = kindsOf(o)
    val reqs: Map[String, Seq[Req]] = runSpecs(o, taxi).map { case (kind, variants) =>
      kind -> variants.map { case (body, arrow, direct) => Req(kind, body, arrow, direct) }
    }
    if (o.trace) registerDirect(spark, taxi)
    // host load just before measuring, after the warm-up, so the
    // calibration job runs warm and reads the host, not JVM start-up
    var loadBefore = 0.0
    var calibBefore = 0.0
    def calibrate(): Unit = {
      loadBefore = graft.Calibration.loadAvg()
      calibBefore = phase("calibration")(graft.Calibration.timed(spark))
    }

    // every response, checked after everything timed
    val seen = ArrayBuffer.empty[Seen]
    val operatorsOk = ArrayBuffer.empty[Boolean]
    var recs: Seq[Rec] = Nil
    if (!o.trace) {
      val clients = if (o.workload == "pruned_interactive") math.min(4, cpus) else 1
      val next = (c: Int, i: Int) => {
        val pool = reqs(kinds((c + i) % kinds.size))
        pool((c * 3 + i / kinds.size) % pool.size)
      }
      val (phaseStart, measured) = phase("closed loop")(
        closedLoop(clients, o.seconds, next, port, () => { calibrate(); System.gc() }))
      recs = measured
      seen ++= recs.map(_.seen)
      root += "clients" -> JInt(clients)
      root += "phase_start_us" -> JLong(phaseStart)
    } else {
      val tracker = new JobTracker
      spark.sparkContext.addSparkListener(tracker)
      val tr = new Tracer
      val client = HttpClient.newBuilder().version(HttpClient.Version.HTTP_1_1).build()
      val engine = new BuzzEngine(Map.empty)
      // warm every path, untraced: the requests and the operator queries
      // (whose warm-up runs give the reference answers) side by side, since
      // most of a cold run is single-threaded driver work
      val dir = opsData.get.dir
      val reference = phase("trace warm-up") {
        val operators = scala.concurrent.Future(
          OperatorQueries.map(q => q -> runOperator(spark, dir, q)).toMap)(
          scala.concurrent.ExecutionContext.global)
        kinds.foreach { k =>
          val r = reqs(k).head
          val (status, bytes) = post(client, port, r)
          seen += Seen(r, status, observe(r, status, bytes))
        }
        val r = scala.concurrent.Await.result(operators, scala.concurrent.duration.Duration.Inf)
        clearOperatorCaches(spark)
        r
      }
      calibrate()
      tr.jobsOf(spark, tracker, -1)
      phase("traced requests")((1 to TracedRounds).foreach { _ =>
        kinds.foreach { k =>
          seen ++= tracedRequest(spark, port, client, engine, tracker, tr, reqs(k).head)
        }
      })
      phase("traced operators")(OperatorQueries.foreach { q =>
        val request = tr.id()
        val res = tr.span(s"operators.$q", 0, request, "operator")(runOperator(spark, dir, q))
        tr.jobsOf(spark, tracker, request)
        clearOperatorCaches(spark)
        operatorsOk += res == reference(q)
      })
      root += "spans" -> JArray(tr.spans.toList)
      root += "jobs" -> JArray(tr.jobs.toList)
    }

    System.gc(); System.gc()
    val heapMb = java.lang.management.ManagementFactory.getMemoryMXBean
      .getHeapMemoryUsage.getUsed / 1048576.0
    val calibAfter = phase("calibration")(graft.Calibration.timed(spark))
    val loadAfter = graft.Calibration.loadAvg()

    val known = phase("answers")(answers(spark, taxi, reqs.values.flatten))
    val ok = seen.map(correct(known, _))
    if (!o.trace) root += "requests" -> records(recs.zip(ok))
    val attempted = seen.size + operatorsOk.size
    val failed = ok.count(!_) + operatorsOk.count(!_)

    root += "workload" -> JString(o.workload)
    root += "seed" -> JLong(o.seed)
    root += "trace" -> JBool(o.trace)
    root += "attempted" -> JLong(attempted)
    root += "failed" -> JLong(failed)
    root += "setup_s" -> JArray(setups.map(JDouble(_)).toList)
    root += "heap_after_gc_mb" -> JDouble(heapMb)
    root += "host" -> (("nproc" -> cpus) ~ ("master" -> spark.sparkContext.master) ~
      ("shuffle_partitions" -> spark.conf.get("spark.sql.shuffle.partitions")) ~
      ("adaptive" -> spark.conf.get("spark.sql.adaptive.enabled")) ~
      ("xmx_mb" -> Runtime.getRuntime.maxMemory / 1048576) ~
      ("calibration_before_s" -> calibBefore) ~ ("calibration_after_s" -> calibAfter) ~
      ("loadavg_before" -> loadBefore) ~ ("loadavg_after" -> loadAfter))
    java.nio.file.Files.writeString(java.nio.file.Paths.get(o.out),
      JsonMethods.compact(JsonMethods.render(JObject(root.toList))))
    server.stop(0)
    spark.stop()
  }

  private def records(recs: Seq[(Rec, Boolean)]): JValue = JArray(recs.toList.map { case (r, ok) =>
    ("client" -> r.client) ~ ("kind" -> r.seen.req.kind) ~ ("start_us" -> r.startUs) ~
      ("end_us" -> r.endUs) ~ ("status" -> r.seen.status) ~ ("ok" -> ok)
  })
}
