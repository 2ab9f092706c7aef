package graft

import java.net.{HttpURLConnection, URI}
import java.nio.charset.StandardCharsets.UTF_8

import org.scalatest.funsuite.AnyFunSuite

/** The HTTP service surface must run a full two-stage JSON query (catalog
  * resolved from the request, like the reference's fuse service), reject
  * bad queries with a client error, and answer health checks. */
class ServerSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def request(
      url: String, method: String, body: Option[String]): (Int, String) = {
    val conn = URI.create(url).toURL.openConnection().asInstanceOf[HttpURLConnection]
    conn.setRequestMethod(method)
    body.foreach { b =>
      conn.setDoOutput(true)
      conn.getOutputStream.write(b.getBytes(UTF_8))
    }
    val status = conn.getResponseCode
    val in = if (status < 400) conn.getInputStream else conn.getErrorStream
    val out = new String(in.readAllBytes(), UTF_8)
    conn.disconnect()
    (status, out)
  }

  test("server answers health checks and runs a two-stage query end to end") {
    val server = Server.start(spark, 0) // ephemeral port
    try {
      val base = s"http://localhost:${server.getAddress.getPort}"
      assert(request(s"$base/health", "GET", None) == ((200, "\"H\"")))

      val query =
        s"""{
           |"steps": [
           | {"sql": "SELECT r_regionkey, count(*) AS cnt FROM region GROUP BY r_regionkey",
           |  "name": "m", "step_type": "HBee"},
           | {"sql": "SELECT sum(cnt) AS total FROM m", "name": "r", "step_type": "HComb"}
           |],
           |"capacity": {"zones": 1},
           |"catalogs": [{"name": "region", "type": "Static",
           |  "uri": "${TestSpark.sf}/region.parquet"}]
           |}""".stripMargin
      val (status, body) = request(s"$base/query", "POST", Some(query))
      assert(status == 200, s"body: $body")
      assert(body == """[{"total":5}]""", body)

      // malformed query → client error with a JSON error payload
      val (bad, badBody) = request(s"$base/query", "POST", Some("""{"steps": []}"""))
      assert(bad == 400, badBody)
      assert(badBody.contains("error"))

      // syntactically invalid JSON is ALSO a client error, not a 500
      val (unparseable, upBody) = request(s"$base/query", "POST", Some("not json at all"))
      assert(unparseable == 400, upBody)
      assert(upBody.contains("invalid JSON"))

      // wrong method
      assert(request(s"$base/query", "GET", None)._1 == 405)

      // /explain: the dry-run plan report for the same body, no execution
      val (exStatus, exBody) = request(s"$base/explain", "POST", Some(query))
      assert(exStatus == 200, s"explain body: $exBody")
      assert(exBody.contains("\"after_zone_pruning\"") &&
        exBody.contains("\"output_schema\"") &&
        exBody.contains("\"format\":\"parquet\""), exBody)
      // explain surfaces plan errors as client errors too
      assert(request(s"$base/explain", "POST", Some("""{"steps": []}"""))._1 == 400)
      assert(request(s"$base/explain", "GET", None)._1 == 405)

      // concurrent queries in the one shared session, over two different
      // files under the same catalog name and the same step names: each
      // must read its own file
      import scala.concurrent.{Await, Future}
      import scala.concurrent.duration._
      import scala.concurrent.ExecutionContext.Implicits.global
      def countQuery(file: String) =
        s"""{
           |"steps": [
           | {"sql": "SELECT count(*) AS cnt FROM t", "name": "m", "step_type": "HBee"},
           | {"sql": "SELECT sum(cnt) AS total FROM m", "name": "r", "step_type": "HComb"}
           |],
           |"capacity": {"zones": 1},
           |"catalogs": [{"name": "t", "type": "Static", "uri": "${TestSpark.sf}/$file"}]
           |}""".stripMargin
      val expected = Seq(query -> """[{"total":5}]""",
        countQuery("region.parquet") -> """[{"total":5}]""",
        countQuery("nation.parquet") -> """[{"total":25}]""")
      val results = Await.result(
        Future.sequence(Seq.fill(3)(expected).flatten.map { case (q, want) =>
          Future((request(s"$base/query", "POST", Some(q)), want))
        }),
        120.seconds)
      results.foreach { case ((st, b), want) =>
        assert(st == 200 && b == want, s"concurrent run broke: $st $b, want $want")
      }
    } finally server.stop(0)
  }

  test("Accept: arrow stream returns a decodable Arrow IPC response") {
    val server = Server.start(spark, 0)
    try {
      val base = s"http://localhost:${server.getAddress.getPort}"
      val query =
        s"""{
           |"steps": [
           | {"sql": "SELECT r_regionkey, r_name FROM region",
           |  "name": "m", "step_type": "HBee"},
           | {"sql": "SELECT r_regionkey, r_name FROM m ORDER BY r_regionkey",
           |  "name": "r", "step_type": "HComb"}
           |],
           |"capacity": {"zones": 1},
           |"catalogs": [{"name": "region", "type": "Static",
           |  "uri": "${TestSpark.sf}/region.parquet"}]
           |}""".stripMargin
      val conn = URI.create(s"$base/query").toURL
        .openConnection().asInstanceOf[HttpURLConnection]
      conn.setRequestMethod("POST")
      conn.setRequestProperty("Accept", Server.ArrowMime)
      conn.setDoOutput(true)
      conn.getOutputStream.write(query.getBytes(UTF_8))
      assert(conn.getResponseCode == 200)
      assert(conn.getContentType == Server.ArrowMime)
      val bytes = conn.getInputStream.readAllBytes()
      conn.disconnect()

      // decode with the bundled Arrow Java reader — exactly what an external
      // pyarrow/arrow-rs client would do — and compare to the JSON rows
      import org.apache.arrow.memory.RootAllocator
      import org.apache.arrow.vector.ipc.ArrowStreamReader
      val alloc = new RootAllocator()
      val reader = new ArrowStreamReader(new java.io.ByteArrayInputStream(bytes), alloc)
      val decoded = scala.collection.mutable.ArrayBuffer[(Int, String)]()
      try {
        val root = reader.getVectorSchemaRoot
        assert(root.getSchema.getFields.size() == 2)
        while (reader.loadNextBatch()) {
          val keys = root.getVector("r_regionkey")
            .asInstanceOf[org.apache.arrow.vector.IntVector]
          val names = root.getVector("r_name")
            .asInstanceOf[org.apache.arrow.vector.VarCharVector]
          (0 until root.getRowCount).foreach { i =>
            decoded += ((keys.get(i), new String(names.get(i), UTF_8)))
          }
        }
      } finally { reader.close(); alloc.close() }
      val viaJson = spark.read.parquet(s"${TestSpark.sf}/region.parquet")
        .collect().map(r => (r.getInt(0), r.getString(1))).sortBy(_._1).toSeq
      assert(decoded.toSeq == viaJson)
    } finally server.stop(0)
  }

  test("idle server self-stops after the configured timeout") {
    val stopped = new java.util.concurrent.CountDownLatch(1)
    val server = Server.start(spark, 0,
      idleShutdownMs = Some(300L), onStop = () => stopped.countDown())
    val base = s"http://localhost:${server.getAddress.getPort}"
    // activity holds it open: a request resets the idle clock
    assert(request(s"$base/health", "GET", None)._1 == 200)
    // then no traffic → the watcher stops the server and fires onStop
    assert(stopped.await(10, java.util.concurrent.TimeUnit.SECONDS),
      "server did not self-stop after idle timeout")
    val refused = intercept[Exception] { request(s"$base/health", "GET", None) }
    assert(refused != null)
  }
}
