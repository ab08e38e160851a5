package graft

import java.net.InetSocketAddress
import java.util.concurrent.Executors
import java.util.concurrent.atomic.AtomicInteger

import com.sun.net.httpserver.{HttpExchange, HttpServer}
import org.apache.spark.sql.functions._

import graft.ops.RelationalOps
import graft.sources.{HttpTransport, IngestFetch, StubTransport}
import org.apache.spark.sql.types.{ArrayType, LongType, StringType, StructType}

/** The ingest transport executed over a REAL socket: a 127.0.0.1
  * loopback HTTP server inside the JVM answers POS-shaped POSTs
  * (`{s_code, sale_date}` bodies, envelope responses — the reference's
  * requests.post boundary, load_sales_data.py:84-99), and
  * [[HttpTransport]] drives it from executor threads via
  * `IngestFetch.fetchEnvelopesWithCoords`. Round-6 VERDICT: only the stub
  * transport was ever exercised; this closes that gap with zero
  * external network.
  */
class IngestSpec extends SparkSpec {
  import spark.implicits._

  private def worklist(stores: Int, lo: String, hi: String, parts: Int) =
    spark.read.format("graft.sources.WorklistSource")
      .option("stores", stores.toString)
      .option("lo", lo).option("hi", hi)
      .option("numPartitions", parts.toString)
      .load()

  // the loopback POS API: same response derivation as StubTransport,
  // so the HTTP chain must be byte-identical to the stub chain
  private def withPosServer[A](hits: AtomicInteger)(f: String => A): A = {
    val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/pos", (exchange: HttpExchange) => {
      val body = new String(exchange.getRequestBody.readAllBytes(), "UTF-8")
      hits.incrementAndGet()
      val resp = """"s_code":(\d+)""".r.findFirstMatchIn(body)
        .zip(""""sale_date":"([0-9-]+)"""".r.findFirstMatchIn(body)) match {
        case Some((sm, dm)) =>
          val s = sm.group(1).toLong
          val day = java.time.LocalDate.parse(dm.group(1)).toEpochDay
          val code = if (s % 50 == 0) "9999" else "0000"
          s"""{"ret_code":"$code","data":[{"id":${s * 100000 + day},"k":${day % 7}}]}"""
        case None => """{"ret_code":"9998","data":[]}"""
      }
      val bytes = resp.getBytes("UTF-8")
      exchange.getResponseHeaders.add("Content-Type", "application/json")
      exchange.sendResponseHeaders(200, bytes.length.toLong)
      exchange.getResponseBody.write(bytes)
      exchange.close()
    })
    server.setExecutor(Executors.newFixedThreadPool(8))
    server.start()
    try f(s"http://127.0.0.1:${server.getAddress.getPort}/pos")
    finally server.stop(0)
  }

  test("HTTP transport over loopback: one POST per work unit, envelopes identical to the stub chain") {
    val hits = new AtomicInteger(0)
    withPosServer(hits) { endpoint =>
      val wl = worklist(120, "2024-03-01", "2024-03-02", 5)
      val viaHttp = IngestFetch.fetchEnvelopesWithCoords(wl, new HttpTransport(endpoint))
        .as[(Long, java.sql.Date, String)].collect().sortBy(_._3).toSeq
      assert(hits.get() === 240, "exactly one POST per store×day work unit")
      val viaStub = IngestFetch.fetchEnvelopesWithCoords(wl, new StubTransport)
        .as[(Long, java.sql.Date, String)].collect().sortBy(_._3).toSeq
      assert(viaHttp === viaStub,
        "wire transport must be invisible to everything downstream")
    }
  }

  test("non-2xx responses still surface the API's error envelope; the decode gate, not the transport, adjudicates") {
    val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/pos", (exchange: HttpExchange) => {
      exchange.getRequestBody.readAllBytes()
      val bytes = """{"ret_code":"9999","data":[]}""".getBytes("UTF-8")
      exchange.sendResponseHeaders(503, bytes.length.toLong) // API down, body still an envelope
      exchange.getResponseBody.write(bytes)
      exchange.close()
    })
    server.setExecutor(Executors.newFixedThreadPool(2))
    server.start()
    try {
      val endpoint = s"http://127.0.0.1:${server.getAddress.getPort}/pos"
      val raw = IngestFetch.fetchEnvelopesWithCoords(
        worklist(4, "2024-03-01", "2024-03-01", 2), new HttpTransport(endpoint))
        .select("payload").as[String].collect().toSeq
      assert(raw.size === 4 && raw.forall(_.contains("\"9999\"")),
        "transport must hand the error envelope to the decode layer, not swallow or throw")
    } finally server.stop(0)
  }

  test("per-unit wire fault is isolated: one torn response quarantines that unit, the rest of the partition lands") {
    // the reference's catch-log-continue per store×day
    // (kicc_to_tb_sales.py:97-98): store 3's connection is killed
    // mid-exchange (no response bytes → client-side IOException); the
    // other units of the SAME partition must still fetch, and the bad
    // unit must surface as a ret_code-gated quarantine envelope, not a
    // task failure that re-fetches everything
    val hits = new AtomicInteger(0)
    val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/pos", (exchange: HttpExchange) => {
      val body = new String(exchange.getRequestBody.readAllBytes(), "UTF-8")
      hits.incrementAndGet()
      if (body.contains("\"s_code\":3,")) exchange.close() // torn: no response
      else {
        val bytes = """{"ret_code":"0000","data":[{"id":1,"k":1}]}""".getBytes("UTF-8")
        exchange.sendResponseHeaders(200, bytes.length.toLong)
        exchange.getResponseBody.write(bytes)
        exchange.close()
      }
    })
    server.setExecutor(Executors.newFixedThreadPool(2))
    server.start()
    try {
      val endpoint = s"http://127.0.0.1:${server.getAddress.getPort}/pos"
      val raw = IngestFetch.fetchEnvelopesWithCoords(
        worklist(4, "2024-03-01", "2024-03-01", 1), // ONE partition holds all units
        new HttpTransport(endpoint, readTimeoutMs = 5000))
        .select("payload").as[String].collect().toSeq
      assert(hits.get() === 4, "each unit fetched exactly once — no partition-wide retry")
      assert(raw.size === 4, "the torn unit must not erase its partition")
      val quarantined = raw.filter(_.contains(s""""ret_code":"${graft.sources.HttpTransport.UnitErrorCode}""""))
      assert(quarantined.size === 1 && quarantined.head.contains(""""s_code":3"""),
        s"exactly the torn unit carries the synthetic envelope: $raw")
      assert(raw.count(_.contains("\"0000\"")) === 3)
      // and the decode layer's gate drops exactly the quarantined unit
      val schema = new StructType()
        .add("ret_code", StringType)
        .add("data", ArrayType(new StructType()
          .add("id", LongType).add("k", LongType)))
      assert(RelationalOps.decodeEnvelope(
        IngestFetch.fetchEnvelopesWithCoords(
          worklist(4, "2024-03-01", "2024-03-01", 1),
          new HttpTransport(endpoint, readTimeoutMs = 5000)),
        "payload", schema).count() === 3L)
    } finally server.stop(0)
  }

  test("a transport breaking one-envelope-per-request fails LOUDLY in " +
       "fetchEnvelopesWithCoords — never silent truncation (r17 pass 11)") {
    // fewer envelopes than requests: a plain zip would drop the tail's
    // work units and the nightly would "succeed" having never fetched
    // them. Both starvation and surplus must fail the task.
    val short = new graft.sources.EnvelopeTransport {
      override def fetchPartition(rs: Iterator[graft.sources.FetchRequest]) =
        rs.take(1).map(_ => """{"ret_code":"0000","data":[]}""")
    }
    val surplus = new graft.sources.EnvelopeTransport {
      override def fetchPartition(rs: Iterator[graft.sources.FetchRequest]) =
        rs.map(_ => """{"ret_code":"0000","data":[]}""") ++
          Iterator("""{"ret_code":"0000","data":[]}""")
    }
    for (bad <- Seq(short, surplus)) {
      val e = intercept[org.apache.spark.SparkException] {
        IngestFetch.fetchEnvelopesWithCoords(
          worklist(3, "2024-03-01", "2024-03-01", 1), bad).count()
      }
      assert(e.getMessage.contains("one-envelope-per-request") ||
        Option(e.getCause).exists(_.getMessage.contains("one-envelope-per-request")),
        s"expected the strict-zip contract error, got: ${e.getMessage}")
    }
    // and a CONFORMING drain-first transport (the documented buffering
    // shape) still zips coordinate-correct
    val drainFirst = new graft.sources.EnvelopeTransport {
      override def fetchPartition(rs: Iterator[graft.sources.FetchRequest]) =
        rs.toVector.iterator.map(r => s"""{"ret_code":"0000","data":[],"s":${r.storeId}}""")
    }
    val got = IngestFetch.fetchEnvelopesWithCoords(
      worklist(3, "2024-03-01", "2024-03-01", 1), drainFirst)
      .as[(Long, java.sql.Date, String)].collect().toSet
    assert(got.map(_._1) === Set(0L, 1L, 2L))
    assert(got.forall { case (s, _, p) => p.contains(s""""s":$s""") },
      s"coordinates must pair with their own envelopes: $got")
  }

  test("persistent post-connect fault trips the circuit breaker instead of quarantining everything") {
    // an endpoint that accepts connections but tears EVERY exchange
    // (TLS misconfig, broken proxy): per-unit quarantine would let the
    // nightly 'succeed' having landed zero rows — after
    // MaxConsecutiveUnitFaults unbroken failures the task must fail
    val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/pos", (exchange: HttpExchange) => {
      exchange.getRequestBody.readAllBytes()
      exchange.close() // torn: no response bytes, every time
    })
    server.setExecutor(Executors.newFixedThreadPool(2))
    server.start()
    try {
      val endpoint = s"http://127.0.0.1:${server.getAddress.getPort}/pos"
      val n = graft.sources.HttpTransport.MaxConsecutiveUnitFaults + 8
      val ex = intercept[Exception] {
        IngestFetch.fetchEnvelopesWithCoords(
          worklist(n, "2024-03-01", "2024-03-01", 1),
          new HttpTransport(endpoint, readTimeoutMs = 5000))
          .select("payload").as[String].collect()
      }
      assert(ex != null)
    } finally server.stop(0)
  }

  test("connection failure fails the task (Spark retry IS the ingest retry policy)") {
    // port 1 on loopback: nothing listens; connect must raise and the
    // partition task must fail rather than emit partial results
    val ex = intercept[Exception] {
      IngestFetch.fetchEnvelopesWithCoords(
        worklist(2, "2024-03-01", "2024-03-01", 1),
        new HttpTransport("http://127.0.0.1:1/pos", connectTimeoutMs = 500))
        .select("payload").as[String].collect()
    }
    assert(ex != null)
  }

  test("full reference ingest chain over the wire: worklist → POST → decodeEnvelope gate") {
    val hits = new AtomicInteger(0)
    withPosServer(hits) { endpoint =>
      val raw = IngestFetch.fetchEnvelopesWithCoords(
        worklist(120, "2024-03-01", "2024-03-02", 5), new HttpTransport(endpoint))
      val schema = new StructType()
        .add("ret_code", StringType)
        .add("data", ArrayType(new StructType()
          .add("id", LongType).add("k", LongType)))
      val decoded = RelationalOps.decodeEnvelope(raw, "payload", schema)
      // stores 0, 50, 100 answer ret_code=9999 → both their days gated out
      assert(decoded.count() === (120L - 3L) * 2L)
      val day = java.time.LocalDate.parse("2024-03-01").toEpochDay
      assert(decoded.filter(col("id") === 7L * 100000L + day)
        .as[(Long, Long)].collect().toSeq === Seq((7L * 100000L + day, day % 7)))
    }
  }
}
