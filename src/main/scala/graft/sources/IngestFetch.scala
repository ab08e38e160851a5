package graft.sources

import java.time.LocalDate

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

/** One ingest work unit: the (store, date) coordinates the reference
  * substitutes into its POS-API request body (load_sales_data.py:84-93
  * builds `{s_code, sp_code, sale_date}` per unit before
  * `requests.post`, :93). Exactly one fetch per work unit.
  */
final case class FetchRequest(storeId: Long, date: LocalDate)

/** The ingest transport seam — the one reference boundary a sandbox
  * cannot exercise for real (`requests.post(url, json=...)`,
  * load_sales_data.py:93, load_store_data.py:58-66; zero egress here).
  * The engine therefore pins the SHAPE of the boundary and leaves the
  * wire call pluggable:
  *
  *   - PARTITION lifecycle, not row lifecycle: `fetchPartition`
  *     receives the whole partition's work units, so an implementation
  *     opens one HTTP client/connection pool per partition (the
  *     executor-side analog of the reference's per-run session),
  *     issues one call per unit, and releases the client when the
  *     iterator is exhausted — the same discipline as
  *     [[graft.ops.MultimodalOps]]' per-partition codec.
  *   - Returns RAW envelope strings (one per request, the API's
  *     `{"ret_code":…,"data":[…]}` response body). Parsing/gating is
  *     NOT the transport's job — the typed boundary stays in
  *     [[graft.ops.RelationalOps.decodeEnvelope]], so a transport swap
  *     can never change decode semantics.
  *   - Must be Serializable: the transport ships to executors inside
  *     the mapPartitions closure. Keep implementations stateless at
  *     construction (open clients lazily inside fetchPartition).
  */
trait EnvelopeTransport extends Serializable {
  def fetchPartition(requests: Iterator[FetchRequest]): Iterator[String]
}

/** The real wire transport: one HTTP client per PARTITION (pooled
  * connections — the executor-side analog of the reference's per-run
  * `requests` session), one POST per work unit with the reference's
  * request-body shape (`{s_code, sale_date}`, load_sales_data.py:84-93),
  * response body returned raw for [[graft.ops.RelationalOps.decodeEnvelope]].
  *
  * Holds only the endpoint string — Serializable by construction, the
  * client opens lazily inside `fetchPartition` (the seam's contract).
  *
  * Failure split (matches the reference's catch-log-continue per
  * store×day, kicc_to_tb_sales.py:97-98): a PER-UNIT wire failure —
  * read timeout, connection reset mid-exchange, torn response — yields
  * a synthetic error envelope (`ret_code` [[HttpTransport.UnitErrorCode]]
  * carrying the unit's coordinates), which the decode layer's ret_code
  * gate quarantines like any API error; the partition's remaining
  * units still fetch. TRANSPORT-LEVEL faults — the endpoint
  * unreachable (connection refused / connect timeout), a TLS
  * handshake failure (a config fault every unit hits identically) —
  * propagate and fail the task, making Spark's task retry the retry
  * policy. Persistent faults that hide behind generic IOExceptions
  * are caught by a circuit breaker: [[HttpTransport.MaxConsecutiveUnitFaults]]
  * consecutive per-unit failures with zero successes in between
  * rethrows the last fault — without it a post-connect endpoint fault
  * would quarantine EVERY unit and the nightly would "succeed" having
  * landed nothing. A partial
  * partition is never observed either way: the task commits all units
  * (some as quarantine envelopes) or none. Non-2xx responses still
  * carry the API's error envelope body, which the decode gate (not the
  * transport) adjudicates — same split as the reference (:97-99).
  *
  * IngestSpec drives this against a 127.0.0.1 loopback server inside
  * the JVM — the full worklist → HTTP POST → envelope → decode chain,
  * no external network.
  */
final class HttpTransport(endpoint: String,
                          connectTimeoutMs: Int = 5000,
                          readTimeoutMs: Int = 30000) extends EnvelopeTransport {
  override def fetchPartition(requests: Iterator[FetchRequest]): Iterator[String] = {
    if (requests.isEmpty) Iterator.empty
    else {
      // one shared client per (executor JVM, connect timeout) — a
      // per-partition client leaks its selector thread and keep-alive
      // sockets until GC on long-lived executors (HttpClient has no
      // close() before Java 21)
      val client = HttpTransport.clientFor(connectTimeoutMs)
      val uri = java.net.URI.create(endpoint)
      var consecutiveFaults = 0
      requests.map { r =>
        val body = s"""{"s_code":${r.storeId},"sale_date":"${r.date}"}"""
        val req = java.net.http.HttpRequest.newBuilder(uri)
          .timeout(java.time.Duration.ofMillis(readTimeoutMs.toLong))
          .header("Content-Type", "application/json")
          .POST(java.net.http.HttpRequest.BodyPublishers.ofString(body))
          .build()
        try {
          val out = client.send(req,
            java.net.http.HttpResponse.BodyHandlers.ofString()).body()
          consecutiveFaults = 0
          out
        } catch {
          // endpoint unreachable: every later unit fails the same way —
          // fail the task and let Spark's retry re-drive the partition
          case e: java.net.ConnectException => throw e
          case e: java.net.http.HttpConnectTimeoutException => throw e
          // TLS misconfiguration is a config fault, not a wire blip
          case e: javax.net.ssl.SSLException => throw e
          // per-unit wire fault: isolate it as a quarantine envelope and
          // keep fetching — unless faults are CONSECUTIVE and unbroken,
          // which is a persistent endpoint fault wearing an IOException
          case e: java.io.IOException =>
            consecutiveFaults += 1
            if (consecutiveFaults >= HttpTransport.MaxConsecutiveUnitFaults)
              throw e
            HttpTransport.unitErrorEnvelope(r, e)
        }
      }
    }
  }
}

object HttpTransport {
  /** ret_code of a synthetic per-unit transport-failure envelope —
    * non-"0000", so [[graft.ops.RelationalOps.decodeEnvelope]]'s gate
    * quarantines it exactly like an API error envelope.
    */
  val UnitErrorCode = "9996"

  /** Circuit breaker: this many consecutive per-unit IOExceptions
    * with no success in between rethrows instead of quarantining —
    * a genuinely flaky wire produces interleaved successes; a
    * persistent post-connect fault produces an unbroken run. */
  val MaxConsecutiveUnitFaults = 16

  // one client per (JVM, connect timeout): clients are thread-safe
  // and pooling them avoids a selector-thread + socket leak per task
  private val clients =
    new java.util.concurrent.ConcurrentHashMap[Int, java.net.http.HttpClient]()
  private[sources] def clientFor(connectTimeoutMs: Int): java.net.http.HttpClient =
    clients.computeIfAbsent(connectTimeoutMs, t =>
      java.net.http.HttpClient.newBuilder()
        .connectTimeout(java.time.Duration.ofMillis(t.toLong))
        .build())

  private[sources] def unitErrorEnvelope(r: FetchRequest, e: Exception): String = {
    // the message rides inside a JSON string: strip quotes/backslashes/
    // control chars rather than carry a full escaper for a diagnostic
    val msg = (e.getClass.getSimpleName +
      Option(e.getMessage).map(": " + _).getOrElse(""))
      .replaceAll("""["\\\p{Cntrl}]""", " ")
    s"""{"ret_code":"$UnitErrorCode","data":[],""" +
      s""""s_code":${r.storeId},"sale_date":"${r.date}","err":"$msg"}"""
  }
}

object IngestFetch {
  /** Drive the transport over a worklist (store_id LONG, d DATE — the
    * [[WorklistSource]] schema), fetched partition-parallel on the
    * executors: one row per work unit — (store_id, d, payload), where
    * `payload` is the raw envelope string shaped for
    * `RelationalOps.decodeEnvelope`. The request coordinates survive
    * next to the response because the reference stamps every decoded
    * record with the LOOP date, not the API's echo
    * (load_sales_data.py:106 overrides the record's sale_date with the
    * iteration date); this is the fetch the nightly composition
    * ([[graft.pipeline.NightlyRun]]) uses. The zip is lazy: a
    * transport that yields one envelope per request as it goes keeps
    * the duplicate-iterator gap at O(1); a transport that drains its
    * request iterator before answering buffers one partition's
    * coordinates (two longs per unit) — still executor-bounded.
    */
  def fetchEnvelopesWithCoords(worklist: DataFrame,
                               transport: EnvelopeTransport): DataFrame = {
    val spark = worklist.sparkSession
    import spark.implicits._
    worklist.select(col("store_id"), col("d"))
      .as[(Long, java.sql.Date)]
      .mapPartitions { it =>
        val (forReq, forZip) = it.duplicate
        val envelopes = transport.fetchPartition(
          forReq.map { case (s, dt) => FetchRequest(s, dt.toLocalDate) })
        // STRICT zip (r17 review pass 11): the transport contract is
        // one envelope per request, but a plain zip would SILENTLY
        // truncate on a misbehaving transport — fewer envelopes drops
        // the tail's work units (a "successful" nightly that never
        // fetched them), extra envelopes are fetched results attributed
        // to no unit. Both are loud task failures instead.
        new Iterator[(Long, java.sql.Date, String)] {
          override def hasNext: Boolean = {
            val c = forZip.hasNext
            val e = envelopes.hasNext
            if (c != e) throw new IllegalStateException(
              "EnvelopeTransport broke the one-envelope-per-request " +
                s"contract: ${if (c) "requests left with no envelope"
                else "envelopes left with no request"} in this partition")
            c
          }
          override def next(): (Long, java.sql.Date, String) = {
            if (!hasNext) throw new NoSuchElementException("next on empty")
            val (s, dt) = forZip.next()
            (s, dt, envelopes.next())
          }
        }
      }
      .toDF("store_id", "d", "payload")
  }
}
