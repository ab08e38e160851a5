package perfbench

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets
import java.time.LocalDate
import java.time.temporal.ChronoUnit
import java.util.concurrent.{ConcurrentHashMap, Executors, ExecutorService}
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import com.sun.net.httpserver.{HttpExchange, HttpServer}

/** The POS API's answers as a pure function of (seed, store, date,
  * night). Night n re-extracts the trailing window [d(n-1), d(n)],
  * d(i) = d0 + i days, and the API revises figures once: a date's
  * measure is `base + 100 * (night - i)`. About 2% of stores answer
  * every request with an error envelope. `check.py` carries the same
  * model in Python and derives the mart a run must end with.
  */
object PosModel {
  val d0: LocalDate = LocalDate.parse("2024-07-01")
  val regions: Array[String] = Array("north", "south", "east")

  private def splitmix(z0: Long): Long = {
    var z = z0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }
  def mix(xs: Long*): Long = xs.foldLeft(0L)((h, x) => splitmix(h ^ x))

  def isError(seed: Long, store: Long): Boolean =
    Math.floorMod(mix(seed, store, 1L), 50L) == 0L
  def base(seed: Long, store: Long, epochDay: Long): Long =
    Math.floorMod(mix(seed, store, epochDay, 2L), 1000L)
  def date(i: Int): LocalDate = d0.plusDays(i.toLong)
  def k(seed: Long, store: Long, d: LocalDate, night: Int): Long =
    base(seed, store, d.toEpochDay) + 100L * (night - ChronoUnit.DAYS.between(d0, d))
  def id(store: Long, d: LocalDate): Long = store * 100000L + d.toEpochDay

  /** The store dimension: a quarter of the stores have no row, the
    * rest carry one of three region names. */
  def region(seed: Long, store: Long): Option[String] = {
    val r = Math.floorMod(mix(seed, store, 3L), 4L).toInt
    if (r == 0) None else Some(regions(r - 1))
  }

  def envelope(seed: Long, store: Long, d: LocalDate, night: Int): String = {
    val code = if (isError(seed, store)) "9999" else "0000"
    s"""{"ret_code":"$code","data":[{"id":${id(store, d)},"k":${k(seed, store, d, night)}}]}"""
  }
}

/** Loopback POS API: answers the `HttpTransport` POSTs
  * (`{"s_code":N,"sale_date":"YYYY-MM-DD"}`) from [[PosModel]] for the
  * current night, and counts what it sees. */
final class PosServer(seed: Long, threads: Int) {
  // headers and body leave as separate writes: without TCP_NODELAY every
  // response waits out the client's delayed ACK (~40 ms)
  System.setProperty("sun.net.httpserver.nodelay", "true")
  @volatile var night: Int = 0
  val requests = new AtomicLong
  val errors = new AtomicLong
  val busyNs = new AtomicLong
  val inflightMax = new AtomicInteger
  private val inflight = new AtomicInteger
  private val firstNs = new AtomicLong(Long.MaxValue)
  private val lastNs = new AtomicLong(0L)
  private val peers = ConcurrentHashMap.newKeySet[String]()
  private val pool: ExecutorService = Executors.newFixedThreadPool(threads)
  private val server = HttpServer.create(
    new InetSocketAddress(java.net.InetAddress.getLoopbackAddress, 0), 256)
  private val Body = """"s_code":(\d+),"sale_date":"([0-9-]+)"""".r.unanchored

  server.createContext("/", (ex: HttpExchange) => handle(ex))
  server.setExecutor(pool)
  server.start()

  def endpoint: String = s"http://127.0.0.1:${server.getAddress.getPort}/pos"

  private def handle(ex: HttpExchange): Unit = {
    val t0 = System.nanoTime()
    firstNs.accumulateAndGet(t0, math.min)
    val now = inflight.incrementAndGet()
    inflightMax.accumulateAndGet(now, math.max)
    peers.add(ex.getRemoteAddress.toString)
    try {
      val body = new String(ex.getRequestBody.readAllBytes(), StandardCharsets.UTF_8)
      val (code, out) = body match {
        case Body(store, date) =>
          val s = store.toLong
          if (PosModel.isError(seed, s)) errors.incrementAndGet()
          (200, PosModel.envelope(seed, s, LocalDate.parse(date), night))
        case _ => (400, """{"ret_code":"9000","data":[]}""")
      }
      val bytes = out.getBytes(StandardCharsets.UTF_8)
      ex.getResponseHeaders.add("Content-Type", "application/json")
      ex.sendResponseHeaders(code, bytes.length.toLong)
      ex.getResponseBody.write(bytes)
    } finally {
      ex.close()
      requests.incrementAndGet()
      inflight.decrementAndGet()
      val t1 = System.nanoTime()
      busyNs.addAndGet(t1 - t0)
      lastNs.accumulateAndGet(t1, math.max)
    }
  }

  /** Counters since the previous call, then reset the window ones. */
  def window(): Map[String, Double] = {
    val f = firstNs.getAndSet(Long.MaxValue)
    val l = lastNs.getAndSet(0L)
    val m = Map(
      "requests" -> requests.getAndSet(0L).toDouble,
      "error_envelopes" -> errors.getAndSet(0L).toDouble,
      "server_busy_s" -> busyNs.getAndSet(0L) / 1e9,
      "phase_s" -> (if (l > f) (l - f) / 1e9 else 0.0),
      "inflight_max" -> inflightMax.getAndSet(0).toDouble,
      "connections" -> peers.size.toDouble)
    peers.clear()
    m
  }

  def stop(): Unit = {
    server.stop(0)
    pool.shutdownNow()
    pool.awaitTermination(10, java.util.concurrent.TimeUnit.SECONDS): Unit
  }
}
