package graft

import java.util.concurrent.Executors

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._
import scala.util.Try

import org.apache.spark.sql.{Row, SparkSession}

/** Every graded query shares one session with the others (Bench,
  * Verify, a long-lived service), so nothing one query does may be
  * visible to another: no conf it changed, no view it registered, and
  * no result that depends on what else runs beside it. This spec runs
  * the whole registry at sf0.001 once one query at a time, checking
  * the session after each, and once spread over 8 threads, checking
  * every result against the first run.
  */
class ConcurrencySpec extends SparkSpec {
  import ConcurrencySpec._

  private val sf = "/root/testdata/sf0.001"
  private lazy val names = SparkEntry.registry.map(_.name).sorted
  // without an oracle a query is graded by row count alone (q30's
  // simhash picks among equal-distance candidates)
  private lazy val rowsOnly =
    SparkEntry.registry.filter(_.oracle.isEmpty).map(_.name).toSet

  private def run(name: String): Seq[Any] =
    sortedRows(SparkEntry.queries(name)(spark, sf).collect())

  /** One query at a time: each query's rows, and what it left changed
    * on the session. */
  private lazy val sequential: Seq[(String, Seq[Any], Seq[String])] =
    names.map { n =>
      val before = state(spark)
      val rows = run(n)
      (n, rows, diff(before, state(spark)))
    }

  test("one query at a time: each leaves the session's conf and temp views as it found them") {
    val leaks = sequential.collect { case (n, _, d) if d.nonEmpty => s"$n: ${d.mkString(", ")}" }
    assert(leaks.isEmpty, s"queries leaked session state:\n${leaks.mkString("\n")}")
  }

  test("8 threads on one session: every result matches the one-at-a-time run, and the session is unchanged") {
    val expected = sequential.map { case (n, rows, _) => n -> rows }.toMap
    val before = state(spark)
    val pool = Executors.newFixedThreadPool(8)
    val got = try {
      implicit val ec: ExecutionContext = ExecutionContext.fromExecutorService(pool)
      Await.result(Future.traverse(names)(n => Future(n -> Try(run(n)))), 20.minutes)
    } finally pool.shutdown()
    val bad = got.flatMap {
      case (n, scala.util.Failure(e)) => Some(s"$n threw $e")
      case (n, scala.util.Success(rows)) =>
        val want = expected(n)
        val same = if (rowsOnly(n)) rows.size == want.size else close(rows, want)
        if (same) None
        else Some(s"$n: ${rows.size} rows, one at a time ${want.size}; " +
          s"first difference: ${rows.zipAll(want, "-", "-").find { case (a, b) => !close(a, b) }}")
    }
    assert(bad.isEmpty, s"results differ under concurrency:\n${bad.mkString("\n")}")
    val left = diff(before, state(spark))
    assert(left.isEmpty, s"the concurrent run left session state: ${left.mkString(", ")}")
  }
}

object ConcurrencySpec {
  /** The session's explicit conf and every temp view it can see (its
    * own and the context's global ones). */
  def state(s: SparkSession): (Map[String, String], Set[String]) = {
    val db = s.conf.get("spark.sql.globalTempDatabase")
    (s.conf.getAll, s.catalog.listTables(db).collect()
      .filter(_.isTemporary).map(t => (Option(t.database).toSeq :+ t.name).mkString(".")).toSet)
  }

  def diff(a: (Map[String, String], Set[String]),
           b: (Map[String, String], Set[String])): Seq[String] = {
    val keys = (a._1.keySet ++ b._1.keySet).toSeq.sorted
    keys.filter(k => a._1.get(k) != b._1.get(k)).map(k =>
      s"conf $k: ${a._1.getOrElse(k, "<unset>")} -> ${b._1.getOrElse(k, "<unset>")}") ++
      (b._2 -- a._2).toSeq.sorted.map(v => s"view $v left behind") ++
      (a._2 -- b._2).toSeq.sorted.map(v => s"view $v dropped")
  }

  /** Rows as nested values with doubles kept numeric and everything
    * else rendered, in a fixed order: an order-insensitive fingerprint
    * that [[close]] can still compare with a tolerance. */
  def sortedRows(rows: Array[Row]): Seq[Any] =
    rows.toSeq.map(canon).sortBy(_.toString)

  private def canon(v: Any): Any = v match {
    case null => null
    case f: Float => f.toDouble
    case d: Double => d
    case b: Array[Byte] => b.map("%02x".format(_)).mkString
    case r: Row => r.toSeq.map(canon)
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => Seq(canon(k), canon(x)) }.sortBy(_.toString)
    case s: scala.collection.Seq[_] => s.map(canon).toSeq
    case x => x.toString
  }

  /** Equal, except that doubles may differ in their last bits: the
    * summation order of a double aggregate follows task completion. */
  def close(a: Any, b: Any): Boolean = (a, b) match {
    case (x: Double, y: Double) =>
      x == y || (x.isNaN && y.isNaN) ||
        math.abs(x - y) <= 1e-9 * math.max(math.abs(x), math.abs(y))
    case (x: Seq[_], y: Seq[_]) =>
      x.size == y.size && x.zip(y).forall { case (p, q) => close(p, q) }
    case _ => a == b
  }
}
