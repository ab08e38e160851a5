package graft

import org.json4s._
import org.json4s.jackson.JsonMethods

/** Pins the one bench line format (BenchLine.scala): the full line's
  * exact key set and aggregates, the compact line's bounded shape and
  * the `sf` escaping. Pure functions — no SparkSession. (The
  * SPARK_GRAFT_BENCH_ONLY selection rule is SparkEntry.select, pinned
  * in EntrySpec next to the registry.)
  */
class BenchLineSpec extends org.scalatest.funsuite.AnyFunSuite {

  private val results = Seq(
    BenchLine.Result("q01", Seq(1.0, 3.0, 2.0), 0),
    BenchLine.Result("q02", Seq(0.5, 0.25, 4.0), 0))

  private def render(rs: Seq[BenchLine.Result], sf: String = "/root/testdata/sf0.1",
                     subset: Boolean = false, compact: Boolean = false): String =
    BenchLine.render(rs, "3fccd702", 3, 1786000000L, sf, subset, compact)

  private def fields(line: String): Map[String, JValue] =
    JsonMethods.parse(line).asInstanceOf[JObject].obj.toMap

  private val keep = Set("metric", "value", "unit", "total_min", "queries",
    "spread", "fixtures", "reps", "ts", "sf")

  test("full line: key set is exactly the keep-list; failed/only only when set") {
    assert(fields(render(results)).keySet === keep)
    val failed = results :+ BenchLine.Result("q92", Seq(0.1, 0.1, 0.1), 3)
    val f = fields(render(failed, subset = true))
    assert(f.keySet === keep + "failed" + "only")
    assert(f("failed") === JObject("q92" -> JInt(3)))
    assert(f("only") === JString("q01,q02,q92"))
  }

  test("full line: value is the median-sum, total_min the min-sum, spread min/med/max") {
    val f = fields(render(results))
    assert(f("value") === JDouble(2.0 + 0.5))
    assert(f("total_min") === JDouble(1.0 + 0.25))
    assert(f("queries") === JObject("q01" -> JDouble(2.0), "q02" -> JDouble(0.5)))
    assert(f("spread") \ "q02" ===
      JObject("min" -> JDouble(0.25), "med" -> JDouble(0.5), "max" -> JDouble(4.0)))
    assert(f("metric") === JString("total") && f("unit") === JString("sec"))
    assert(f("reps") === JInt(3) && f("ts") === JInt(1786000000L))
  }

  test("compact line: no per-query map, bounded length, carries failed and only") {
    // 113 queries, the full registry's size: the full line runs to
    // thousands of chars, the compact one must fit the driver's tail
    val many = (1 to 113).map(i => BenchLine.Result(f"q$i%03d_some_long_query_name",
      Seq(1.0, 2.0, 3.0), if (i == 92) 3 else 0))
    val ln = render(many, compact = true)
    val f = fields(ln)
    assert(!f.contains("queries") && !f.contains("spread"))
    assert(ln.length < 600, s"compact line must fit any stdout tail: ${ln.length}")
    assert(f("n_queries") === JInt(113) && f("compact") === JBool(true))
    assert(f("failed") === JObject("q092_some_long_query_name" -> JInt(3)))
    // a subset line is marked, but never lists its names: a 113-name
    // subset stays as short as a full pass
    assert(fields(render(results, subset = true, compact = true))("only") ===
      JBool(true))
    val subsetLn = render(many.map(_.copy(failed = 0)), subset = true, compact = true)
    assert(subsetLn.length < 600, s"a subset compact line must stay bounded: ${subsetLn.length}")
    // it reports the same totals as the full line it summarizes
    val full = fields(render(many))
    assert(f("value") === full("value") && f("total_min") === full("total_min"))
    assert(fields(render(results, compact = true)).keySet ===
      keep - "queries" - "spread" + "n_queries" + "compact")
  }

  test("an sf path with quote, backslash and control chars renders JSON that parses") {
    val sf = "/data/\"odd\"\\dir\tx"
    for (compact <- Seq(false, true))
      assert(fields(render(results, sf = sf, compact = compact))("sf") === JString(sf))
  }
}
