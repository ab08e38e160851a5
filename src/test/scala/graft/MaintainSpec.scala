package graft

import graft.queries.MaintainQueries
import org.apache.spark.sql.execution.ExplainMode
import org.apache.spark.sql.functions._

/** The plan lessons q111–q113 exist to pin (round-7 tier rule: each
  * new query names a plan property no existing query covers).
  */
class MaintainSpec extends SparkSpec {
  private val sf = "/root/testdata/sf0.001"

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, sf)
      .queryExecution.explainString(ExplainMode.fromString("formatted"))

  test("q111 tombstone merge: one anti-join pass — no full-outer, no window, no min_by") {
    val df = SparkEntry.queries("q111_merge_delete")(spark, sf)
    val p = df.queryExecution.explainString(ExplainMode.fromString("formatted"))
    assert(p.contains("LeftAnti"), "delete+update removal must be a left-anti join")
    assert(!p.contains("FullOuter"), "tombstone merge must not full-outer join")
    assert(!p.contains("Window"), "no window state in a tombstone merge")
    assert(!p.contains("min_by"), "no latest-wins pass needed — delta keys are unique")
    val joinOps = "\\(\\d+\\) [A-Za-z]*Join".r.findAllIn(p).size
    assert(joinOps === 1, s"exactly one join pass for the whole merge, found $joinOps")
  }

  test("q112 trailing distinct: sketches merge in the window — events feed one sketch agg, no cartesian") {
    val p = plan("q112_trailing_distinct")
    assert(p.contains("hll_sketch_agg"), "daily partials must be HLL sketches")
    assert(p.contains("hll_union_agg"), "the trailing frame must merge sketches, not rescan rows")
    assert(!p.contains("CartesianProduct"),
      "the certificate's bounded range join must not plan as a cartesian product")
    // the approx path scans events once, into the day-level sketch agg
    assert(p.linesIterator.count(_.contains("hll_sketch_agg")) >= 1)
  }

  test("q113: AQE observes the hot key and splits it — skew=true in the executed join") {
    Session.scoped(spark, MaintainQueries.skewConf: _*) { c =>
      // sf0.01: enough shuffle bytes for the fixture-scaled skew
      // thresholds to see the hot partition
      val df = MaintainQueries.skewJoinFrame(c, "/root/testdata/sf0.01")
      df.collect() // AQE decides from runtime map-output sizes — must execute
      val executed = df.queryExecution.executedPlan.toString
      assert(executed.contains("skew=true"),
        s"AQE did not split the skewed partition; executed plan:\n$executed")
    }
  }

  test("AQE's other runtime re-plan: a statically-SMJ join converts to broadcast when runtime sizes allow") {
    // the dual of q113's skew split: static stats say shuffle (we force
    // them to, via a tiny threshold), runtime map-output sizes say the
    // filtered dim is broadcast-small, and AQE rewrites the join mid-
    // query. On a 100-TB cluster this is what saves the shuffle when a
    // selective filter guts a dimension the optimizer couldn't predict.
    Session.scoped(spark,
        "spark.sql.autoBroadcastJoinThreshold" -> "1b", // static: never broadcast
        "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "4MB") { c => // runtime: allow
      val dim = Tables.nation(c, sf).filter(col("n_regionkey") === 0)
      val fact = Tables.customer(c, sf)
        .join(dim, col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name")).agg(count(lit(1)).as("n"))
      fact.collect()
      val executed = fact.queryExecution.executedPlan.toString
      assert(executed.contains("BroadcastHashJoin"),
        s"AQE did not convert the shuffle join to broadcast at runtime:\n$executed")
    }
  }

  test("q113 result values are skew-handling-invariant (same answer with and without AQE skew configs)") {
    val base = MaintainQueries.skewJoinFrame(spark, sf).collect().toSet
    val skewed = Session.scoped(spark, MaintainQueries.skewConf: _*) { c =>
      MaintainQueries.skewJoinFrame(c, sf).collect().toSet
    }
    assert(base === skewed, "runtime re-planning must never change results")
  }
}
