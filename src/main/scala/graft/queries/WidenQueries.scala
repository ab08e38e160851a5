package graft.queries

import graft.{Graded, Tables}
import graft.ops.TemporalOps
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** q57–q62 + q77: round-6 widening — the two temporal join shapes
  * every event pipeline needs and Spark lacks as built-ins (as-of
  * join, interval/range join — the latter in BOTH its broadcast and
  * big–big banded physical flavors, graded against one shared
  * oracle), explicit relational set operations, the ORC leg of the
  * storage-format matrix beside q43's CSV, the approximate-percentile
  * sketch with a tolerance certificate, and long-to-wide pivot.
  */
object WidenQueries {
  /** The 28 overlapping 180-day periods q58 AND q77 join against —
    * one definition: the pair certifies two physical strategies
    * interchangeable, which is only meaningful if they provably share
    * the same inputs and oracle. */
  private def rangePeriods(s: SparkSession): DataFrame =
    s.range(0, 28).toDF("period_id")
      .withColumn("p_start",
        date_add(to_date(lit("1995-01-01")), (col("period_id") * 90).cast("int")))
      .withColumn("p_end",
        date_add(to_date(lit("1995-01-01")), (col("period_id") * 90 + 180).cast("int")))

  /** q58/q77's shared oracle (same reasoning). */
  private val rangeOracle: String =
    """WITH periods AS (
      |  SELECT CAST(i AS BIGINT) AS period_id,
      |         DATE '1995-01-01' + CAST(i*90 AS INT) AS p_start,
      |         DATE '1995-01-01' + CAST(i*90 + 180 AS INT) AS p_end
      |  FROM range(0, 28) t(i))
      |SELECT period_id, count(*) AS n,
      |  CAST(sum(TRY_CAST(nullif(l_extendedprice * (1 - l_discount), 'nan'::DOUBLE) AS DECIMAL(18,4))) AS DOUBLE) AS revenue
      |FROM periods p JOIN lineitem l
      |  ON l.l_shipdate >= p.p_start AND l.l_shipdate < p.p_end
      |GROUP BY 1""".stripMargin

  val graded: Seq[Graded] = Seq(
    // As-of join — attribution: for each purchase, the most recent
    // prior click by the same user (inclusive at equal timestamps),
    // null when the purchase precedes every click. Executed as the
    // union+window linearization (TemporalOps.asofJoin): ONE shuffle
    // on user_id, in-partition sort, last(ignoreNulls) carry-forward
    // — never an inequality join, which Spark could only run as a
    // broadcast nested loop. The oracle is DuckDB's native ASOF LEFT
    // JOIN — an independent formulation, so the hash certifies the
    // semantics, not a shared implementation.
    Graded("q57_asof_join", (s, d) => {
      val e = Tables.events(s, d)
      val purchases = e.filter(col("event_type") === "purchase")
        .select(col("event_id").as("purchase_id"), col("user_id"), col("ts"))
      val clicks = e.filter(col("event_type") === "click")
        .select(col("user_id"), col("ts"), col("event_id").as("click_id"))
      TemporalOps.asofJoin(purchases, clicks, Seq("user_id"), "ts", "ts",
          payloadCols = Seq("click_id"), tieBreak = Seq("click_id"))
        .select(col("purchase_id"), col("user_id"), col("click_id"))
    },
      // NOT DuckDB's ASOF JOIN: on tied click timestamps ASOF returns
      // whichever row it encounters first (verified: flips with physical
      // row order), while the engine's asofJoin pins ties with the
      // click_id tie-break. The windowed latest-prior below expresses
      // the SAME tie-break, so a fixture regeneration that lands two
      // clicks on one (user_id, ts) cannot make the gate flap.
      Some("""WITH j AS (
        |  SELECT p.event_id AS purchase_id, p.user_id, c.event_id AS click_id,
        |    row_number() OVER (PARTITION BY p.event_id
        |      ORDER BY c.ts DESC, c.event_id DESC) AS rn,
        |    count(c.event_id) OVER (PARTITION BY p.event_id) AS nm
        |  FROM (SELECT * FROM events WHERE event_type = 'purchase') p
        |  LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
        |    ON p.user_id = c.user_id AND c.ts <= p.ts)
        |SELECT purchase_id, user_id,
        |  CASE WHEN nm > 0 THEN click_id END AS click_id
        |FROM j WHERE rn = 1""".stripMargin)),

    // Interval/range join — revenue per OVERLAPPING reporting period
    // (180-day windows sliding every 90 days): not expressible as a
    // group-by because a shipment belongs to up to two periods.
    // The period dim is tiny → broadcast flavor (zero shuffle before
    // the aggregation; per-row constant-time probe of the broadcast
    // interval list). The big–big banded flavor of the same operator
    // is equivalence-tested in TemporalOpsSpec.
    Graded("q58_range_join", (s, d) => {
      val periods = rangePeriods(s)
      // rebalanceScan (r21): the broadcast nested-loop interval probe
      // (28 comparisons per fact row) otherwise runs inside the
      // unsplittable single-row-group scan task (RelationalOps doc;
      // measured: 0.94s → 0.68s min in OPTIMIZATION_r21.md; no-op at
      // production scale where the scan has many splits)
      TemporalOps.rangeJoinBroadcast(
          graft.ops.RelationalOps.rebalanceScan(Tables.lineitem(s, d),
            col("l_orderkey"))
            .select(col("l_shipdate"),
              (col("l_extendedprice") * (lit(1) - col("l_discount"))).as("_rev")),
          periods, "l_shipdate", "p_start", "p_end")
        .groupBy(col("period_id"))
        .agg(count(lit(1)).as("n"),
          sum(col("_rev").cast("decimal(18,4)")).cast("double").as("revenue"))
    },
      Some(rangeOracle)),

    // Set operations (§2e) — INTERSECT / EXCEPT as first-class ops:
    // customer-retention buckets between two years. Spark plans each
    // as a left-semi / left-anti aggregate — never a materialized
    // distinct-then-join. Each year slice (pushed-down date BETWEEN
    // scan, S3) is Materialize.once'd (eager reliable checkpoint):
    // the three set ops consume each side twice, and
    // without the materialization the union re-runs the base scan six
    // times (static exchange reuse does not fire across the
    // differently-shaped semi/anti arms) — at 100 TB the rescans, not
    // the set ops, would be the cost.
    Graded("q59_set_ops", (s, d) => {
      def custsIn(year: Int): DataFrame =
        graft.ops.Materialize.once(s"q59.$year",
          Tables.orders(s, d)
            .filter(col("o_orderdate") >= to_timestamp(lit(f"$year%d-01-01 00:00:00")) &&
              col("o_orderdate") < to_timestamp(lit(f"${year + 1}%d-01-01 00:00:00")))
            .select(col("o_custkey")).distinct())
      val a = custsIn(1995)
      val b = custsIn(1996)
      a.intersect(b).withColumn("tag", lit("both"))
        .unionByName(a.except(b).withColumn("tag", lit("only_1995")))
        .unionByName(b.except(a).withColumn("tag", lit("only_1996")))
    },
      Some("""WITH a AS (SELECT DISTINCT o_custkey FROM orders
        |           WHERE o_orderdate >= TIMESTAMP '1995-01-01 00:00:00'
        |             AND o_orderdate <  TIMESTAMP '1996-01-01 00:00:00'),
        |     b AS (SELECT DISTINCT o_custkey FROM orders
        |           WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        |             AND o_orderdate <  TIMESTAMP '1997-01-01 00:00:00')
        |SELECT o_custkey, 'both' AS tag
        |  FROM (SELECT o_custkey FROM a INTERSECT SELECT o_custkey FROM b)
        |UNION ALL
        |SELECT o_custkey, 'only_1995' AS tag
        |  FROM (SELECT o_custkey FROM a EXCEPT SELECT o_custkey FROM b)
        |UNION ALL
        |SELECT o_custkey, 'only_1996' AS tag
        |  FROM (SELECT o_custkey FROM b EXCEPT SELECT o_custkey FROM a)""".stripMargin)),

    // The SAME range-join semantics through the big–big BANDED flavor
    // (both sides keyed to fixed-width day buckets; facts land in
    // exactly one bucket → no post-join dedup) — graded against the
    // identical oracle as q58, so the two physical strategies are
    // certified interchangeable. This is the plan that survives when
    // the interval side outgrows a broadcast.
    Graded("q77_range_join_banded", (s, d) => {
      val periods = rangePeriods(s)
      // (r21: no rebalanceScan here, unlike q58 — the banded flavor is
      // a broadcast HASH equi-join on the bucket key, one cheap probe
      // per row instead of q58's 28-comparison nested loop; the A/B
      // showed the extra exchange costs more than the serial probe)
      TemporalOps.rangeJoinBanded(
          Tables.lineitem(s, d)
            .select(col("l_shipdate"),
              (col("l_extendedprice") * (lit(1) - col("l_discount"))).as("_rev")),
          periods, "l_shipdate", "p_start", "p_end", bandDays = 90)
        .groupBy(col("period_id"))
        .agg(count(lit(1)).as("n"),
          sum(col("_rev").cast("decimal(18,4)")).cast("double").as("revenue"))
    },
      Some(rangeOracle)),

    // Approximate percentile (GK sketch) with a tolerance certificate
    // — the quantile twin of q28's HLL certificate. Exact percentiles
    // (q42) shuffle every value per group; the sketch is
    // merge-associative and constant-memory, the only viable quantile
    // at 100 TB. The graded surface is the exact value plus a
    // `within_tol` bound on the sketch (≤ max(1, 2% of exact)), so the
    // gate certifies sketch quality without demanding bitwise equality
    // of an approximation.
    Graded("q61_approx_percentile", (s, d) =>
      Tables.lineitem(s, d)
        // finiteOrNull on every estimator (r16 naninf probe): the
        // certificate compares them, so they must agree on the
        // finite-measures-only input contract (q42's rationale)
        .withColumn("_fq",
          graft.ops.RelationalOps.finiteOrNull(col("l_quantity")))
        .groupBy(col("l_returnflag"))
        .agg(
          percentile_approx(col("_fq"), lit(0.5), lit(10000)).as("_approx"),
          percentile(col("_fq"), lit(0.5)).as("_exact"),
          // the certificate's reference is the DISCRETE percentile
          // (r16 liar probe): approx_percentile's guarantee is
          // RANK-based — it returns an actual element within
          // n/accuracy ranks of p·n — so on a 2-element skewed group
          // {-5, 17} it honestly returns an endpoint 11 away from the
          // INTERPOLATED exact (6.0) and the old value-vs-interpolated
          // certificate failed on correct behavior. Against the
          // discrete element the 2% value tolerance states what the
          // sketch actually promises (rank-exact at n ≤ accuracy,
          // nearby-element value error beyond).
          expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY _fq)")
            .as("_disc"))
        .select(col("l_returnflag"),
          round(col("_exact"), 6).as("p50_qty"),
          // a group with no non-null values has NULL exact AND approx
          // percentiles — the certificate is VACUOUSLY true there (an
          // absent quantile can't be mis-approximated), matching the
          // oracle's constant TRUE; without the coalesce the NULL
          // comparison left within_tol NULL (r13 edge sweep)
          coalesce(abs(col("_approx") - col("_disc")) <=
            greatest(lit(1.0), abs(col("_disc")) * 0.02), lit(true))
            .as("within_tol")),
      Some("""SELECT l_returnflag,
        | round(quantile_cont(CASE WHEN isfinite(l_quantity) THEN l_quantity END, 0.5), 6) AS p50_qty,
        | TRUE AS within_tol
        |FROM lineitem GROUP BY 1""".stripMargin)),

    // Pivot — long-to-wide restructuring (per-user event-type counts)
    // as CONDITIONAL AGGREGATION, not DataFrame.pivot: the value list
    // is explicit either way (pivot without one runs a driver-blocking
    // distinct scan to discover columns — the classic accidental
    // driver bottleneck at 100 TB), but .pivot() plans a two-phase
    // double aggregation (groupBy(user,type) exchange + groupBy(user)
    // exchange), while count(when(...)) per value is ONE partial-agg
    // shuffle — same result, half the exchanges (plan-verified).
    Graded("q62_pivot", (s, d) => {
      val counts = Seq("click", "error", "purchase", "signup", "view")
        .map(v => count(when(col("event_type") === v, 1)).as(v))
      Tables.events(s, d).groupBy(col("user_id"))
        .agg(counts.head, counts.tail: _*)
    },
      Some("""SELECT user_id,
        | count(*) FILTER (WHERE event_type = 'click')    AS click,
        | count(*) FILTER (WHERE event_type = 'error')    AS error,
        | count(*) FILTER (WHERE event_type = 'purchase') AS purchase,
        | count(*) FILTER (WHERE event_type = 'signup')   AS signup,
        | count(*) FILTER (WHERE event_type = 'view')     AS view
        |FROM events GROUP BY 1""".stripMargin)),

    // ORC round trip — the columnar-format matrix beside parquet
    // (native tables) and CSV (q43): ORC write + schema'd read-back.
    // Same predicate-pushdown/column-pruning story as parquet at
    // 100 TB; the engine treats the format as a storage detail.
    Graded("q60_orc_roundtrip", (s, d) => {
      val sink = graft.Scratch.app(s, "q60_orc")
      Tables.supplier(s, d).write.mode("overwrite").orc(sink)
      s.read.orc(sink)
        .select(col("s_suppkey"), col("s_name"), col("s_nationkey"))
    },
      Some("SELECT s_suppkey, s_name, s_nationkey FROM supplier"))
  )
}
