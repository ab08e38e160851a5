package graft.queries

import graft.{Graded, Session, Tables}
import graft.ops.RelationalOps
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** q111–q113: round-7 maintenance tier. Per the round-6 verdict's
  * redundancy rule, each query here pins a PLAN property no existing
  * query does:
  *   - q111: MERGE with delete semantics — tombstone merge resolved in
  *     ONE anti-join pass + union (no full-outer join, no window, no
  *     latest-wins rank) — the delta-lake MERGE shape q12/q13 don't
  *     cover (q12 has no deletes; q13 is insert-only).
  *   - q112: trailing-window DISTINCT from mergeable HLL partials —
  *     the one aggregate a RANGE window can't re-derive from sums
  *     (q80's trailing SUM re-aggregates raw rows; distinct can't), so
  *     the window merges day-level SKETCHES: events scanned once,
  *     bytes-sized state per day, certificate-graded like q28.
  *   - q113: AQE skew-join — the RUNTIME re-plan Spark applies when a
  *     shuffle partition is observed skewed (q44/q68 pin the MANUAL
  *     salting alternative; nothing pins the adaptive path).
  *     MaintainSpec asserts skew=true in the executed plan.
  */
object MaintainQueries {
  val graded: Seq[Graded] = Seq(
    // Tombstone MERGE (MERGE … WHEN MATCHED AND del THEN DELETE / WHEN
    // MATCHED THEN UPDATE / WHEN NOT MATCHED THEN INSERT): target =
    // pre-1996-07 orders; delta = 1996+ slice where status 'F' rows
    // are tombstones and the rest land with a recomputed value. One
    // left-anti join on the key removes BOTH deleted and updated
    // target rows; the union appends the delta's survivors — insert,
    // update, and delete all resolve in a single key-partitioned pass.
    // At 100 TB: one shuffle of each side on the merge key, no
    // window state, no second pass for the deletes.
    Graded("q111_merge_delete", (s, d) => {
      val target = Tables.orders(s, d)
        .filter(col("o_orderdate") < to_timestamp(lit("1996-07-01 00:00:00")))
        .select(col("o_orderkey").as("k"), col("o_totalprice").as("v"))
      val delta = Tables.orders(s, d)
        .filter(col("o_orderdate") >= to_timestamp(lit("1996-01-01 00:00:00")))
        .select(col("o_orderkey").as("k"),
          (col("o_totalprice") * 2d).as("v"), // ×2 is exact in binary fp
          (col("o_orderstatus") === "F").as("is_delete"))
      target.join(delta.select(col("k")), Seq("k"), "left_anti")
        .unionByName(delta.filter(!col("is_delete")).drop("is_delete"))
    },
      // NOT EXISTS, not NOT IN (r15 review): a single NULL delta key
      // turns `k NOT IN (...)` NULL for EVERY target row — the oracle's
      // target half vanishes — while the engine's left-anti join (the
      // correct MERGE-key semantic: NULL matches nothing) keeps every
      // unmatched row. Masked on today's fixtures only because the
      // nulls variant also nulls the date filter; the correlated NOT
      // EXISTS expresses anti-join semantics exactly.
      Some("""WITH target AS (
        |  SELECT o_orderkey AS k, o_totalprice AS v FROM orders
        |  WHERE o_orderdate < TIMESTAMP '1996-07-01'),
        | delta AS (
        |  SELECT o_orderkey AS k, o_totalprice * 2 AS v,
        |         o_orderstatus = 'F' AS is_delete
        |  FROM orders WHERE o_orderdate >= TIMESTAMP '1996-01-01')
        |SELECT k, v FROM target t
        |WHERE NOT EXISTS (SELECT 1 FROM delta d WHERE d.k = t.k)
        |UNION ALL
        |SELECT k, v FROM delta WHERE NOT is_delete""".stripMargin)),

    // Trailing 7-day DISTINCT users per day from daily HLL sketches:
    // the RANGE-window form of q96's rollup. Events are scanned ONCE
    // into ≤31 day-level sketches; the trailing distinct then merges
    // sketches inside a window frame — no 7× re-scan, no
    // (day × user)-sized shuffle, constant bytes per day at any scale.
    // Graded as a q28-style certificate: the sketch estimate must land
    // within max(5, 5%) of the exact count (the exact side exists only
    // to certify — production serves the sketch).
    Graded("q112_trailing_distinct", (s, d) => {
      val ev = Tables.events(s, d)
        .select(to_date(col("ts")).as("day"), col("user_id"))
      val daily = ev.groupBy(col("day"))
        .agg(hll_sketch_agg(col("user_id"), lit(14)).as("sk"))
      // integer epoch-day ordering: RANGE frames take numeric offsets
      // (a DATE ordering would demand INTERVAL frame bounds). The
      // window is deliberately unpartitioned — its input is the
      // DAY-level sketch table (≤1 row per day, bytes per row), so the
      // single-partition window is metadata-sized at any corpus scale;
      // a multi-tenant variant partitions by tenant
      //
      val trailing = daily
        .withColumn("day_i", datediff(col("day"), to_date(lit("1970-01-01"))))
        .select(col("day"),
          hll_sketch_estimate(hll_union_agg(col("sk"))
            .over(Window.orderBy(col("day_i"))
              .rangeBetween(-6, Window.currentRow))).as("_approx"))
      // exact trailing distinct (certificate only): distinct (day,user)
      // pairs fanned ≤7× through a bounded range join. Materialized
      // once: pairs feeds the day list AND the range join (and ev
      // would otherwise be scanned 3×; the differently-shaped
      // consumers defeat exchange reuse — the q59 rationale)
      val pairs = graft.ops.Materialize.once("q112.pairs", ev.distinct())
      val days = pairs.select(col("day").as("d0")).distinct()
      val exact = days.join(pairs,
          col("day").between(date_sub(col("d0"), 6), col("d0")))
        .groupBy(col("d0")).agg(countDistinct(col("user_id")).as("n_exact"))
      trailing.join(exact, col("day") === col("d0"))
        .select(col("day"), col("n_exact"),
          (abs(col("_approx") - col("n_exact")) <=
            greatest(lit(5L), (col("n_exact") * 0.05).cast("long")))
            .as("within_tol"))
    },
      Some("""WITH pairs AS (
        |  SELECT DISTINCT CAST(ts AS DATE) AS day, user_id FROM events),
        | days AS (SELECT DISTINCT day AS d0 FROM pairs)
        |SELECT d0 AS day,
        |       count(DISTINCT user_id) AS n_exact,
        |       TRUE AS within_tol
        |FROM days JOIN pairs
        |  ON pairs.day BETWEEN d0 - INTERVAL 6 DAY AND d0
        |GROUP BY 1""".stripMargin)),

    // AQE skew join: a deterministic hot key (every 4th lineitem row
    // remapped to order key 1 → ~25% of the fact in one shuffle
    // partition) joined WITHOUT manual salting. With skew thresholds
    // scaled to the fixture, AQE observes the map-output sizes and
    // SPLITS the hot partition at runtime — the re-plan that replaces
    // q44/q68's hand salting on a real cluster. Broadcast is disabled
    // for the join so the shuffle path (where skew handling lives) is
    // actually exercised. The configs live on a scoped session that
    // the returned frame carries to execution, so no other query
    // inherits them.
    Graded("q113_aqe_skew_join", (s, d) =>
      Session.scoped(s, skewConf: _*)(skewJoinFrame(_, d)),
      Some("""WITH fact AS (
        |  SELECT CASE WHEN l_orderkey % 4 = 0 THEN 1 ELSE l_orderkey END AS k,
        |         l_quantity,
        |         sha256(CAST(l_orderkey AS VARCHAR) || CAST(l_linenumber AS VARCHAR)) AS payload
        |  FROM lineitem)
        |SELECT o_orderpriority, count(*) AS n,
        |       CAST(sum(TRY_CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
        |       CAST(sum(length(payload)) AS BIGINT) AS payload_bytes
        |FROM fact JOIN orders ON k = o_orderkey
        |GROUP BY 1""".stripMargin))
  )

  /** The skewed join-aggregate itself, config-free: MaintainSpec runs
    * it on a session scoped to [[skewConf]] and asserts the executed
    * plan carries `skew=true` on the sort-merge join.
    */
  private[graft] def skewJoinFrame(s: SparkSession, d: String): DataFrame = {
    // repartition(8) gives the join's map stage real parallelism: the
    // fixture parquet is a single row-group → ONE mapper, and AQE can
    // only split a skewed reduce partition on MAP-OUTPUT boundaries
    // (on a cluster the thousands of scan tasks provide this for free)
    // the sha2 payload ships ~64 incompressible bytes per row through
    // the JOIN shuffle (production rows are wide; without it the
    // constant-key hot rows compress to nothing and the byte-level
    // skew signal vanishes); consuming it in the aggregate keeps
    // column pruning from dropping it.
    // r21 (guide §2.3, project before the exchange): the payload is
    // computed AFTER the round-robin repartition, in the join's map
    // stage — the skew-detection signal lives in the join exchange's
    // map-output sizes, which still carry the full 64 bytes/row
    // (AqeSkewSpec keeps asserting skew=true), while the RR exchange
    // now ships 3 narrow columns instead of hauling the sha2 strings
    // twice; its sort-before-repartition also sorts narrower rows.
    // Same rows, same hash: sha2 is a pure per-row function of
    // (l_orderkey, l_linenumber).
    val fact0 = Tables.lineitem(s, d).select(
      col("l_orderkey"), col("l_linenumber"), col("l_quantity"))
    // r22: the RR count was a hard-coded 8 — fixture-compensating
    // locally (see the comment above) but an unconditional
    // repartition(8) SERIALIZES a production scan's thousands of map
    // tasks down to 8. Scale it from scan metadata with 8 as the
    // floor: fixture estimate is 1 → count stays exactly 8 (same
    // plan, same bench line); at scale the RR stage keeps the scan's
    // own parallelism. Result-identical at any count (RR placement
    // feeds only order-independent aggregates; payload is a pure
    // per-row function).
    val fact = fact0
      .repartition(RelationalOps.scanScaledPartitions(fact0, 8))
      .select(
        when(col("l_orderkey") % 4 === 0, lit(1L))
          .otherwise(col("l_orderkey")).as("k"),
        col("l_quantity"),
        sha2(concat(col("l_orderkey").cast("string"),
          col("l_linenumber").cast("string")), 256).as("payload"))
    val dim = Tables.orders(s, d)
      .select(col("o_orderkey").as("k"), col("o_orderpriority"))
    fact.join(dim, "k")
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n"),
        // try_cast, not cast (r16 naninf probe): one NaN quantity in
        // 100 TB killed the whole job under ANSI ([CAST_OVERFLOW] —
        // the only graded query that cast a raw measure straight to
        // BIGINT). Non-finite measures are quarantine-tier input;
        // NULL-and-skip is the same posture every money agg already
        // has via the decimal cast.
        sum(col("l_quantity").try_cast("long")).as("sum_qty"),
        sum(length(col("payload")).cast("long")).as("payload_bytes"))
  }

  /** Fixture-scaled AQE skew thresholds + broadcast disabled (the
    * shuffle join is where skew handling lives).
    *
    * Why each knob: skew DETECTION needs the hot partition to stand
    * out from the median (≥16 shuffle partitions — with 2, the median
    * IS the hot partition) and to clear the byte threshold (scaled to
    * fixture KBs from the 256 MB production default); skew SPLITTING
    * happens on map-output boundaries, so the scan must produce
    * multiple mappers (small maxPartitionBytes) — a single-mapper
    * partition cannot be split no matter how skewed. Forcing the
    * split applies it even where it costs an extra downstream
    * exchange — the agg reshuffles on a different key regardless.
    */
  private[graft] val skewConf: Seq[(String, String)] = Seq(
    "spark.sql.autoBroadcastJoinThreshold" -> "-1",
    "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2",
    "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "8KB",
    "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "4KB",
    "spark.sql.adaptive.forceOptimizeSkewedJoin" -> "true",
    "spark.sql.shuffle.partitions" -> "16",
    "spark.sql.files.maxPartitionBytes" -> "262144")
}
