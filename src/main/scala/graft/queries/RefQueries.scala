package graft.queries

import graft.{Graded, Tables}
import graft.ops.RelationalOps._
import org.apache.spark.sql.functions._

/** q01–q20: the reference's own operator inventory (SURVEY.md §2),
  * re-expressed on the driver's test tables. Each record carries a
  * DuckDB oracle with IDENTICAL output column names and types
  * (sums via exact DECIMAL then DOUBLE; timestamps surfaced as DATE or
  * string at the output edge — SURVEY.md §7 risk 1).
  */
object RefQueries {
  private val dateRange90 =
    "SELECT CAST(unnest(generate_series(DATE '1995-01-01', DATE '1995-03-31', INTERVAL 1 DAY)) AS DATE) AS d"
  private val dateRange7 =
    "SELECT CAST(unnest(generate_series(DATE '1995-01-01', DATE '1995-01-07', INTERVAL 1 DAY)) AS DATE) AS d"

  val graded: Seq[Graded] = Seq(
    // S2 — full scan with explicit projection (kicc_to_tb_sales.py:67).
    // Catalyst prunes the parquet scan to exactly these 5 columns.
    Graded("q01_scan_project", (s, d) =>
      Tables.lineitem(s, d).select(
        col("l_orderkey"), col("l_partkey"), col("l_quantity"),
        col("l_extendedprice"), col("l_returnflag")),
      Some("SELECT l_orderkey, l_partkey, l_quantity, l_extendedprice, l_returnflag FROM lineitem")),

    // P1 — exclusion filter during master load (load_store_data.py:69-72).
    Graded("q02_filter_exclude_store", (s, d) =>
      excludeKey(Tables.customer(s, d), "c_custkey", 42L)
        .select(col("c_custkey"), col("c_name"), col("c_mktsegment")),
      Some("SELECT c_custkey, c_name, c_mktsegment FROM customer WHERE c_custkey IS NULL OR c_custkey <> 42")),

    // S3 — range scan, pushed to parquet row-group stats
    // (kicc_to_tb_sales_prod.py:63-70).
    Graded("q03_filter_date_between", (s, d) =>
      Tables.orders(s, d)
        .filter(col("o_orderdate") >= to_timestamp(lit("1996-01-01 00:00:00"))
          && col("o_orderdate") < to_timestamp(lit("1997-01-01 00:00:00")))
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
          col("o_orderdate").cast("date").as("o_orderdate")),
      Some("SELECT o_orderkey, o_custkey, o_totalprice, CAST(o_orderdate AS DATE) AS o_orderdate FROM orders WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00' AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'")),

    // P2 — NULL-or-'' missing-state predicate
    // (kicc_to_tb_sales_prod.py:126-131). The CASE synthesizes both
    // missing shapes from the data so the predicate is exercised.
    Graded("q04_filter_null_or_empty", (s, d) =>
      Tables.documents(s, d)
        .withColumn("m",
          when(col("lang") === "es", lit(""))
            .when(col("lang") === "zh", lit(null).cast("string"))
            .otherwise(col("lang")))
        .filter(isMissing(col("m")))
        .select(col("doc_id"), col("source"), col("m")),
      Some("SELECT doc_id, source, m FROM (SELECT doc_id, source, CASE WHEN lang = 'es' THEN '' WHEN lang = 'zh' THEN NULL ELSE lang END AS m FROM documents) WHERE m IS NULL OR m = ''")),

    // P3 — IN-list conditional constant fill (kicc_to_tb_sales.py:126-134).
    Graded("q05_in_list_null_fill", (s, d) => {
      val base = Tables.customer(s, d).withColumn("responsible",
        when(col("c_acctbal") < 0, lit(null).cast("string"))
          .otherwise(col("c_mktsegment")))
      inListNullFill(base, "responsible", "c_nationkey", Seq(1, 3, 5, 7), "직영")
        .select(col("c_custkey"), col("c_nationkey"), col("responsible"))
    },
      Some("SELECT c_custkey, c_nationkey, CASE WHEN r IS NULL AND c_nationkey IN (1,3,5,7) THEN '직영' ELSE r END AS responsible FROM (SELECT c_custkey, c_nationkey, CASE WHEN c_acctbal < 0 THEN NULL ELSE c_mktsegment END AS r FROM customer)")),

    // P5 — staging→mart rename projection (kicc_to_tb_sales.py:73-86).
    Graded("q06_rename_project", (s, d) =>
      renameProject(
        Tables.orders(s, d)
          .withColumn("sale_dy", col("o_orderdate").cast("date")),
        Seq("o_custkey" -> "chain_no", "sale_dy" -> "sale_dy",
          "o_totalprice" -> "chong_maechool", "o_orderstatus" -> "open_flag",
          "o_orderkey" -> "bill_no")),
      Some("SELECT o_custkey AS chain_no, CAST(o_orderdate AS DATE) AS sale_dy, o_totalprice AS chong_maechool, o_orderstatus AS open_flag, o_orderkey AS bill_no FROM orders")),

    // F4 — cast-all-to-string, null-preserving (load_sales_data.py:68-69).
    Graded("q07_cast_all_string", (s, d) => castAllString(Tables.nation(s, d)),
      Some("SELECT CAST(n_nationkey AS VARCHAR) AS n_nationkey, CAST(n_name AS VARCHAR) AS n_name, CAST(n_regionkey AS VARCHAR) AS n_regionkey FROM nation")),

    // F1 — yyyyMMdd VARCHAR → DATE round-trip (kicc_to_tb_sales.py:72).
    Graded("q08_parse_date", (s, d) =>
      Tables.orders(s, d).select(col("o_orderkey"),
        parseYyyymmdd(formatYyyymmdd(col("o_orderdate"))).as("sale_dy")),
      Some("SELECT o_orderkey, CAST(strptime(strftime(o_orderdate, '%Y%m%d'), '%Y%m%d') AS DATE) AS sale_dy FROM orders")),

    // F2 — DATE → yyyyMMdd string (load_sales_data.py:146-149).
    Graded("q09_format_date", (s, d) =>
      Tables.orders(s, d).select(col("o_orderkey"),
        formatYyyymmdd(col("o_orderdate")).as("sale_date")),
      Some("SELECT o_orderkey, strftime(o_orderdate, '%Y%m%d') AS sale_date FROM orders")),

    // F6 — date-range generator (load_sales_with_prod_data_period.py:130-133).
    Graded("q10_date_range", (s, d) =>
      s.range(1).select(dateRange("1995-01-01", "1995-03-31").as("d")),
      Some(dateRange90)),

    // J5 — work-unit generator: every store × every date in window
    // (load_sales_data.py:160-164). Broadcast nested loop, no shuffle.
    Graded("q11_cross_join_worklist", (s, d) =>
      crossJoinWorklist(Tables.customer(s, d).select(col("c_custkey")),
        "1995-01-01", "1995-01-07"),
      Some(s"SELECT c_custkey, d FROM customer CROSS JOIN ($dateRange7)")),

    // U1 — latest-wins MERGE replacing per-row exists-probe+UPDATE/INSERT
    // (load_sales_data.py:129-134). One shuffle on the key. A scan of
    // fewer splits than cores is spread by the MERGE key itself, each
    // side below its own projection, and the Union keeps that hash
    // partitioning: the spread IS the merge's shuffle, and the window
    // runs on every core instead of one task per scan (SCALING.md). A
    // many-split scan keeps the plain one-exchange merge.
    Graded("q12_upsert_latest_wins", (s, d) => {
      val o = rebalanceScan(Tables.orders(s, d)
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice")),
        col("o_orderkey"))
      val target = o.select(col("o_orderkey"), col("o_custkey"),
        lit(0.0).as("total"), lit("stale").as("src"))
      val incoming = o.filter(col("o_orderkey") % 3 === 0)
        .select(col("o_orderkey"), col("o_custkey"),
          col("o_totalprice").as("total"), lit("fresh").as("src"))
      // `src` stays nullable, as the frozen dump schema has it: the
      // window passes the literals' non-null through to the parquet
      // writer. nullif against a value no row carries is the identity,
      // and unlike `when(isNotNull)` the optimizer cannot fold it away.
      upsertLatestWins(target, incoming, Seq("o_orderkey"))
        .withColumn("src", nullif(col("src"), lit("")))
    },
      Some("""WITH t AS (SELECT o_orderkey, o_custkey, CAST(0.0 AS DOUBLE) AS total, 'stale' AS src, 1 AS pri FROM orders),
        | i AS (SELECT o_orderkey, o_custkey, o_totalprice AS total, 'fresh' AS src, 0 AS pri FROM orders WHERE o_orderkey % 3 = 0),
        | u AS (SELECT * FROM t UNION ALL SELECT * FROM i),
        | r AS (SELECT *, row_number() OVER (PARTITION BY o_orderkey ORDER BY pri) AS rn FROM u)
        |SELECT o_orderkey, o_custkey, total, src FROM r WHERE rn = 1""".stripMargin)),

    // J3 — insert-if-absent half of the upsert (load_sales_data.py:132-134).
    Graded("q13_anti_join_new", (s, d) =>
      newRows(Tables.customer(s, d),
        Tables.orders(s, d).select(col("o_custkey").as("c_custkey")),
        Seq("c_custkey")).select(col("c_custkey"), col("c_name")),
      Some("SELECT c_custkey, c_name FROM customer c WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)")),

    // J4 — update-if-present half (load_sales_data.py:129-131).
    Graded("q14_semi_join_existing", (s, d) =>
      existingRows(Tables.customer(s, d),
        Tables.orders(s, d).select(col("o_custkey").as("c_custkey")),
        Seq("c_custkey")).select(col("c_custkey"), col("c_name")),
      Some("SELECT c_custkey, c_name FROM customer c WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)")),

    // J1 — update-join: overwrite fact col from dim when matched
    // (kicc_to_tb_sales.py:108-125). Dim broadcast, no fact shuffle.
    Graded("q15_enrich_join_update", (s, d) => {
      val fact = Tables.customer(s, d).withColumn("responsible", lit("unknown"))
      val dim = Tables.nation(s, d).filter(col("n_nationkey") < 15)
        .select(col("n_nationkey").as("c_nationkey"), col("n_name"))
      enrichJoinOverwrite(fact, dim, "c_nationkey", "responsible", "n_name")
        .select(col("c_custkey"), col("c_nationkey"), col("responsible"))
    },
      // the dim is DEDUPED (min per key) like the engine's
      // enrichJoinOverwrite: a duplicated dim key must update each fact
      // row ONCE with a deterministic pick — the reference's UPDATE…JOIN
      // touches each row once (arbitrary pick); min() is that semantic
      // made deterministic. A raw join here fanned the fact out instead
      // (r15 dup-dim probe; q16's oracle already dedups the same way).
      Some("SELECT c_custkey, c_nationkey, COALESCE(n.n_name, 'unknown') AS responsible FROM customer c LEFT JOIN (SELECT n_nationkey, min(n_name) AS n_name FROM nation WHERE n_nationkey < 15 GROUP BY 1) n ON c.c_nationkey = n.n_nationkey")),

    // J2 — filtered update-join: fill only NULL/'' slots from the dim
    // (kicc_to_tb_sales_prod.py:119-134).
    Graded("q16_enrich_dim_fill", (s, d) => {
      val p = Tables.part(s, d)
      val fact = p.select(col("p_partkey"),
        when(col("p_size") % 3 === 0, lit(null).cast("string"))
          .when(col("p_size") % 3 === 1, lit(""))
          .otherwise(col("p_brand")).as("medium_scale_nm"))
      dimFillWhenEmpty(fact, p, "p_partkey", "p_partkey",
        "medium_scale_nm", "p_type")
    },
      Some("""SELECT f.p_partkey, CASE WHEN (f.m IS NULL OR f.m = '') AND d.fill IS NOT NULL THEN d.fill ELSE f.m END AS medium_scale_nm
        |FROM (SELECT p_partkey, CASE WHEN p_size % 3 = 0 THEN NULL WHEN p_size % 3 = 1 THEN '' ELSE p_brand END AS m FROM part) f
        |LEFT JOIN (SELECT p_partkey, min(p_type) AS fill FROM part GROUP BY p_partkey) d USING (p_partkey)""".stripMargin)),

    // A1 — store×day rollup with tender-style conditional sums
    // (load_sales_data.py:57-64; kicc_to_tb_sales.py:73-86). Partial
    // (map-side) aggregation then one shuffle on the group key.
    // (r21: a pre-agg rebalanceScan was measured SLOWER here — the
    // codegen'd partial agg in the scan task beats exchanging raw
    // rows; OPTIMIZATION_r21.md plain 0.64s vs rebalanced 0.70-1.24s.)
    Graded("q17_store_day_agg", (s, d) =>
      Tables.lineitem(s, d)
        .groupBy(col("l_suppkey"), col("l_shipdate").cast("date").as("sale_dy"))
        .agg(
          count(lit(1)).as("bill_qty"),
          sumMoney(col("l_quantity")).as("total_qty"),
          sumMoney(col("l_extendedprice")).as("chong_maechool"),
          sumMoney(when(col("l_returnflag") === "R", col("l_extendedprice"))
            .otherwise(lit(0))).as("return_amt")),
      Some("""SELECT l_suppkey, CAST(l_shipdate AS DATE) AS sale_dy, count(*) AS bill_qty,
        | CAST(sum(TRY_CAST(nullif(l_quantity, 'nan'::DOUBLE) AS DECIMAL(18,2))) AS DOUBLE) AS total_qty,
        | CAST(sum(TRY_CAST(nullif(l_extendedprice, 'nan'::DOUBLE) AS DECIMAL(18,2))) AS DOUBLE) AS chong_maechool,
        | CAST(sum(TRY_CAST(nullif(CASE WHEN l_returnflag = 'R' THEN l_extendedprice ELSE 0 END, 'nan'::DOUBLE) AS DECIMAL(18,2))) AS DOUBLE) AS return_amt
        |FROM lineitem GROUP BY 1, 2""".stripMargin)),

    // A2 — store×item×day rollup (load_sales_with_prod_data.py:87-92).
    // Factors are cast to DECIMAL *before* multiplying: rounding a
    // double product to 2 decimals is engine-dependent near .xx5;
    // decimal×decimal is exact and identical everywhere.
    Graded("q18_item_day_agg", (s, d) => {
      val price = col("l_extendedprice").cast("decimal(18,2)")
      val disc = col("l_discount").cast("decimal(18,2)")
      Tables.lineitem(s, d)
        .groupBy(col("l_partkey"), col("l_shipdate").cast("date").as("sale_dy"))
        .agg(
          sumMoney(col("l_quantity")).as("sale_qty"),
          sum(price).cast("double").as("total_amt"),
          sum(price * (lit(1).cast("decimal(18,2)") - disc)).cast("double")
            .as("net_amt"),
          sum(price * disc).cast("double").as("discount"))
    },
      Some("""SELECT l_partkey, CAST(l_shipdate AS DATE) AS sale_dy,
        | CAST(sum(TRY_CAST(nullif(l_quantity, 'nan'::DOUBLE) AS DECIMAL(18,2))) AS DOUBLE) AS sale_qty,
        | CAST(sum(TRY_CAST(nullif(l_extendedprice, 'nan'::DOUBLE) AS DECIMAL(18,2))) AS DOUBLE) AS total_amt,
        | CAST(sum(TRY_CAST(nullif(l_extendedprice, 'nan'::DOUBLE) AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - TRY_CAST(nullif(l_discount, 'nan'::DOUBLE) AS DECIMAL(18,2)))) AS DOUBLE) AS net_amt,
        | CAST(sum(TRY_CAST(nullif(l_extendedprice, 'nan'::DOUBLE) AS DECIMAL(18,2)) * TRY_CAST(nullif(l_discount, 'nan'::DOUBLE) AS DECIMAL(18,2))) AS DOUBLE) AS discount
        |FROM lineitem GROUP BY 1, 2""".stripMargin)),

    // S8 — truncate-and-load full refresh (load_prod_data.py:51-53):
    // mode("overwrite") is the atomic job-level replacement of the
    // reference's non-atomic TRUNCATE+insert — readers see either the
    // old or the new snapshot, never an empty table. The query writes
    // the refreshed snapshot for real, then returns the re-read. The
    // sink path is unique per Spark application so concurrent sessions
    // (Verify ∥ Bench, parallel test runs) can never race on one
    // directory — parquet overwrite is only atomic within a job.
    Graded("q19_overwrite_refresh", (s, d) => {
      val snapshot = Tables.part(s, d).select(col("p_partkey"), col("p_name"),
        col("p_brand"), col("p_type"), col("p_size"), col("p_retailprice"))
      val sink = graft.Scratch.app(s, "q19_refresh")
      snapshot.write.mode("overwrite").parquet(sink)
      // read back under the writer's schema: no footer-inference job
      s.read.schema(snapshot.schema).parquet(sink)
    },
      Some("SELECT p_partkey, p_name, p_brand, p_type, p_size, p_retailprice FROM part")),

    // A3 / S5 — set-based replacement for per-key COUNT(*) probes
    // (load_sales_data.py:35-40 et al.).
    Graded("q20_exists_count", (s, d) =>
      Tables.orders(s, d).groupBy(col("o_custkey"))
        .agg(count(lit(1)).as("n")),
      Some("SELECT o_custkey, count(*) AS n FROM orders GROUP BY o_custkey"))
  )
}
