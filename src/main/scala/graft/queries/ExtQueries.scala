package graft.queries

import graft.{Graded, Session, Tables}
import graft.ops.RelationalOps
import graft.ops.RelationalOps.sumMoney
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DecimalType, LongType, StringType, StructType}

/** q37–q42: second-wave coverage — the exact similarity join that
  * completes the dedup family (SURVEY.md §2h), the S1 ingest-envelope
  * path finally exercised through the oracle, and the analytic
  * operators a mart user reaches for next (rollup, lag deltas, exact
  * percentiles, partitioned-write pruning; SURVEY.md §2d/§2e absences
  * called out as engine additions).
  */
object ExtQueries {
  /** q37 shares q29's planted near-dup corpus and oracle corpus —
    * ONE definition (NorthQueries), not a verbatim copy guarded by a
    * comment: a recipe edit on one side would silently desynchronize
    * the other query's Spark corpus from its oracle. */
  private val nearDupUnionDocs = NorthQueries.nearDupUnionDocs

  /** S1 envelope schema: {ret_code, data:[{id,k}]} —
    * load_sales_data.py:96-100 shape with a typed payload record.
    */
  private val envSchema: StructType = new StructType()
    .add("ret_code", StringType)
    .add("data", ArrayType(new StructType()
      .add("id", LongType)
      .add("k", LongType)))

  val graded: Seq[Graded] = Seq(
    // §2h — EXACT n-gram Jaccard similarity join: prefix-filtered
    // candidates (deterministic, provably complete at the threshold —
    // TextOps.prefixFilterCandidates) + exact verify. The
    // deterministic sibling of q29's MinHash-LSH: same output
    // contract, guaranteed recall, index ~(1-t) of the shingles. One
    // definition with the q56/q89 pair artifact.
    Graded("q37_ngram_jaccard_join", (s, d) => NorthQueries.nearDupJaccardPairs(s, d),
      // Exhaustive all-pairs ground truth (fixture-scale only) — q37's
      // prefix filtering must reproduce it EXACTLY (complete recall by
      // construction, unlike q29's probabilistic banding).
      Some(s"""WITH corpus AS ($nearDupUnionDocs),
         | sh AS (SELECT doc_id,
         |   list_distinct(list_transform(range(1, len(string_split(text,' ')) - 1),
         |     i -> string_split(text,' ')[i] || ' ' || string_split(text,' ')[i+1] || ' ' || string_split(text,' ')[i+2])) AS sh
         |   FROM corpus WHERE len(string_split(text,' ')) >= 3)
         |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         |       CAST(len(list_intersect(a.sh, b.sh)) AS INT) AS n_inter,
         |       CAST(len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)) AS INT) AS n_union
         |FROM sh a JOIN sh b ON a.doc_id < b.doc_id
         |WHERE len(list_intersect(a.sh, b.sh)) * 5 >=
         |      (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) * 4""".stripMargin)),

    // S1 — the ingest path end-to-end: per-user JSON envelopes are
    // assembled (collect_list batching — the API returns one envelope
    // per request with a data array, load_sales_data.py:93-100), then
    // decodeEnvelope gates ret_code=="0000" (drop the whole batch
    // otherwise, :97-99) and explodes data[] into typed rows. Record
    // order inside an envelope is nondeterministic (collect_list), but
    // the decoded ROW SET is order-free — exactly why the oracle can
    // check it.
    //
    // BOUNDED envelopes: a per-user collect_list is unbounded — one
    // hot user_id OOMs the aggregation buffer at corpus scale. Records
    // are bucketed to ≤500 per envelope first (row_number over the
    // same user_id partitioning the groupBy shuffles on, so the window
    // adds no exchange), i.e. one user emits ceil(n/500) envelopes.
    // The decode gates on the envelope's ret_code exactly as before —
    // every bucket of a user carries the same code — so the decoded
    // row set is unchanged and the oracle still certifies it.
    Graded("q38_envelope_decode", (s, d) => {
      // r21 (guide §2.3, project before the exchange): only the three
      // narrow columns (user_id, event_id, k:bigint) cross the window
      // exchange; the per-record JSON text is assembled AFTER it, in
      // the same stage as the window/groupBy — identical string, same
      // single get_json_object parse, ~40% fewer shuffle bytes (the
      // assembled rec is ~2x the raw fields) and a narrower sort.
      val recs = Tables.events(s, d).select(col("user_id"), col("event_id"),
        // the envelope contract types k as a NUMBER: embed it
        // numeric-or-null. Splicing the raw extracted text produced
        // `"k":v` — malformed JSON — for any non-numeric source
        // value, and the whole envelope then silently failed decode
        // (r13 edge sweep); try_cast mirrors the oracle's TRY_CAST.
        expr("try_cast(get_json_object(props, '$.k') AS BIGINT)").as("_k"))
      val wb = Window.partitionBy(col("user_id")).orderBy(col("event_id"))
      val env = recs
        .withColumn("_bkt", floor((row_number().over(wb) - 1) / lit(500)))
        .withColumn("rec",
          concat(lit("{\"id\":"), col("event_id").cast("string"),
            lit(",\"k\":"),
            coalesce(col("_k").cast("string"), lit("null")), lit("}")))
        .groupBy(col("user_id"), col("_bkt"))
        .agg(concat_ws(",", collect_list(col("rec"))).as("_recs"))
        .select(concat(lit("{\"ret_code\":\""),
          when(col("user_id") % 50 === 0, lit("9999")).otherwise(lit("0000")),
          lit("\",\"data\":["), col("_recs"), lit("]}")).as("payload"))
      RelationalOps.decodeEnvelope(env, "payload", envSchema)
    },
      // json_valid guard: ->> errors on non-JSON props (see q21)
      // integral-lexicon guard: see the q21 oracle (r18 JSON probe —
      // DuckDB's TRY_CAST accepts '1e2'/'0x1F' where Spark's doesn't)
      Some("""SELECT event_id AS id,
        | CASE WHEN json_valid(props)
        |       AND regexp_matches(props->>'$.k', '^\s*[+-]?[0-9]+\s*$')
        |      THEN TRY_CAST(props->>'$.k' AS BIGINT) END AS k
        |FROM events WHERE user_id % 50 <> 0""".stripMargin)),

    // §2d — hierarchical rollup: (returnflag, linestatus) → flag
    // subtotals → grand total in ONE pass (partial aggregation per
    // grouping set, no union of three scans). gid disambiguates
    // levels exactly as GROUPING_ID does everywhere. The fact rows
    // aggregate once at the finest key before the rollup's Expand
    // (q98's note): the Expand copies 6 groups, not every line item.
    Graded("q39_rollup_sales", (s, d) =>
      Tables.lineitem(s, d)
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(sum(col("l_extendedprice").cast(DecimalType(18, 2))).as("_amt"),
          count(lit(1)).as("_n"))
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(sum(col("_amt")).cast("double").as("total_amt"),
          coalesce(sum(col("_n")), lit(0L)).as("n"),
          grouping_id().as("gid"))
        .select(col("l_returnflag"), col("l_linestatus"),
          col("total_amt"), col("n"), col("gid")),
      // HAVING count(*) > 0 pins the ENGINE's (Spark's) empty-input
      // semantics: Spark plans rollup as Expand+groupBy, so an empty
      // input yields NO groups at all, where the standard (and DuckDB)
      // emit the () grand-total row with count 0 (r13 edge sweep). On
      // any real group the predicate is vacuous (count ≥ 1).
      Some("""SELECT l_returnflag, l_linestatus,
        | CAST(sum(TRY_CAST(nullif(l_extendedprice, 'nan'::DOUBLE) AS DECIMAL(18,2))) AS DOUBLE) AS total_amt,
        | count(*) AS n,
        | CAST(GROUPING(l_returnflag, l_linestatus) AS BIGINT) AS gid
        |FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)
        |HAVING count(*) > 0""".stripMargin)),

    // §2e — day-over-day delta per supplier: daily rollup (one
    // shuffle) then lag over days. The mart-consumer query the
    // reference leaves to downstream BI.
    Graded("q40_dod_delta", (s, d) => {
      val daily = Tables.lineitem(s, d)
        .groupBy(col("l_suppkey"), col("l_shipdate").cast("date").as("day"))
        .agg(sumMoney(col("l_extendedprice")).as("amt"))
      // asc_nulls_last: a NULL day (null l_shipdate) at the HEAD of
      // the lag chain (Spark's bare-ASC default) seeds the first real
      // day's delta with the null-day amount, where DuckDB's
      // NULLS-LAST default chains it after the last real day (r18
      // nulltime probe)
      val w = Window.partitionBy(col("l_suppkey"))
        .orderBy(col("day").asc_nulls_last)
      daily.select(col("l_suppkey"), col("day"), col("amt"),
        (col("amt") - lag(col("amt"), 1, 0.0).over(w)).as("dod_delta"))
    },
      Some("""WITH daily AS (
        |  SELECT l_suppkey, CAST(l_shipdate AS DATE) AS day,
        |         CAST(sum(TRY_CAST(nullif(l_extendedprice, 'nan'::DOUBLE) AS DECIMAL(18,2))) AS DOUBLE) AS amt
        |  FROM lineitem GROUP BY 1, 2)
        |SELECT l_suppkey, day, amt,
        |       amt - COALESCE(lag(amt) OVER (PARTITION BY l_suppkey ORDER BY day), 0.0) AS dod_delta
        |FROM daily""".stripMargin)),

    // S7/S8 at scale — DATE-PARTITIONED overwrite write + read-back
    // with a partition-column filter: the write lays out one directory
    // per month, the read-back filter prunes to a single partition
    // (directory-level pruning, no data-file reads outside it). This
    // is what makes q03's BETWEEN cheap at 100 TB. Unique sink path
    // per application — no cross-session overwrite race.
    Graded("q41_partitioned_write", (s, d) => {
      val sink = graft.Scratch.app(s, "q41_part")
      val mart = Tables.orders(s, d)
        .select(col("o_orderkey"), col("o_totalprice"),
          date_format(col("o_orderdate"), "yyyy-MM").as("order_month"))
      // co-partition by the partition column BEFORE the write: without
      // it every task writes a file into every month directory —
      // tasks×months small files, the classic partitioned-write
      // killer at scale. r22: REBALANCE-with-skew-split instead of a
      // plain hash repartition, which melted a hot month in one task —
      // rationale and the coalescing caveat in LayoutOps.
      graft.ops.LayoutOps.partitionedOverwrite(mart, "order_month", sink)
      // read back under the WRITER's schema, never inference: an empty
      // slice writes zero partition dirs and schema inference then
      // throws UNABLE_TO_INFER_SCHEMA — the r13 edge sweep's finding.
      // At 100 TB an empty nightly slice is a normal Tuesday; the
      // mart must read back as 0 rows, not die.
      s.read.schema(mart.schema).parquet(sink)
        .filter(col("order_month") === "1995-03")
        .select(col("o_orderkey"), col("o_totalprice"), col("order_month"))
    },
      Some("""SELECT o_orderkey, o_totalprice, strftime(o_orderdate, '%Y-%m') AS order_month
        |FROM orders WHERE strftime(o_orderdate, '%Y-%m') = '1995-03'""".stripMargin)),

    // §2d — exact percentiles (median / p90) per group: Spark's exact
    // `percentile` agg (sort-based within group) vs DuckDB
    // quantile_cont — identical linear interpolation. Surfaced rounded
    // well clear of representation noise.
    Graded("q42_percentile", (s, d) => {
      // finiteOrNull per MEASURE (r16 naninf probe): Spark sorts NaN
      // above +Inf above MaxValue, so one NaN quantity becomes p90 of
      // its whole group; a percentile certificate is defined over
      // finite measures, and NULL (like any absent measure) is skipped
      val qty = graft.ops.RelationalOps.finiteOrNull(col("l_quantity"))
      val price = graft.ops.RelationalOps.finiteOrNull(col("l_extendedprice"))
      Tables.lineitem(s, d).groupBy(col("l_returnflag"))
        .agg(
          round(percentile(qty, lit(0.5)), 6).as("med_qty"),
          round(percentile(qty, lit(0.9)), 6).as("p90_qty"),
          round(percentile(price, lit(0.5)), 6).as("med_price"))
    },
      // isfinite CASE per measure — the engine's finiteOrNull contract
      // (quantile_cont skips NULLs exactly as Spark's percentile does)
      Some("""SELECT l_returnflag,
        | round(quantile_cont(CASE WHEN isfinite(l_quantity) THEN l_quantity END, 0.5), 6) AS med_qty,
        | round(quantile_cont(CASE WHEN isfinite(l_quantity) THEN l_quantity END, 0.9), 6) AS p90_qty,
        | round(quantile_cont(CASE WHEN isfinite(l_extendedprice) THEN l_extendedprice END, 0.5), 6) AS med_price
        |FROM lineitem GROUP BY 1""".stripMargin)),

    // S-family breadth — CSV source/sink round trip with an EXPLICIT
    // read schema (schema-on-read discipline: the engine never trusts
    // inference, mirroring the reference's fixed DB schema as the only
    // typed boundary). Unique path per application.
    Graded("q43_csv_roundtrip", (s, d) => {
      val sink = graft.Scratch.app(s, "q43_csv")
      // nullValue sentinel on BOTH sides (r15 empty-string probe): CSV
      // has one on-disk shape for "nothing here", so Spark's defaults
      // write NULL and '' identically and read both back as NULL — the
      // round trip silently rewrote every empty string. With NULLs
      // spelled as an explicit marker (the checksum tier's '\N'
      // discipline, ReconcileOps), '' keeps its quoted-empty shape and
      // both survive the trip distinct.
      // whitespace survives BOTH directions (r16 whitespace probe):
      // Spark's CSV WRITER trims leading/trailing whitespace by
      // default (ignore*WhiteSpace default true on write, false on
      // read), so '  ' round-tripped as '' — lossy exactly like the
      // ''-vs-NULL default this query already fixes. Both options
      // pinned false on both sides: bytes out = bytes in.
      Tables.nation(s, d).write.mode("overwrite")
        .option("header", "true").option("nullValue", "\\N")
        .option("ignoreLeadingWhiteSpace", "false")
        .option("ignoreTrailingWhiteSpace", "false").csv(sink)
      // multiLine: the writer QUOTES fields carrying the delimiter or a
      // newline (correct CSV), but the default line-splitting reader
      // cuts records at every raw newline — a quoted embedded newline
      // splits one row into two corrupt ones (r13 extremes sweep).
      // multiLine parses quoted newlines at the cost of per-file (not
      // per-split) read parallelism — the right trade here because the
      // writer already emits one task-sized file per partition, so
      // parallelism = #files either way.
      s.read.schema("n_nationkey INT, n_name STRING, n_regionkey INT")
        .option("header", "true").option("multiLine", "true")
        .option("nullValue", "\\N")
        .option("ignoreLeadingWhiteSpace", "false")
        .option("ignoreTrailingWhiteSpace", "false").csv(sink)
    },
      Some("SELECT n_nationkey, n_name, n_regionkey FROM nation")),

    // Co-location — BUCKETED join: both sides written bucketed+sorted
    // by the join key (8 buckets), so the sort-merge join needs NO
    // exchange and NO sort — at 100 TB this is the difference between
    // re-shuffling the fact table on every nightly join and reading
    // co-located buckets. Broadcast is disabled via hint to force the
    // co-located SMJ path visibly (PlanSpec asserts zero pre-join
    // exchanges). Session-scoped catalog + per-application database
    // name: concurrent sessions never collide. The bucketed layout is
    // the canonical BUILD-ONCE ingest artifact — the entire point of
    // bucketing is paying the shuffle once at ingest so every nightly
    // join reads co-located buckets — so the tables are content-keyed
    // (q35/q56/q99 pattern) and written only when this session hasn't
    // built them for these fixture bytes. Cross-JVM staleness cannot
    // collide: the database is per application (Scratch.database), so
    // a dead JVM's warehouse files sit under a db this session never
    // opens, and a clean application end removes its own.
    Graded("q45_bucketed_join", (s, d) => {
      val db = graft.Scratch.database(s)
      val key = graft.Fixtures.tableFingerprint(d, "orders") + "_" +
        graft.Fixtures.tableFingerprint(d, "customer")
      val ob = s"$db.orders_b_$key"
      val cb = s"$db.customer_b_$key"
      // re-gate on DISK every call, like the sibling artifacts
      // (q35/q56/q93/q99 since r12): a tmp cleaner emptying the
      // warehouse under a long-lived session leaves the catalog entry
      // dangling over vanished files — every later read would fail
      // instead of self-healing by rebuild
      def onDisk(t: String): Boolean = {
        val Array(dbn, tn) = t.split("\\.", 2)
        val wh = s.conf.get("spark.sql.warehouse.dir")
          .stripPrefix("file:")
        new java.io.File(s"$wh/$dbn.db/$tn").exists()
      }
      def gone(t: String): Boolean =
        s.catalog.tableExists(t) && !onDisk(t)
      if (gone(ob) || gone(cb)) {
        s.sql(s"DROP TABLE IF EXISTS $ob")
        s.sql(s"DROP TABLE IF EXISTS $cb")
      }
      if (!s.catalog.tableExists(ob) || !s.catalog.tableExists(cb)) {
        Tables.orders(s, d)
          .select(col("o_custkey"), col("o_totalprice"))
          .write.mode("overwrite").bucketBy(8, "o_custkey").sortBy("o_custkey")
          .saveAsTable(ob)
        Tables.customer(s, d)
          .select(col("c_custkey"), col("c_mktsegment"))
          .write.mode("overwrite").bucketBy(8, "c_custkey").sortBy("c_custkey")
          .saveAsTable(cb)
      }
      val o = s.table(ob)
      val c = s.table(cb).hint("merge")
      o.join(c, o("o_custkey") === c("c_custkey"))
        .groupBy(col("c_mktsegment"))
        .agg(sumMoney(col("o_totalprice")).as("total"),
          count(lit(1)).as("n"))
    },
      Some("""SELECT c_mktsegment,
        | CAST(sum(TRY_CAST(nullif(o_totalprice, 'nan'::DOUBLE) AS DECIMAL(18,2))) AS DOUBLE) AS total,
        | count(*) AS n
        |FROM orders JOIN customer ON o_custkey = c_custkey GROUP BY 1""".stripMargin)),

    // §2g — streaming/batch parity: the EXACT StreamingOps transform
    // (watermark + tumbling window + count) executed as a batch plan —
    // Structured Streaming's core promise is that the declarative plan
    // is mode-portable, and this puts the streaming operator library
    // under the DuckDB oracle gate (the watermark is a no-op on a
    // bounded input).
    Graded("q46_stream_batch_parity", (s, d) =>
      graft.streaming.StreamingOps.windowedCounts(
        Tables.events(s, d), "ts", "event_type", "1 hour", "10 minutes"),
      // ts IS NOT NULL: the engine's streaming window() drops rows
      // with no event-time (same TimeWindowing contract as q27 —
      // pinned by the r18 nulltime probe)
      Some("SELECT date_trunc('hour', ts) AS window_start, event_type, count(*) AS n FROM events WHERE ts IS NOT NULL GROUP BY 1, 2")),

    // S4/J5 at the source tier — the work-unit generator as a custom
    // DataSource V2 TableProvider (graft.sources.WorklistSource):
    // stores × dates enumerated partition-parallel on the executors,
    // never materialized on the driver (the reference's Python nested
    // loop, load_sales_data.py:155-164, as a first-class batch source).
    Graded("q47_dsv2_worklist", (s, d) =>
      s.read.format("graft.sources.WorklistSource")
        .option("stores", "100")
        .option("lo", "1995-01-01").option("hi", "1995-01-07")
        .option("numPartitions", "8")
        .load(),
      Some("""SELECT CAST(s.range AS BIGINT) AS store_id, d.d
        |FROM range(0, 100) s CROSS JOIN
        | (SELECT CAST(unnest(generate_series(DATE '1995-01-01', DATE '1995-01-07', INTERVAL 1 DAY)) AS DATE) AS d) d""".stripMargin)),

    // The SQL front door — the same engine drives ANSI SQL through
    // spark.sql over registered views: a join + aggregate + window
    // pipeline in one statement, planned by the same Catalyst rules as
    // the DataFrame queries (they are one API). Mirrors how a mart
    // consumer would actually query the warehouse.
    Graded("q48_sql_pipeline", (s, d) =>
      Session.sql(s,
        """SELECT c_mktsegment, order_year, total, n_orders,
          |       -- segment tiebreak NULLS LAST explicitly: Spark SQL's bare
          |       -- ASC is NULLS FIRST, DuckDB's default is NULLS LAST — on a
          |       -- total tie between a NULL segment and a named one the rank
          |       -- pair swaps (r18 nulltime probe)
          |       CAST(rank() OVER (PARTITION BY order_year ORDER BY total DESC, c_mktsegment ASC NULLS LAST) AS BIGINT) AS rnk
          |FROM (
          |  SELECT c.c_mktsegment,
          |         year(o.o_orderdate) AS order_year,
          |         CAST(sum(TRY_CAST(nullif(o.o_totalprice, 'nan'::DOUBLE) AS DECIMAL(18,2))) AS DOUBLE) AS total,
          |         count(*) AS n_orders
          |  FROM {orders} o JOIN {customer} c ON o.o_custkey = c.c_custkey
          |  GROUP BY 1, 2
          |)""".stripMargin,
        "orders" -> Tables.orders(s, d), "customer" -> Tables.customer(s, d)),
      Some("""SELECT c_mktsegment, order_year, total, n_orders,
        |       rank() OVER (PARTITION BY order_year ORDER BY total DESC, c_mktsegment ASC NULLS LAST) AS rnk
        |FROM (
        |  SELECT c.c_mktsegment,
        |         CAST(year(o.o_orderdate) AS INT) AS order_year,
        |         CAST(sum(TRY_CAST(nullif(o.o_totalprice, 'nan'::DOUBLE) AS DECIMAL(18,2))) AS DOUBLE) AS total,
        |         count(*) AS n_orders
        |  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        |  GROUP BY 1, 2
        |)""".stripMargin)),

    // §2h multimodal — frame sampling: the one-to-many decode (video →
    // N sampled frames) through the typed flatMap stage; fan-out
    // happens inside the partition iterator, never on the driver.
    Graded("q49_multimodal_frames", (s, d) =>
      // null payloads excluded (same contract as q36): sampleFrames
      // dereferences the byte array, and the oracle's unnest emits no
      // frames for a NULL text anyway
      graft.ops.MultimodalOps.sampleFrames(
        Tables.documents(s, d).filter(col("text").isNotNull)
          .select(col("doc_id"), col("text").cast("binary").as("payload")),
        "doc_id", "payload", chunk = 32, maxFrames = 4),
      Some("""SELECT doc_id AS media_id, CAST(fi AS BIGINT) AS frame_idx,
        | CAST(list_sum(list_transform(range(1, 33), j -> ascii(substr(text, CAST(fi*32 + j AS INT), 1)))) % 997 AS BIGINT) AS frame_checksum
        |FROM documents, (SELECT unnest(range(0, 4)) AS fi) f
        |WHERE fi*32 < length(text)""".stripMargin)),

    // Skew pattern — salted two-stage aggregation: a deterministic
    // salt widens the hot keys (events has a handful of event_types →
    // at 100 TB each type is one giant reducer) across 16 partial
    // groups, then the tiny partial table re-aggregates. DECIMAL sums
    // are associative, so the two-stage result is bit-equal to the
    // direct one the oracle computes.
    Graded("q44_salted_agg", (s, d) => {
      val partial = Tables.events(s, d)
        .withColumn("_salt", pmod(col("event_id"), lit(16)))
        .groupBy(col("event_type"), col("_salt"))
        .agg(sum(col("value").cast(DecimalType(18, 2))).as("_s"),
          count(lit(1)).as("_n"))
      partial.groupBy(col("event_type"))
        .agg(sum(col("_s")).cast("double").as("total_value"),
          sum(col("_n")).as("n_events"))
    },
      Some("""SELECT event_type,
        | CAST(sum(TRY_CAST(nullif(value, 'nan'::DOUBLE) AS DECIMAL(18,2))) AS DOUBLE) AS total_value,
        | count(*) AS n_events
        |FROM events GROUP BY 1""".stripMargin))
  )
}
