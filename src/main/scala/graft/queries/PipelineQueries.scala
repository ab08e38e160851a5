package graft.queries

import graft.{Graded, Tables}
import graft.ops.{LayoutOps, RelationalOps, SampleOps, TemporalOps}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** q63–q76: the training-data pipeline tier around the corpus ops —
  * reproducible splits and samples, batch-packing histograms and
  * sequence packing, corpus profiling and quality binning, scan-layout
  * control, the skew-safe join, SCD2 dimension history, schema
  * evolution, the typed-Aggregator top-k, raw binary-file round trips,
  * full-outer comparisons, and moment-derived statistics. These are
  * the operators a 100-TB pretraining pipeline runs between "dedup the
  * corpus" (q24–q37) and "train": every one is deterministic (re-runs
  * give byte-identical outputs) and every decision is recomputable by
  * the DuckDB oracle in plain SQL.
  */
object PipelineQueries {
  val graded: Seq[Graded] = Seq(
    // Deterministic train/val/test split (80/10/10) keyed on doc_id.
    // Pure codegen'd projection — no shuffle, no rand(): the split is
    // a function of the id, so retries/backfills can never leak a
    // training doc into eval. The oracle recomputes the multiplicative
    // hash in SQL — the assignment itself is graded, not trusted.
    Graded("q63_hash_split", (s, d) =>
      SampleOps.hashSplit(
          Tables.documents(s, d).select(col("doc_id"), col("lang")),
          "doc_id", "split",
          Seq("train" -> 80, "val" -> 10, "test" -> 10))
        .select(col("doc_id"), col("lang"), col("split")),
      Some(s"""SELECT doc_id, lang,
         | -- NULL-key branch: the engine's hashSplit deliberately
         | -- yields a NULL split for a NULL key (no hash, no
         | -- deterministic assignment — SampleOps.bucket doc); a bare
         | -- ELSE 'test' would silently disagree on that row (r14
         | -- review). Fixture doc_ids are non-null; this pins parity
         | -- for inputs that aren't.
         | CASE WHEN doc_id IS NULL THEN NULL
         |      WHEN ${SampleOps.bucketSql("doc_id")} < 80 THEN 'train'
         |      WHEN ${SampleOps.bucketSql("doc_id")} < 90 THEN 'val'
         |      ELSE 'test' END AS split
         |FROM documents""".stripMargin)),

    // Sequence-length bucketing for training batch packing: docs
    // grouped by floor(log2(token_count)) — the power-of-two length
    // buckets a packer pads within. Integer-exact bucket math (binary
    // digit count, not float log2) so the histogram is engine-portable.
    // One partial-agg shuffle over ~16 groups.
    Graded("q64_length_buckets", (s, d) =>
      Tables.documents(s, d)
        .select(size(split(col("text"), " ")).cast("long").as("_n"))
        .select((length(bin(col("_n"))) - 1).as("len_bucket"), col("_n"))
        .groupBy(col("len_bucket"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("_n")).as("sum_tokens"),
          min(col("_n")).as("min_tokens"),
          max(col("_n")).as("max_tokens")),
      Some("""WITH t AS (SELECT CAST(len(string_split(text, ' ')) AS BIGINT) AS n
        |           FROM documents)
        |SELECT CAST(len(bin(n)) - 1 AS INT) AS len_bucket,
        |       count(*) AS n_docs, CAST(sum(n) AS BIGINT) AS sum_tokens,
        |       min(n) AS min_tokens, max(n) AS max_tokens
        |FROM t GROUP BY 1""".stripMargin)),

    // Deterministic stratified sampling — the corpus-rebalance step:
    // keep 30% of English, 10% of every other language, decided by the
    // same portable hash as q63. A pure filter (zero shuffles); the
    // oracle re-derives the exact kept set.
    Graded("q65_stratified_sample", (s, d) =>
      SampleOps.stratifiedSample(
          Tables.documents(s, d).select(col("doc_id"), col("lang")),
          "doc_id", "lang", Map("en" -> 30), defaultPct = 10),
      Some(s"""SELECT doc_id, lang FROM documents
         |WHERE ${SampleOps.bucketSql("doc_id")} <
         |      CASE WHEN lang = 'en' THEN 30 ELSE 10 END""".stripMargin)),

    // Corpus profiling: per-column null count / exact distinct count /
    // min / max — the "what did this drop actually contain" gate
    // before any training run. Plan shape: one two-phase HASH
    // aggregation per column, unioned (profileColumns' doc has the
    // measurement: the tempting single-pass multi-count(DISTINCT)
    // form plans as an Expand into a SORT aggregate, 7× slower; on a
    // columnar source the per-column passes read the same bytes).
    Graded("q66_profile", (s, d) =>
      RelationalOps.profileColumns(
        Tables.orders(s, d).select(col("o_orderkey"), col("o_custkey"),
          col("o_orderstatus"), col("o_orderdate").cast("date").as("o_orderdate")),
        Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_orderdate")),
      Some("""WITH o AS (SELECT o_orderkey, o_custkey, o_orderstatus,
        |                  CAST(o_orderdate AS DATE) AS o_orderdate FROM orders)
        |SELECT 'o_orderkey' AS col_name,
        |  count(*) - count(o_orderkey) AS n_null,
        |  count(DISTINCT o_orderkey) AS n_distinct,
        |  CAST(min(o_orderkey) AS VARCHAR) AS min_val,
        |  CAST(max(o_orderkey) AS VARCHAR) AS max_val FROM o
        |UNION ALL
        |SELECT 'o_custkey', count(*) - count(o_custkey),
        |  count(DISTINCT o_custkey),
        |  CAST(min(o_custkey) AS VARCHAR), CAST(max(o_custkey) AS VARCHAR) FROM o
        |UNION ALL
        |SELECT 'o_orderstatus', count(*) - count(o_orderstatus),
        |  count(DISTINCT o_orderstatus),
        |  CAST(min(o_orderstatus) AS VARCHAR), CAST(max(o_orderstatus) AS VARCHAR) FROM o
        |UNION ALL
        |SELECT 'o_orderdate', count(*) - count(o_orderdate),
        |  count(DISTINCT o_orderdate),
        |  CAST(min(o_orderdate) AS VARCHAR), CAST(max(o_orderdate) AS VARCHAR) FROM o""".stripMargin)),

    // Range-partitioned sorted layout: write the fact repartitioned BY
    // RANGE on ship date and sorted within partitions, so every
    // parquet row group covers a narrow date band and a date-bounded
    // read-back prunes at the row-group level (min/max stats) — the
    // layout that makes the nightly incremental scan read ~1/365th of
    // a 100-TB table. The graded surface is the round trip: bounded
    // read-back over the sorted layout, aggregated per month.
    Graded("q67_sorted_layout", (s, d) => {
      val sink = graft.Scratch.app(s, "q67")
      // r22: the range-write task count was a hard-coded 8 — at 100 TB
      // that caps the whole layout rewrite at 8 writers. Scale it from
      // scan metadata with 8 as the floor: at fixture scale the
      // estimate is 1 so the count (and the committed bench line)
      // stays exactly 8; at scale it tracks the scan's own task count
      // (≈ bytes / maxPartitionBytes → files in the §6 size band).
      val src = Tables.lineitem(s, d)
        .select(col("l_shipdate"), col("l_quantity"), col("l_extendedprice"),
          col("l_discount"))
      src
        .repartitionByRange(RelationalOps.scanScaledPartitions(src, 8),
          col("l_shipdate"))
        .sortWithinPartitions(col("l_shipdate"))
        .write.mode("overwrite").parquet(sink)
      s.read.parquet(sink)
        .filter(col("l_shipdate") >= to_date(lit("1995-01-01")) &&
          col("l_shipdate") < to_date(lit("1996-01-01")))
        .groupBy(date_format(col("l_shipdate"), "yyyy-MM").as("ship_month"))
        .agg(count(lit(1)).as("n"),
          sum((col("l_extendedprice") * (lit(1) - col("l_discount")))
            .cast("decimal(18,4)")).cast("double").as("revenue"))
    },
      Some("""SELECT strftime(l_shipdate, '%Y-%m') AS ship_month,
        | count(*) AS n,
        | CAST(sum(TRY_CAST(nullif(l_extendedprice * (1 - l_discount), 'nan'::DOUBLE) AS DECIMAL(18,4))) AS DOUBLE) AS revenue
        |FROM lineitem
        |WHERE l_shipdate >= DATE '1995-01-01' AND l_shipdate < DATE '1996-01-01'
        |GROUP BY 1""".stripMargin)),

    // §2k — Z-ORDER (Morton) clustered layout: the MULTI-dimensional
    // sibling of q67. Bit-interleaving (custkey, day-ordinal) into one
    // sort key keeps row groups narrow in BOTH dimensions, so the
    // read-back's two-sided predicate prunes on parquet min/max stats
    // for either column — what a 1-D sort gives only its leading key.
    // Graded on the round trip (layout must never change results);
    // PlanSpec asserts both predicates reach the scan. At 100 TB this
    // is OPTIMIZE ZORDER done with a plain repartitionByRange+sort
    // write — no table format required.
    Graded("q92_zorder_layout", (s, d) => {
      val sink = graft.Scratch.app(s, "q92")
      val base = Tables.orders(s, d)
        .select(col("o_orderkey"), col("o_custkey"),
          col("o_orderdate").cast("date").as("day"), col("o_totalprice"))
      // zorderKey, not raw mortonCode: the raw interleave requires
      // inputs already in [0, 2^bits) — o_custkey outgrows 2^16 past
      // sf0.4 and a modular fold would alias the curve (every row
      // group's stats spanning the whole domain = zero pruning). The
      // range-scaled key is monotonic at any domain size.
      base
        .withColumn("_z", LayoutOps.zorderKey(base, col("o_custkey"),
          datediff(col("day"), to_date(lit("1992-01-01"))), 16))
        // r22: same scale-adaptive floor as q67 — 8 stays 8 locally,
        // a production rewrite gets one writer per ~scan split
        .repartitionByRange(RelationalOps.scanScaledPartitions(base, 8),
          col("_z"))
        .sortWithinPartitions(col("_z"))
        .drop("_z")
        .write.mode("overwrite").parquet(sink)
      s.read.parquet(sink)
        .filter(col("o_custkey") >= 100 && col("o_custkey") < 300 &&
          col("day") >= to_date(lit("1995-01-01")) &&
          col("day") < to_date(lit("1995-07-01")))
        .select(col("o_orderkey"), col("o_custkey"), col("day"),
          col("o_totalprice").cast("double").as("total"))
    },
      Some("""SELECT o_orderkey, o_custkey, CAST(o_orderdate AS DATE) AS day,
        | CAST(o_totalprice AS DOUBLE) AS total
        |FROM orders
        |WHERE o_custkey >= 100 AND o_custkey < 300
        |  AND CAST(o_orderdate AS DATE) >= DATE '1995-01-01'
        |  AND CAST(o_orderdate AS DATE) <  DATE '1995-07-01'""".stripMargin)),

    // Skew-safe salted join (the join-side twin of q44's salted agg):
    // fact rows salted across 8 shuffle partitions per key, dim
    // replicated ×8 — a hot supplier key can no longer melt one task.
    // Result is provably the plain join; the oracle IS the plain join.
    Graded("q68_salted_join", (s, d) =>
      RelationalOps.saltedJoin(
          Tables.lineitem(s, d)
            .select(col("l_suppkey").as("s_suppkey"),
              (col("l_extendedprice") * (lit(1) - col("l_discount"))).as("_rev")),
          Tables.supplier(s, d).select(col("s_suppkey"), col("s_nationkey")),
          "s_suppkey", salts = 8)
        .groupBy(col("s_nationkey"))
        .agg(count(lit(1)).as("n"),
          sum(col("_rev").cast("decimal(18,4)")).cast("double").as("revenue")),
      Some("""SELECT s_nationkey, count(*) AS n,
        | CAST(sum(TRY_CAST(nullif(l_extendedprice * (1 - l_discount), 'nan'::DOUBLE) AS DECIMAL(18,4))) AS DOUBLE) AS revenue
        |FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
        |GROUP BY 1""".stripMargin)),

    // SCD-type-2 change history (gaps-and-islands): per-user validity
    // intervals of the event_type sequence — the dimension-history
    // operator that the latest-wins upsert (U1/q12) deliberately
    // discards, and the natural build side for point-in-time (as-of)
    // joins. ONE shuffle end to end: the lag window, run-id sum, run
    // collapse, and valid_to lead all reuse the same user_id exchange
    // (PlanSpec-asserted).
    Graded("q69_scd2_history", (s, d) =>
      TemporalOps.changeHistory(
        Tables.events(s, d).select(col("user_id"), col("ts"),
          col("event_id"), col("event_type")),
        "user_id", "ts", "event_type", "event_id"),
      // event_type as the last window tiebreak + grp in wo: mirrors
      // changeHistory's total order (r16 dupfacts probe — two
      // revisions of one event share (ts, event_id), and two runs can
      // share a valid_from, so both windows need the full tiebreak)
      Some("""WITH m AS (
        |  SELECT user_id, ts, event_id, event_type,
        |    CASE WHEN row_number() OVER w = 1
        |           OR event_type IS DISTINCT FROM lag(event_type) OVER w
        |         THEN 1 ELSE 0 END AS chg
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id, event_type)),
        | g AS (
        |  SELECT *, sum(chg) OVER (PARTITION BY user_id
        |                           ORDER BY ts, event_id, event_type
        |                           ROWS UNBOUNDED PRECEDING) AS grp
        |  FROM m),
        | runs AS (
        |  SELECT user_id, grp, min(event_type) AS status, min(ts) AS valid_from
        |  FROM g GROUP BY user_id, grp)
        |SELECT user_id, status, valid_from,
        |  lead(valid_from) OVER wo AS valid_to,
        |  lead(valid_from) OVER wo IS NULL AS is_current
        |FROM runs
        |WINDOW wo AS (PARTITION BY user_id ORDER BY valid_from, grp)""".stripMargin)),

    // Schema evolution: two generations of the same dataset — an old
    // drop missing a column that a later drop added — read back as ONE
    // table via parquet schema merge, old rows null-padded. At 100 TB
    // a corpus is always multi-generation; requiring a rewrite of old
    // drops on every schema change would be a full-corpus copy. The
    // mergeSchema read is the declarative alternative; partition
    // discovery (gen=N directories) doubles as the generation tag.
    Graded("q70_schema_evolution", (s, d) => {
      val sink = graft.Scratch.app(s, "q70")
      val sup = Tables.supplier(s, d)
      sup.select(col("s_suppkey"), col("s_name"))
        .write.mode("overwrite").parquet(s"$sink/gen=1")
      sup.select(col("s_suppkey"), col("s_name"), col("s_nationkey"))
        .write.mode("overwrite").parquet(s"$sink/gen=2")
      s.read.option("mergeSchema", "true").parquet(sink)
        .select(col("s_suppkey"), col("s_name"), col("s_nationkey"),
          col("gen").cast("int").as("gen"))
    },
      Some("""SELECT s_suppkey, s_name, CAST(NULL AS BIGINT) AS s_nationkey, 1 AS gen
        |FROM supplier
        |UNION ALL
        |SELECT s_suppkey, s_name, s_nationkey, 2 AS gen FROM supplier""".stripMargin)),

    // Typed-Aggregator top-k (the UDAF surface): q23's exact semantics
    // through a custom bounded-heap Aggregator instead of the window —
    // partial aggregation ships ≤k rows per group per mapper and no
    // full-partition sort happens anywhere. Graded against the SAME
    // oracle as q23, so the custom aggregate's correctness (ordering,
    // merge associativity, tie-breaks) is hash-certified.
    Graded("q71_topk_udaf", (s, d) => {
      import s.implicits._
      import org.apache.spark.sql.types.DecimalType
      val price = col("l_extendedprice").cast(DecimalType(18, 2))
      val disc = col("l_discount").cast(DecimalType(18, 2))
      // Sums stay DECIMAL (order-independent exactness); the cast to
      // double happens ONCE on the finished per-group sum, where it is
      // lossless (scale-4 values < 2^53/10^4 — TopKAggregator's
      // ranking contract) and is the same cast the output column needs
      // anyway. The typed pipeline then carries only primitive
      // (Long, Long, Double) rows — no per-row BigDecimal codec.
      // A group whose every product is NULL sums to NULL (SQL sum
      // skips nulls; all-null ⇒ NULL) — the primitive (Long,Long,
      // Double) encoder then threw NOT_NULL_ASSERT_VIOLATION on the
      // whole job (r13 edge sweep). The typed pipeline keeps its
      // no-boxing fast path by carrying NULL as −∞ — unreachable for
      // real revenues (a finite decimal sum can't be infinite), and
      // under value-DESC ranking −∞ sorts after every real value,
      // which is exactly the oracle's NULLS-LAST window order — and
      // restores NULL on the output column.
      val NullRev = Double.NegativeInfinity
      // NULL-key carriage through the primitive typed pipeline (r15
      // NULL-key probe — a primitive tuple NOT_NULL-asserts and one
      // NULL-keyed row kills the job):
      //   - a NULL l_partkey is a TIEBREAK, carried as Long.MaxValue —
      //     under value-DESC-then-tiebreak-ASC it sorts after every
      //     real part id, which is the oracle's NULLS LAST, and it is
      //     restored to NULL on output (a real partkey of 2^63−1 is
      //     outside any practical id space; same contract class as
      //     NullRev above);
      //   - a NULL l_suppkey is the GROUP key itself: its partition is
      //     ranked relationally below (one window over just the
      //     NULL-key partition — a vanishing slice at any scale) and
      //     unioned in, exactly the oracle's NULL partition.
      val NullPart = Long.MaxValue
      // r22 (guide §2.4, q23's twin): hashpartitioning(l_suppkey)
      // satisfies the (suppkey, partkey) aggregation's clustering
      // (subset rule), removing the agg's own exchange; the typed
      // groupByKey hop downstream keeps its exchange (its key is a
      // generated column EnsureRequirements can't match), but it
      // ships ≤k·groups rows either way. Interleaved A/B
      // (OPTIMIZATION_r22.md, 7 reps): min 1.382 → 1.059 s, med
      // 1.879 → 1.304 s; rows bit-identical. Same skew/bytes analysis
      // as q23.
      val rev0 = Tables.lineitem(s, d)
        .repartition(col("l_suppkey"))
        .groupBy(col("l_suppkey"), col("l_partkey"))
        .agg(sum((price * (lit(1).cast(DecimalType(18, 2)) - disc))
          .cast(DecimalType(18, 4))).as("_rev"))
      val rev = rev0.filter(col("l_suppkey").isNotNull)
        .select(col("l_suppkey").as("_1"),
          coalesce(col("l_partkey"), lit(NullPart)).as("_2"),
          coalesce(col("_rev").cast("double"), lit(NullRev)).as("_3"))
        .as[(Long, Long, Double)]
      val top3 = new graft.ops.TopKAggregator.TopK(3)
      val typedTop = rev.groupByKey(_._1)
        .mapValues(r => (r._3, r._2))
        .agg(top3.toColumn)
        .flatMap { case (supp, entries) =>
          entries.zipWithIndex.map { case ((v, part), i) =>
            (supp, part, v, (i + 1).toLong)
          }
        }
        .toDF("l_suppkey", "l_partkey", "revenue", "rk")
        .withColumn("l_partkey",
          when(col("l_partkey") === NullPart, lit(null)).otherwise(col("l_partkey")))
        .withColumn("revenue",
          when(col("revenue") === NullRev, lit(null)).otherwise(col("revenue")))
      val wNull = org.apache.spark.sql.expressions.Window
        .partitionBy(col("l_suppkey"))
        .orderBy(coalesce(col("_rev").cast("double"), lit(NullRev)).desc,
          col("l_partkey").asc_nulls_last)
      val nullTop = rev0.filter(col("l_suppkey").isNull)
        .withColumn("rk", row_number().over(wNull).cast("long"))
        .filter(col("rk") <= 3)
        .select(col("l_suppkey"), col("l_partkey"),
          col("_rev").cast("double").as("revenue"), col("rk"))
      typedTop.unionByName(nullTop)
    },
      // q71 shares q23's oracle — the custom Aggregator must reproduce
      // the window formulation bit for bit
      Some("""WITH rev AS (
        |  SELECT l_suppkey, l_partkey,
        |         sum(TRY_CAST(nullif(l_extendedprice, 'nan'::DOUBLE) AS DECIMAL(18,2)) *
        |             (CAST(1 AS DECIMAL(18,2)) - TRY_CAST(nullif(l_discount, 'nan'::DOUBLE) AS DECIMAL(18,2)))) AS r
        |  FROM lineitem GROUP BY 1, 2),
        | rk AS (SELECT *, row_number() OVER (PARTITION BY l_suppkey ORDER BY r DESC, l_partkey) AS rk FROM rev)
        |SELECT l_suppkey, l_partkey, CAST(r AS DOUBLE) AS revenue, CAST(rk AS BIGINT) AS rk
        |FROM rk WHERE rk <= 3""".stripMargin)),

    // Raw binary FILES round trip — the ingest shape a real multimodal
    // corpus actually has (a directory of image/audio files, not
    // parquet-embedded blobs): per-record executor-parallel file
    // export, then Spark's built-in `binaryFile` source reads the
    // directory back as (path, length, content) rows. The oracle reads
    // the SAME files through DuckDB's read_blob — both engines hash
    // the identical on-disk artifact, so the round trip itself is what
    // gets graded. Deterministic non-app-scoped dir: contents are a
    // pure function of the (fixed-size) nation table, so concurrent or
    // repeated runs converge on identical bytes.
    Graded("q72_binary_files", (s, d) => {
      val dir = graft.Scratch.shared("q72_files")
      // a NULL nation key renders a NULL file name, which the export
      // rejects LOUDLY by contract (unsafe-name require) — and a file
      // must have a name, so a NULL-keyed row is quarantine-tier
      // input, filtered before the export (r15 NULL-key probe). The
      // oracle reads the exported files themselves, so it follows.
      graft.ops.MultimodalOps.writeBinaryFiles(
        Tables.nation(s, d).filter(col("n_nationkey").isNotNull).select(
          concat(lit("nation_"), col("n_nationkey"), lit(".bin")).as("fname"),
          encode(col("n_name"), "UTF-8").as("payload")),
        "fname", "payload", dir)
      s.read.format("binaryFile").option("pathGlobFilter", "*.bin").load(dir)
        .select(element_at(split(col("path"), "/"), -1).as("file_name"),
          col("length").as("n_bytes"),
          decode(col("content"), "UTF-8").as("text"))
    },
      Some(s"""SELECT regexp_extract(filename, '[^/]+$$') AS file_name,
         | CAST(size AS BIGINT) AS n_bytes,
         | decode(content) AS text
         |FROM read_blob('${graft.Scratch.shared("q72_files")}/*.bin')""".stripMargin)),

    // FULL OUTER join — the year-over-year comparison that must keep
    // BOTH unmatched sides (customers active only in 1995 AND only in
    // 1996), the join type q59's set ops deliberately discard detail
    // from. Spark plans full-outer as one sort-merge join on the key;
    // coalesce over the two key columns restores a total key.
    Graded("q73_full_outer", (s, d) => {
      def yearly(y: Int) = Tables.orders(s, d)
        .filter(col("o_orderdate") >= to_timestamp(lit(f"$y%d-01-01 00:00:00")) &&
          col("o_orderdate") < to_timestamp(lit(f"${y + 1}%d-01-01 00:00:00")))
        .groupBy(col("o_custkey"))
        .agg(count(lit(1)).as(s"n_$y"),
          sum(col("o_totalprice").cast("decimal(18,2)")).cast("double")
            .as(s"amt_$y"))
      yearly(1995).withColumnRenamed("o_custkey", "k95")
        .join(yearly(1996).withColumnRenamed("o_custkey", "k96"),
          col("k95") === col("k96"), "full_outer")
        .select(coalesce(col("k95"), col("k96")).as("o_custkey"),
          coalesce(col("n_1995"), lit(0L)).as("n_1995"),
          coalesce(col("amt_1995"), lit(0.0)).as("amt_1995"),
          coalesce(col("n_1996"), lit(0L)).as("n_1996"),
          coalesce(col("amt_1996"), lit(0.0)).as("amt_1996"))
    },
      Some("""WITH y95 AS (
        |  SELECT o_custkey, count(*) AS n_1995,
        |         CAST(sum(TRY_CAST(nullif(o_totalprice, 'nan'::DOUBLE) AS DECIMAL(18,2))) AS DOUBLE) AS amt_1995
        |  FROM orders
        |  WHERE o_orderdate >= TIMESTAMP '1995-01-01 00:00:00'
        |    AND o_orderdate <  TIMESTAMP '1996-01-01 00:00:00' GROUP BY 1),
        | y96 AS (
        |  SELECT o_custkey, count(*) AS n_1996,
        |         CAST(sum(TRY_CAST(nullif(o_totalprice, 'nan'::DOUBLE) AS DECIMAL(18,2))) AS DOUBLE) AS amt_1996
        |  FROM orders
        |  WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        |    AND o_orderdate <  TIMESTAMP '1997-01-01 00:00:00' GROUP BY 1)
        |SELECT coalesce(y95.o_custkey, y96.o_custkey) AS o_custkey,
        |  coalesce(n_1995, 0) AS n_1995, coalesce(amt_1995, 0.0) AS amt_1995,
        |  coalesce(n_1996, 0) AS n_1996, coalesce(amt_1996, 0.0) AS amt_1996
        |FROM y95 FULL OUTER JOIN y96 ON y95.o_custkey = y96.o_custkey""".stripMargin)),

    // Moment statistics — avg / stddev / correlation per group, every
    // value DERIVED from exact decimal moment sums with the explicit
    // closed-form formulas (sqrt((Σx² − (Σx)²/n)/(n−1)) etc.) instead
    // of the engines' stddev/corr aggregates. Two reasons: (a) native
    // float aggregates accumulate in summation order, so their last
    // bits differ across engines AND across partition counts — not
    // hash-gradable, not reproducible; (b) moment sums are one
    // map-side-combinable pass at any scale, and the arithmetic after
    // the agg is a handful of scalar ops. Exactness discipline: all
    // moments are DECIMAL sums (order-independent), divisions happen
    // once, at the end, in double.
    Graded("q74_moment_stats", (s, d) => {
      val q = col("l_quantity").cast("decimal(18,2)")
      val p = col("l_extendedprice").cast("decimal(18,2)")
      val m = Tables.lineitem(s, d).groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n"),
          sum(q).as("_sq"), sum(p).as("_sp"),
          sum((q * q).cast("decimal(28,4)")).as("_sqq"),
          sum((p * p).cast("decimal(28,4)")).as("_spp"),
          sum((q * p).cast("decimal(28,4)")).as("_sqp"))
      val n = col("n").cast("double")
      val (sq, sp, sqq, spp, sqp) = (col("_sq").cast("double"),
        col("_sp").cast("double"), col("_sqq").cast("double"),
        col("_spp").cast("double"), col("_sqp").cast("double"))
      // the OUTER divisions ride try_divide: a singleton group makes
      // sd's divisor n−1 zero and a constant-valued group makes corr's
      // variance-product denominator zero — under Spark 4's ANSI
      // default both throw DIVIDE_BY_ZERO (double included) where
      // DuckDB yields NULL, so the ANSI throw is an engine-vs-oracle
      // DIVERGENCE, found by the r13 edge sweep. try_divide → NULL
      // matches the oracle on degenerate groups and is a no-op
      // elsewhere. sq/n keeps the plain form: a group has ≥1 row by
      // construction, n is never 0.
      m.select(col("l_returnflag"), col("n"),
        round(sq / n, 6).as("avg_qty"),
        round(sqrt(try_divide(sqq - sq * sq / n, n - lit(1.0))), 6)
          .as("sd_qty"),
        round(try_divide(sqp - sq * sp / n,
          sqrt(sqq - sq * sq / n) * sqrt(spp - sp * sp / n)), 6)
          .as("corr_qty_price"))
    },
      // the LEFT operand of each product is widened to DECIMAL(19,2):
      // DuckDB multiplies DECIMAL(18)s in their int64 word and overflows
      // at |v| > ~9.2e18 cents-squared (values near the DECIMAL(18,2)
      // domain edge — r13 extremes sweep), while one 19-digit operand
      // promotes the multiply to int128 and the result type becomes
      // DECIMAL(37,4) — exactly Spark's 18,2 × 18,2 product type, so the
      // moment sums stay bit-identical to the engine's
      Some("""WITH m AS (
        |  SELECT l_returnflag, count(*) AS n,
        |    sum(TRY_CAST(nullif(l_quantity, 'nan'::DOUBLE) AS DECIMAL(18,2))) AS sq,
        |    sum(TRY_CAST(nullif(l_extendedprice, 'nan'::DOUBLE) AS DECIMAL(18,2))) AS sp,
        |    sum(CAST(TRY_CAST(nullif(l_quantity, 'nan'::DOUBLE) AS DECIMAL(19,2)) * TRY_CAST(nullif(l_quantity, 'nan'::DOUBLE) AS DECIMAL(18,2)) AS DECIMAL(28,4))) AS sqq,
        |    sum(CAST(TRY_CAST(nullif(l_extendedprice, 'nan'::DOUBLE) AS DECIMAL(19,2)) * TRY_CAST(nullif(l_extendedprice, 'nan'::DOUBLE) AS DECIMAL(18,2)) AS DECIMAL(28,4))) AS spp,
        |    sum(CAST(TRY_CAST(nullif(l_quantity, 'nan'::DOUBLE) AS DECIMAL(19,2)) * TRY_CAST(nullif(l_extendedprice, 'nan'::DOUBLE) AS DECIMAL(18,2)) AS DECIMAL(28,4))) AS sqp
        |  FROM lineitem GROUP BY 1)
        |SELECT l_returnflag, n,
        |  round(CAST(sq AS DOUBLE) / CAST(n AS DOUBLE), 6) AS avg_qty,
        |  round(sqrt((CAST(sqq AS DOUBLE) - CAST(sq AS DOUBLE)*CAST(sq AS DOUBLE)/CAST(n AS DOUBLE)) / (CAST(n AS DOUBLE) - 1.0)), 6) AS sd_qty,
        |  round((CAST(sqp AS DOUBLE) - CAST(sq AS DOUBLE)*CAST(sp AS DOUBLE)/CAST(n AS DOUBLE)) /
        |        (sqrt(CAST(sqq AS DOUBLE) - CAST(sq AS DOUBLE)*CAST(sq AS DOUBLE)/CAST(n AS DOUBLE)) *
        |         sqrt(CAST(spp AS DOUBLE) - CAST(sp AS DOUBLE)*CAST(sp AS DOUBLE)/CAST(n AS DOUBLE))), 6) AS corr_qty_price
        |FROM m""".stripMargin)),

    // Deterministic sequence packing — assign docs to fixed-budget
    // training sequences (4096 tokens) WITHOUT cross-partition greedy
    // state: within each power-of-two length bucket (q64), docs pack
    // in doc_id order by running-token-count division. The window
    // partitions by bucket, so packing parallelizes across buckets
    // (at 100 TB you additionally salt each bucket into id sub-ranges
    // — same math, narrower windows). A doc longer than the budget
    // gets its own pack (the floor division does this naturally).
    // First-fit greedy packs ~few % tighter but is order- and
    // partitioning-dependent — not reproducible, so not shippable for
    // training-set builds.
    Graded("q75_sequence_packing", (s, d) => {
      val budget = 4096L
      // asc_nulls_last mirrors DuckDB's default (r18 review pass 14):
      // a NULL doc_id at the head of the cum chain (Spark's bare-ASC
      // default) would shift every pack boundary in its bucket
      val w = Window.partitionBy(col("len_bucket"))
        .orderBy(col("doc_id").asc_nulls_last)
      Tables.documents(s, d)
        .select(col("doc_id"),
          size(split(col("text"), " ")).cast("long").as("n_tokens"))
        .withColumn("len_bucket", length(bin(col("n_tokens"))) - 1)
        .withColumn("_cum", sum(col("n_tokens"))
          .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .select(col("doc_id"), col("n_tokens"), col("len_bucket"),
          // explicit floor: Column./ is double division, and a bare
          // cast would TRUNCATE in Spark but ROUND in DuckDB
          floor((col("_cum") - col("n_tokens")) / budget).cast("long")
            .as("pack_id"))
    },
      Some("""WITH t AS (
        |  SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
        |  FROM documents),
        | b AS (SELECT *, CAST(len(bin(n_tokens)) - 1 AS INT) AS len_bucket FROM t),
        | c AS (SELECT *, sum(n_tokens) OVER (PARTITION BY len_bucket ORDER BY doc_id
        |                                     ROWS UNBOUNDED PRECEDING) AS cum FROM b)
        |SELECT doc_id, n_tokens, len_bucket,
        |       CAST(floor((cum - n_tokens) / 4096.0) AS BIGINT) AS pack_id
        |FROM c""".stripMargin)),

    // Per-language quality deciles — the curriculum/filtering binning
    // step: ntile(10) over a deterministic quality ordering (doc
    // length with doc_id tiebreak) within each language. Windows
    // partition by language, so the sort parallelizes per stratum.
    Graded("q76_quality_deciles", (s, d) => {
      // explicit NULLS LAST: Spark's bare ASC sorts NULLs FIRST where
      // DuckDB's default is NULLS LAST — invisible until a NULL lands
      // in an ORDER column (the fixtures never null n_chars/doc_id;
      // the r15 NULL-key probe does, and ntile assigns the row a
      // different decile on each side)
      val w = Window.partitionBy(col("lang"))
        .orderBy(col("n_chars").asc_nulls_last, col("doc_id").asc_nulls_last)
      Tables.documents(s, d)
        .select(col("doc_id"), col("lang"), col("n_chars"))
        .withColumn("decile", ntile(10).over(w).cast("long"))
    },
      Some("""SELECT doc_id, lang, n_chars,
        |  CAST(ntile(10) OVER (PARTITION BY lang ORDER BY n_chars, doc_id) AS BIGINT) AS decile
        |FROM documents""".stripMargin))
  )
}
