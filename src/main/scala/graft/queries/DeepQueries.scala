package graft.queries

import graft.{Graded, Tables}
import graft.ops.RelationalOps
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** q78–q85 + q104: round-6 deepening — the retrieval/scoring and
  * pipeline-maintenance operators around the existing corpus tier:
  * BM25 ranked retrieval and the inverted index it probes,
  * event-funnel conversion, time-range (not row-count) trailing
  * windows, canonicalize-then-hash dedup, incremental mart
  * maintenance by partial-aggregate merge, hot-key diagnosis feeding
  * the salting ops, edit-distance near-dup verification, and in-row
  * HOF top-term analytics. Every query is deterministic and every
  * decision is recomputed independently by the DuckDB oracle.
  */
object DeepQueries {
  /** Shared tokenizer: lowercase, split on non-letter runs, drop the
    * boundary empties. Restricted to ASCII letters so the oracle's
    * regex engine (RE2) and Java's agree byte-for-byte.
    */
  private def tokens(text: org.apache.spark.sql.Column) =
    split(lower(text), "[^a-z]+")

  val graded: Seq[Graded] = Seq(
    // BM25 ranked retrieval (Robertson/Spärck Jones; k1=1.2, b=0.75)
    // over the English corpus for a fixed 3-term query. The corpus
    // statistics (df, N, avgdl) and the per-doc term frequencies all
    // derive from ONE materialized (doc, term, tf) relation
    // (Materialize.once — tokenize/explode runs once, not three
    // times; eager reliable checkpoint, r12);
    // df and the global scalars ride broadcast joins, so the only
    // at-scale shuffle is the tf build itself. IDF uses the standard
    // ln(1 + (N-df+0.5)/(df+0.5)) form — positive for any df, exactly
    // the formula the oracle restates. At 100 TB the tf relation is
    // the inverted-index build (q85) keyed by term; the query-time
    // probe touches only the query terms' postings — never the corpus.
    Graded("q78_bm25", (s, d) => {
      val qterms = Seq("spark", "hash", "window")
      val tf = graft.ops.Materialize.once("q78.tf",
        Tables.documents(s, d).filter(col("lang") === "en")
          .select(col("doc_id"), explode(tokens(col("text"))).as("term"))
          .filter(col("term") =!= "")
          .groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf")))
      val dl = tf.groupBy(col("doc_id")).agg(sum(col("tf")).as("dl"))
      // N and avgdl: exact — the token-count sum is integral and fits
      // a double (< 2^53), so avg is sum/count with no float drift
      val stats = dl.agg(count(lit(1)).as("n_docs"), avg(col("dl")).as("avgdl"))
      val dfreq = tf.filter(col("term").isin(qterms: _*))
        .groupBy(col("term")).agg(count(lit(1)).as("df"))
      tf.filter(col("term").isin(qterms: _*))
        .join(broadcast(dfreq), "term")
        .join(dl, "doc_id")
        .crossJoin(broadcast(stats))
        .withColumn("_idf",
          log(lit(1.0) + (col("n_docs") - col("df") + 0.5) / (col("df") + 0.5)))
        .withColumn("_s", col("_idf") * (col("tf") * 2.2) /
          (col("tf") + lit(1.2) * (lit(0.25) + lit(0.75) * col("dl") / col("avgdl"))))
        .groupBy(col("doc_id"))
        .agg(round(sum(col("_s")), 6).as("bm25"))
    },
      Some("""WITH toks AS (
        |  SELECT doc_id, unnest(string_split_regex(lower(text), '[^a-z]+')) AS term
        |  FROM documents WHERE lang = 'en'),
        | tf AS (SELECT doc_id, term, count(*) AS tf FROM toks
        |        WHERE term <> '' GROUP BY 1, 2),
        | dl AS (SELECT doc_id, sum(tf) AS dl FROM tf GROUP BY 1),
        | stats AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM dl),
        | dfreq AS (SELECT term, count(*) AS df FROM tf
        |           WHERE term IN ('spark', 'hash', 'window') GROUP BY 1)
        |SELECT tf.doc_id,
        |  round(sum(ln(1.0 + (n_docs - df + 0.5) / (df + 0.5)) * (tf * 2.2) /
        |            (tf + 1.2 * (0.25 + 0.75 * dl.dl / avgdl))), 6) AS bm25
        |FROM tf JOIN dfreq USING (term) JOIN dl USING (doc_id) CROSS JOIN stats
        |GROUP BY 1""".stripMargin)),

    // Event-funnel conversion (view → click → purchase, each stage
    // anchored at the user's FIRST qualifying event after the prior
    // stage). Three chained conditional-min windows share ONE user_id
    // exchange (same partition spec, no ordering — no sort either);
    // the per-user collapse then reuses that partitioning, so the
    // whole funnel is a single shuffle of the events scan. The oracle
    // formulates the same funnel as three joined GROUP BYs — an
    // independent derivation certifying the window chain.
    Graded("q79_funnel", (s, d) => {
      val w = Window.partitionBy(col("user_id"))
      Tables.events(s, d).select(col("user_id"), col("ts"), col("event_type"))
        .withColumn("v",
          min(when(col("event_type") === "view", col("ts"))).over(w))
        .withColumn("c",
          min(when(col("event_type") === "click" && col("ts") >= col("v"),
            col("ts"))).over(w))
        .withColumn("p",
          min(when(col("event_type") === "purchase" && col("ts") >= col("c"),
            col("ts"))).over(w))
        .groupBy(col("user_id"))
        .agg(min(col("v")).as("_v"), min(col("c")).as("_c"), min(col("p")).as("_p"))
        .agg(count(col("_v")).as("n_viewed"),
          count(col("_c")).as("n_clicked"),
          count(col("_p")).as("n_purchased"))
    },
      Some("""WITH v AS (SELECT user_id, min(ts) AS v FROM events
        |           WHERE event_type = 'view' GROUP BY 1),
        | c AS (SELECT e.user_id, min(e.ts) AS c FROM events e
        |       JOIN v ON e.user_id = v.user_id
        |       WHERE e.event_type = 'click' AND e.ts >= v.v GROUP BY 1),
        | p AS (SELECT e.user_id, min(e.ts) AS p FROM events e
        |       JOIN c ON e.user_id = c.user_id
        |       WHERE e.event_type = 'purchase' AND e.ts >= c.c GROUP BY 1)
        |-- count(col) not count(*): a user whose every 'view' ts is
        |-- NULL groups here with v = min(ts) = NULL — they never
        |-- entered the funnel at any known instant, and the engine's
        |-- window-min chain (count of non-null _v) agrees; count(*)
        |-- counted the group anyway (r18 nulltime probe)
        |SELECT (SELECT count(v) FROM v) AS n_viewed,
        |       (SELECT count(c) FROM c) AS n_clicked,
        |       (SELECT count(p) FROM p) AS n_purchased""".stripMargin)),

    // Time-RANGE trailing window: 7-day trailing spend per customer —
    // a range frame over the calendar, not a row-count frame (q22's
    // running total), so gaps in the date sequence change the answer.
    // Pre-aggregating to one row per (customer, day) BEFORE the window
    // is the load-bearing scale choice: the range frame then scans
    // days, not raw orders. Sums stay DECIMAL through frame evaluation
    // (order-independent); the double cast happens once on output. The
    // oracle drives the frame with RANGE BETWEEN INTERVAL — a
    // different frame mechanism (calendar intervals vs day ordinals)
    // certifying the same semantics.
    Graded("q80_trailing_window", (s, d) => {
      val daily = Tables.orders(s, d)
        .groupBy(col("o_custkey"), col("o_orderdate").cast("date").as("day"))
        .agg(sum(col("o_totalprice").cast("decimal(18,2)")).as("_amt"))
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(datediff(col("day"), to_date(lit("1990-01-01"))))
        .rangeBetween(-6, 0)
      daily.select(col("o_custkey"), col("day"),
        col("_amt").cast("double").as("day_amt"),
        sum(col("_amt")).over(w).cast("double").as("amt_7d"))
    },
      Some("""WITH daily AS (
        |  SELECT o_custkey, CAST(o_orderdate AS DATE) AS day,
        |         sum(TRY_CAST(nullif(o_totalprice, 'nan'::DOUBLE) AS DECIMAL(18,2))) AS amt
        |  FROM orders GROUP BY 1, 2)
        |SELECT o_custkey, day, CAST(amt AS DOUBLE) AS day_amt,
        |  CAST(sum(amt) OVER (PARTITION BY o_custkey ORDER BY day
        |       RANGE BETWEEN INTERVAL 6 DAY PRECEDING AND CURRENT ROW)
        |       AS DOUBLE) AS amt_7d
        |FROM daily""".stripMargin)),

    // Canonicalize-then-hash dedup: lowercase, strip every non-
    // alphanumeric run to a single space, trim, md5 — the
    // normalization pass that catches punctuation/casing/whitespace
    // variants exact dedup (q24) misses. Per-doc verdicts (keeper id,
    // clone count) come from one window over the 16-byte fingerprint —
    // the shuffle moves hashes, never document text. The md5 hex
    // string is graded too: both engines must canonicalize to the
    // identical byte sequence.
    Graded("q81_canonical_dedup", (s, d) => {
      val fp = md5(trim(regexp_replace(lower(col("text")), "[^a-z0-9]+", " ")))
      val w = Window.partitionBy(col("fp"))
      Tables.documents(s, d)
        .select(col("doc_id"), fp.as("fp"))
        .select(col("doc_id"), col("fp"),
          min(col("doc_id")).over(w).as("keep_id"),
          count(lit(1)).over(w).as("n_same"))
    },
      Some("""WITH c AS (SELECT doc_id,
        |    md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))) AS fp
        |  FROM documents)
        |SELECT doc_id, fp, min(doc_id) OVER (PARTITION BY fp) AS keep_id,
        |       count(*) OVER (PARTITION BY fp) AS n_same
        |FROM c""".stripMargin)),

    // Incremental mart maintenance: merge a bounded delta's PARTIAL
    // aggregates into the standing mart by re-aggregating the union of
    // partials — sum-of-sums / sum-of-counts, the mergeability that
    // makes nightly maintenance O(delta), never a history rescan (at
    // 100 TB the mart is a stored table; here it is rebuilt from the
    // pushed-down date slice so the oracle can recompute everything
    // from base data). The oracle aggregates the full window in one
    // pass — merged partials must be indistinguishable from a cold
    // recompute, which is exactly the associativity contract.
    Graded("q82_incremental_agg", (s, d) => {
      def slice(lo: Option[String], hi: String) = {
        val base = Tables.orders(s, d)
          .filter(col("o_orderdate") < to_timestamp(lit(hi)))
        lo.fold(base)(l => base.filter(col("o_orderdate") >= to_timestamp(lit(l))))
          .groupBy(col("o_custkey"))
          .agg(count(lit(1)).as("n"),
            sum(col("o_totalprice").cast("decimal(18,2)")).as("amt"))
      }
      val mart = slice(None, "1996-01-01 00:00:00")
      val delta = slice(Some("1996-01-01 00:00:00"), "1996-01-08 00:00:00")
      mart.unionByName(delta)
        .groupBy(col("o_custkey"))
        .agg(sum(col("n")).as("n"),
          sum(col("amt")).cast("double").as("amt"))
    },
      Some("""SELECT o_custkey, count(*) AS n,
        |  CAST(sum(TRY_CAST(nullif(o_totalprice, 'nan'::DOUBLE) AS DECIMAL(18,2))) AS DOUBLE) AS amt
        |FROM orders WHERE o_orderdate < TIMESTAMP '1996-01-08 00:00:00'
        |GROUP BY 1""".stripMargin)),

    // Hot-key diagnosis: the top-20 heaviest join/agg keys with their
    // traffic share — the measurement that decides WHERE the salting
    // ops (q44/q68) apply. Two-phase count agg (map-side combine ships
    // one row per key per task), broadcast scalar for the share, and a
    // TakeOrdered top-20 under a total order (count desc, key asc) —
    // no full sort, no driver collect, deterministic at any partition
    // count.
    Graded("q83_heavy_hitters", (s, d) => {
      val li = Tables.lineitem(s, d)
      val grouped = li.groupBy(col("l_suppkey")).agg(count(lit(1)).as("n"))
      // the grand total is the SUM of the per-key counts — deriving it
      // from the |suppkey|-row partial instead of a second full fact
      // scan halves the query's 100-TB I/O
      grouped
        .crossJoin(broadcast(grouped.agg(sum(col("n")).as("_total"))))
        .select(col("l_suppkey"), col("n"),
          round(col("n").cast("double") / col("_total"), 6).as("share"))
        // suppkey tiebreak asc_nulls_last: on an n tie at the LIMIT
        // boundary, bare ASC keeps the NULL-suppkey group on one
        // engine and drops it on the other (r18 review pass 14)
        .orderBy(col("n").desc, col("l_suppkey").asc_nulls_last)
        .limit(20)
    },
      Some("""WITH t AS (SELECT count(*) AS total FROM lineitem),
        | h AS (SELECT l_suppkey, count(*) AS n FROM lineitem GROUP BY 1)
        |SELECT l_suppkey, n, round(CAST(n AS DOUBLE) / total, 6) AS share
        |FROM h CROSS JOIN t
        |ORDER BY n DESC, l_suppkey LIMIT 20""".stripMargin)),

    // Edit-distance near-dup verification: Levenshtein ≤ 8 on 48-char
    // prefixes, blocked on (lang, length-band) so the quadratic
    // verifier only runs inside small buckets — the character-level
    // complement to the token-set verifiers (q29 Jaccard, q50
    // Hamming). English-only by contract: Spark's levenshtein counts
    // UTF-16 chars while the oracle's counts bytes, so the graded
    // surface is restricted to ASCII where both agree (the engine op
    // itself is charset-clean). The 3-arg threshold form prunes the DP
    // early — a row over the bound costs O(threshold·len), not
    // O(len²). The verify's cost is candidate pairs, not bytes: a
    // corpus that scans as fewer tasks than cores spreads its compact
    // (doc_id, bkt, pfx) rows by doc_id first, so the broadcast probe
    // runs on every core (both join sides reuse that one exchange);
    // a many-split scan keeps its plan. The join is on the bucket
    // alone and `id_a < id_b` is filtered BEFORE the distance, so the
    // pushed-down join condition reads `id_a < id_b AND levenshtein…`
    // and `And` short-circuits: mirrored and self pairs (over half of
    // a bucket's pairs) never pay the DP.
    Graded("q84_editdist_neardup", (s, d) => {
      val b = RelationalOps.rebalanceScan(
        Tables.documents(s, d).filter(col("lang") === "en")
          .select(col("doc_id"),
            floor(col("n_chars") / lit(16.0)).cast("long").as("bkt"),
            substring(col("text"), 1, 48).as("pfx")),
        col("doc_id"))
      val lhs = b.select(col("bkt"), col("doc_id").as("id_a"), col("pfx").as("_pa"))
      val rhs = b.select(col("bkt").as("_bkt2"), col("doc_id").as("id_b"),
        col("pfx").as("_pb"))
      lhs.join(rhs, col("bkt") === col("_bkt2"))
        .filter(col("id_a") < col("id_b"))
        .withColumn("dist", levenshtein(col("_pa"), col("_pb"), 8))
        .filter(col("dist") >= 0)
        .select(col("id_a"), col("id_b"), col("dist").cast("long").as("dist"))
    },
      Some("""WITH b AS (SELECT doc_id,
        |    CAST(floor(n_chars / 16.0) AS BIGINT) AS bkt,
        |    substr(text, 1, 48) AS pfx
        |  FROM documents WHERE lang = 'en')
        |SELECT a.doc_id AS id_a, b2.doc_id AS id_b,
        |       CAST(levenshtein(a.pfx, b2.pfx) AS BIGINT) AS dist
        |FROM b a JOIN b b2 ON a.bkt = b2.bkt AND a.doc_id < b2.doc_id
        |WHERE levenshtein(a.pfx, b2.pfx) <= 8""".stripMargin)),

    // Inverted-index build: term → sorted posting list + document
    // frequency, the index q78's query-time probe assumes. Postings
    // are distinct (doc, term) pairs — one exchange — then a sorted,
    // comma-joined string so the artifact is order-canonical and
    // engine-portable. At 100 TB the head terms' postings are sharded
    // (term, shard) and delta-encoded rather than one array — same
    // build shape, bounded rows; the tail (most of the vocabulary)
    // fits exactly this layout.
    Graded("q85_inverted_index", (s, d) =>
      Tables.documents(s, d).filter(col("lang") === "en")
        .select(col("doc_id"), explode(tokens(col("text"))).as("term"))
        .filter(col("term") =!= "").distinct()
        .groupBy(col("term"))
        .agg(count(lit(1)).as("n_docs"),
          array_join(
            transform(sort_array(collect_list(col("doc_id"))),
              _.cast("string")), ",").as("postings")),
      Some("""WITH t AS (SELECT DISTINCT doc_id, term FROM (
        |    SELECT doc_id,
        |           unnest(string_split_regex(lower(text), '[^a-z]+')) AS term
        |    FROM documents WHERE lang = 'en')
        |  WHERE term <> '')
        |SELECT term, count(*) AS n_docs,
        |  array_to_string(list(CAST(doc_id AS VARCHAR) ORDER BY doc_id), ',')
        |    AS postings
        |FROM t GROUP BY 1""".stripMargin)),

    // In-row analytics via higher-order functions: each doc's dominant
    // term (max count, lexicographic tie-break) computed ENTIRELY
    // inside the row, so the plan is a pure projection with ZERO
    // exchanges (PlanSpec-asserted). The conventional formulation
    // (explode → groupBy(doc, term) → window rn=1) shuffles the
    // corpus's entire token stream TWICE; that is exactly what the
    // oracle does, certifying the in-row rewrite against the
    // relational derivation.
    //
    // ONE sorted fold, O(n log n) per doc (r16 HOF audit): the old
    // form — `transform(array_distinct(toks), t => size(filter(toks,
    // …)))` — both referenced the token array inside a lambda (the
    // shingles O(n²) trap: the reference re-evaluates, i.e. re-SPLITS
    // the text, once per distinct token) and paid O(|distinct| × n)
    // counting; an all-distinct 1 MB document would hang the scan.
    // Sorting groups equal tokens into runs; the fold walks them
    // once, closing each run against the best-so-far with STRICT
    // `>` — runs arrive in ascending term order, so ties keep the
    // earlier (lexicographically smaller) term, the same tiebreak the
    // comparator sort and the oracle's (n DESC, term) window encode.
    Graded("q104_hof_topterm", (s, d) => {
      val sorted = array_sort(split(col("text"), " "))
      val zero = struct(
        lit(null).cast("string").as("prev"), lit(0L).as("cnt"),
        lit(0L).as("bc"), lit(null).cast("string").as("bt"))
      val folded = aggregate(
        sorted, zero,
        (acc, t) => {
          val same = acc("prev") <=> t
          // a changed token closes the previous run; strictly-greater
          // keeps the earlier term on count ties (ascending runs)
          val closed = acc("prev").isNotNull && !same && acc("cnt") > acc("bc")
          struct(
            t.as("prev"),
            when(same, acc("cnt") + 1L).otherwise(lit(1L)).as("cnt"),
            when(closed, acc("cnt")).otherwise(acc("bc")).as("bc"),
            when(closed, acc("prev")).otherwise(acc("bt")).as("bt"))
        },
        acc => {
          // close the trailing run
          val closed = acc("prev").isNotNull && acc("cnt") > acc("bc")
          struct(
            when(closed, acc("prev")).otherwise(acc("bt")).as("t"),
            when(closed, acc("cnt")).otherwise(acc("bc")).as("c"))
        })
      // null-text docs excluded to match the oracle's unnest row-set
      // (same latent-drift class as q33/q50/q90)
      Tables.documents(s, d).filter(col("text").isNotNull)
        .select(col("doc_id"),
          folded.getField("t").as("top_term"),
          folded.getField("c").cast("long").as("n_top"))
    },
      // the relational derivation the in-row HOF rewrite is certified
      // against — PER-RECORD via LATERAL (r16 dupfacts probe): the old
      // explode → GROUP BY doc_id → window form merged two same-id
      // revisions' term counts into a top-term of neither record; the
      // lateral subquery groups within ONE row's token list, so a dup
      // id contributes one output row per input record, like the engine
      Some("""WITH d AS (SELECT doc_id, text FROM documents WHERE text IS NOT NULL)
        |SELECT d.doc_id, t.top_term, t.n_top
        |FROM d, LATERAL (
        |  SELECT term AS top_term, CAST(count(*) AS BIGINT) AS n_top
        |  FROM unnest(string_split(d.text, ' ')) AS u(term)
        |  GROUP BY term ORDER BY count(*) DESC, term LIMIT 1) t""".stripMargin))
  )
}
