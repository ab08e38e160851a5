package graft.queries

import graft.{Graded, Tables}
import graft.ops.{PrivacyOps, SampleOps, TextOps}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** q86–q91 + q93 (incremental near-dup): corpus-governance tier — the
  * operators that sit
  * between "the corpus is deduplicated" (§2h) and "the corpus may
  * ship": PII pseudonymization with a k-anonymity release gate,
  * proportional per-source quota sampling (largest-remainder),
  * eval-set n-gram decontamination, leakage-safe (duplicate-cluster-
  * consistent) train/val/test splitting, repeated-n-gram quality
  * scoring, and snapshot-diff CDC derivation for mart maintenance.
  * Every decision is deterministic and recomputed independently by the
  * DuckDB oracle.
  */
object CurateQueries {
  val graded: Seq[Graded] = Seq(
    // §2k — PII release gate: stable keyed pseudonym (sha2-256 +
    // pepper), partial mask of the display name, quasi-identifier
    // generalization (balance → 1000-wide band), then a k-anonymity
    // audit: every (nation, band) equivalence class smaller than k=5
    // has its quasi-identifiers SUPPRESSED (nulled), with the class
    // size kept as the audit trail. Scale shape: the masking pass is a
    // pure codegen'd projection; the audit is ONE window count over the
    // class key — a single shuffle, no join, one scan (kAnonymize's doc
    // explains why the old broadcast-join-back form was backwards).
    Graded("q86_pii_mask", (s, d) => {
      val base = Tables.customer(s, d).select(
        col("c_custkey"),
        PrivacyOps.pseudonym(col("c_name"), "graft-pepper").as("pseudonym"),
        PrivacyOps.maskMiddle(col("c_name"), 9, 3).as("name_masked"),
        col("c_nationkey"),
        PrivacyOps.band(col("c_acctbal"), 1000.0).as("bal_band"))
      PrivacyOps.kAnonymize(base, Seq("c_nationkey", "bal_band"), 5L)
        .select(col("c_custkey"), col("pseudonym"), col("name_masked"),
          col("c_nationkey"), col("bal_band"), col("k_class"))
    },
      Some("""WITH m AS (SELECT c_custkey,
        |    sha256(c_name || '|graft-pepper') AS pseudonym,
        |    substr(c_name, 1, 9)
        |      || repeat('*', greatest(length(c_name) - 12, 0))
        |      || substr(c_name,
        |                length(c_name) - least(greatest(length(c_name) - 9, 0), 3) + 1,
        |                least(greatest(length(c_name) - 9, 0), 3)) AS name_masked,
        |    c_nationkey,
        |    CASE WHEN isfinite(c_acctbal)
        |         THEN CAST(floor(c_acctbal / 1000.0) AS BIGINT) END AS bal_band
        |  FROM customer),
        | k AS (SELECT *, count(*) OVER (PARTITION BY c_nationkey, bal_band)
        |         AS k_class FROM m)
        |SELECT c_custkey, pseudonym, name_masked,
        |  CASE WHEN k_class >= 5 THEN c_nationkey END AS c_nationkey,
        |  CASE WHEN k_class >= 5 THEN bal_band END AS bal_band,
        |  k_class
        |FROM k""".stripMargin)),

    // §2k — proportional quota sampling (largest-remainder method): a
    // fixed output budget (300 docs) allocated across sources in exact
    // proportion to their sizes — floor quotas first, the remainder
    // distributed by largest fractional part (ties: source asc) — then
    // each source keeps its top-quota docs under a deterministic
    // (n_chars desc, doc_id) order. This is the corpus-mixing
    // primitive ("X% web, Y% code, …" at a fixed token budget) done
    // with integer arithmetic only, so the allocation is portable and
    // exactly re-derivable. Scale shape: the quota table is bounded by
    // #sources (tiny — its global window is over that tiny relation,
    // never the corpus) and rides a broadcast join; the corpus pays
    // one per-source window shuffle.
    Graded("q87_quota_sample", (s, d) => {
      val budget = 300L
      val counts = Tables.documents(s, d)
        .groupBy(col("source")).agg(count(lit(1)).as("n"))
      val withTot = counts.crossJoin(
        broadcast(counts.agg(sum(col("n")).as("_tot"))))
        .withColumn("_q0", expr(s"($budget * n) div _tot"))
        .withColumn("_fr", expr(s"($budget * n) % _tot"))
      val withRem = withTot.crossJoin(
        broadcast(withTot.agg((lit(budget) - sum(col("_q0"))).as("_rem"))))
      // global window over the #sources-row quota relation only.
      // asc_nulls_last EXPLICITLY (r14 review): Spark's bare asc sorts
      // nulls FIRST, DuckDB's default is NULLS LAST — a NULL-source
      // group tying on _fr with a named source near the remainder cut
      // would hand the +1 quota to different sources per engine
      val rk = row_number().over(
        Window.orderBy(col("_fr").desc, col("source").asc_nulls_last))
      val quotas = withRem
        .withColumn("quota",
          col("_q0") + when(rk <= col("_rem"), 1L).otherwise(0L))
        .select(col("source"), col("quota"))
      val rn = row_number().over(Window.partitionBy(col("source"))
        // doc_id tiebreak asc_nulls_last like the _fr window above —
        // same class, same fix (r18 review pass 14)
        .orderBy(col("n_chars").desc, col("doc_id").asc_nulls_last))
      Tables.documents(s, d).join(broadcast(quotas), "source")
        .withColumn("_rn", rn)
        .filter(col("_rn") <= col("quota"))
        .select(col("doc_id"), col("source"))
    },
      Some("""WITH c AS (SELECT source, count(*) AS n FROM documents GROUP BY 1),
        | t AS (SELECT sum(n) AS tot FROM c),
        | q AS (SELECT source, n, (300 * n) // tot AS q0, (300 * n) % tot AS fr
        |       FROM c CROSS JOIN t),
        | r AS (SELECT source, q0, fr,
        |         row_number() OVER (ORDER BY fr DESC, source) AS rk,
        |         (SELECT 300 - sum(q0) FROM q) AS rem FROM q),
        | quotas AS (SELECT source,
        |   q0 + CASE WHEN rk <= rem THEN 1 ELSE 0 END AS quota FROM r),
        | ranked AS (SELECT doc_id, source,
        |   row_number() OVER (PARTITION BY source
        |                      ORDER BY n_chars DESC, doc_id) AS rn
        |   FROM documents)
        |SELECT ranked.doc_id, ranked.source
        |FROM ranked JOIN quotas USING (source) WHERE rn <= quota""".stripMargin)),

    // §2k — eval-set decontamination: flag every training doc sharing
    // at least one 3-gram with the held-out eval slice (doc_id ≡ 0
    // mod 97), with the count of distinct shared shingles as evidence
    // — the standard n-gram-overlap contamination check run before any
    // benchmark number is reported. Scale shape: the eval side is
    // small by construction, so its distinct shingle-hash set rides a
    // broadcast hash join against the exploded train shingles; the
    // only at-scale shuffle is the per-doc count agg. Shingles travel
    // as 64-bit hashes (never strings); the oracle re-derives the same
    // sets from the raw text.
    Graded("q88_decontam", (s, d) => {
      // rebalanceScan (r21): the shingle hashing (an INTERPRETED
      // zip_with chain over every token of every doc, run for both the
      // eval and train sides) otherwise executes inside the
      // unsplittable single-row-group scan task (RelationalOps doc;
      // measured: 1.21s → 0.86s min in OPTIMIZATION_r21.md; no-op at
      // production scale where the scan has many splits)
      val sh = graft.ops.RelationalOps.rebalanceScan(Tables.documents(s, d),
          col("doc_id"))
        .select(col("doc_id"),
          TextOps.ngramHashes64(TextOps.tokens(col("text")), 3).as("_sh"))
      val eval_ = sh.filter(col("doc_id") % 97 === 0)
        .select(explode(col("_sh")).as("_h")).distinct()
      sh.filter(col("doc_id") % 97 =!= 0)
        .select(col("doc_id"), explode(col("_sh")).as("_h"))
        .join(broadcast(eval_), "_h")
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_shared"))
    },
      Some("""WITH sh AS (SELECT doc_id,
        |    list_distinct(list_transform(
        |      range(1, len(string_split(text, ' ')) - 1),
        |      i -> string_split(text, ' ')[i] || ' ' ||
        |           string_split(text, ' ')[i+1] || ' ' ||
        |           string_split(text, ' ')[i+2])) AS sh
        |  FROM documents WHERE len(string_split(text, ' ')) >= 3),
        | ev AS (SELECT DISTINCT unnest(sh) AS g FROM sh WHERE doc_id % 97 = 0),
        | tr AS (SELECT doc_id, unnest(sh) AS g FROM sh WHERE doc_id % 97 <> 0)
        |SELECT doc_id, count(*) AS n_shared
        |FROM tr JOIN ev USING (g) GROUP BY 1""".stripMargin)),

    // §2k — leakage-safe split: the q63 hash split made DUPLICATE-
    // CONSISTENT. Near-duplicate clusters (q56's connected components
    // over the persisted pair artifact) must land in ONE split — a
    // near-copy of a training doc inside the test split is exactly the
    // leak deterministic splitting exists to prevent. Split key =
    // component id (the cluster's min doc id) when the doc is in a
    // cluster, else its own id; the assignment itself is the same
    // portable multiplicative hash as q63. Scale shape: components
    // output is proportional to the DUPLICATE set, not the corpus, so
    // it broadcasts; the corpus pays a projection only. The component
    // table is READ from the persisted ingest artifact
    // (HardenQueries.neardupComponents, content-keyed + _SUCCESS-
    // gated) — re-running the iterative propagation per invocation
    // was r10's q89 perf flag, and a nightly split job would never do
    // it either.
    Graded("q89_group_split", (s, d) => {
      val comps = HardenQueries.neardupComponents(s, d)
      val docs = Tables.documents(s, d).select(col("doc_id"))
      val corpus = docs.unionByName(
        docs.select((col("doc_id") + NorthQueries.DupOffset).as("doc_id")))
      SampleOps.hashSplit(
        corpus.join(broadcast(comps), Seq("doc_id"), "left")
          .withColumn("split_key",
            coalesce(col("component"), col("doc_id"))),
        "split_key", "split",
        Seq("train" -> 80, "val" -> 10, "test" -> 10))
        .select(col("doc_id"), col("split"))
    },
      // the component derivation's corpus collapses dup doc_ids
      // (max(text), r16 dupfacts probe — must match the engine's pair
      // artifact); `ids` below deliberately does NOT collapse: the
      // engine assigns a split PER CORPUS RECORD, and both copies of
      // a dup id get the same (id-keyed) split either way
      Some(s"""WITH RECURSIVE corpus AS (
         |  SELECT doc_id, max(text) AS text FROM documents GROUP BY doc_id
         |  UNION ALL SELECT doc_id + ${100000L} AS doc_id,
         |    max(text) || ' graftdup' AS text FROM documents GROUP BY doc_id),
         | sh AS (SELECT doc_id,
         |   list_distinct(list_transform(range(1, len(string_split(text,' ')) - 1),
         |     i -> string_split(text,' ')[i] || ' ' || string_split(text,' ')[i+1] || ' ' || string_split(text,' ')[i+2])) AS sh
         |   FROM corpus WHERE len(string_split(text,' ')) >= 3),
         | pairs AS (
         |   SELECT a.doc_id AS id_a, b.doc_id AS id_b
         |   FROM sh a JOIN sh b ON a.doc_id < b.doc_id
         |   WHERE len(list_intersect(a.sh, b.sh)) * 5 >=
         |         (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) * 4),
         | edges AS (SELECT id_a AS u, id_b AS v FROM pairs
         |           UNION SELECT id_b AS u, id_a AS v FROM pairs),
         | reach(id, r) AS (
         |   SELECT u, u FROM edges
         |   UNION
         |   SELECT e.u, reach.r FROM edges e JOIN reach ON e.v = reach.id),
         | comp AS (SELECT id AS doc_id, min(r) AS component
         |          FROM reach GROUP BY id),
         | ids AS (SELECT doc_id FROM documents
         |         UNION ALL SELECT doc_id + ${100000L} FROM documents),
         | keyed AS (SELECT ids.doc_id,
         |   coalesce(comp.component, ids.doc_id) AS k
         |   FROM ids LEFT JOIN comp USING (doc_id))
         |SELECT doc_id,
         |  -- NULL-key branch mirrors the engine's NULL-split contract
         |  -- (r14 review; k = coalesce(component, doc_id) is non-null
         |  -- whenever doc_id is, so this only matters off-fixture)
         |  CASE WHEN k IS NULL THEN NULL
         |       WHEN ${SampleOps.bucketSql("k")} < 80 THEN 'train'
         |       WHEN ${SampleOps.bucketSql("k")} < 90 THEN 'val'
         |       ELSE 'test' END AS split
         |FROM keyed""".stripMargin)),

    // §2k — repeated-n-gram quality scoring (the Gopher/FineWeb
    // repetition rule): per doc, the fraction of its 3-gram slots
    // occupied by repeats — 1 − distinct/total — plus the flag at the
    // 0.2 threshold. A doc stuck in a generation loop scores near 1
    // and is dropped before training. Pure codegen'd projection over
    // the token array (array_distinct inside the row — no explode, no
    // shuffle, embarrassingly parallel at any scale).
    Graded("q90_repetition_score", (s, d) => {
      val toks = TextOps.tokens(col("text"))
      val total = greatest(size(toks) - 2, lit(0)).cast("long")
      val dist = size(TextOps.shingles(toks, 3)).cast("long")
      Tables.documents(s, d).select(
          col("doc_id"),
          // null text → null counts (the oracle's NULL propagation),
          // not the 0s the shingles empty-array fallback would give
          when(col("text").isNotNull, total).as("n_ngrams"),
          when(col("text").isNotNull, dist).as("n_distinct"))
        // guard the division: a <3-token doc has zero 3-gram slots and
        // must score null, not NaN (0.0/0) — keeps engine parity exact
        .withColumn("dup_frac", when(col("n_ngrams") > 0,
          round(lit(1.0) - col("n_distinct") / col("n_ngrams"), 6)))
        .withColumn("is_repetitive", col("dup_frac") > 0.2)
    },
      Some("""WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks
        |           FROM documents),
        | g AS (SELECT doc_id,
        |   -- explicit NULL branch: DuckDB's greatest() SKIPS null
        |   -- arguments, so greatest(len(NULL)-2, 0) is 0 where the
        |   -- engine (and SQL null propagation) keeps a null-text doc's
        |   -- counts NULL (r13 edge sweep)
        |   CAST(CASE WHEN toks IS NULL THEN NULL
        |        ELSE greatest(len(toks) - 2, 0) END AS BIGINT) AS n_ngrams,
        |   CAST(len(list_distinct(list_transform(range(1, len(toks) - 1),
        |     i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])))
        |     AS BIGINT) AS n_distinct
        |  FROM t)
        |SELECT doc_id, n_ngrams, n_distinct,
        |  CASE WHEN n_ngrams > 0
        |    THEN round(1.0 - CAST(n_distinct AS DOUBLE) / n_ngrams, 6)
        |  END AS dup_frac,
        |  CASE WHEN n_ngrams > 0
        |    THEN round(1.0 - CAST(n_distinct AS DOUBLE) / n_ngrams, 6) > 0.2
        |  END AS is_repetitive
        |FROM g""".stripMargin)),

    // §2k — INCREMENTAL near-dup detection: tonight's delta probed
    // against the standing corpus — the nightly form of q29. The
    // corpus is NEVER re-self-joined: delta docs (planted as appended-
    // token variants of every 10th doc) minhash into the same 16×2
    // band space as the standing index, candidates come from a
    // delta-vs-index bucket join with the small delta side BROADCAST,
    // and exact Jaccard ≥ 0.8 verifies. Per-night cost is
    // O(|delta| · bands + collisions) regardless of corpus size — and
    // the standing index (shingle sets + band table) is a MAINTAINED
    // artifact, content-keyed + _SUCCESS-gated like the q35 centroids
    // and q56/q89 components: the nightly run reads it and re-shingles
    // only the delta; the oracle still recomputes everything from base
    // tables because the artifact is a pure function of them. Uncapped
    // buckets (maxBucket = ∞ semantics): recall must be exact for the
    // oracle, and the delta probe bounds the join fan-out anyway.
    // Oracle = exhaustive delta×corpus Jaccard — an independent
    // derivation with no LSH anywhere.
    Graded("q93_incremental_neardup", (s, d) => {
      val base = graft.Scratch.shared(
        "q93_idx_v1_" + graft.Fixtures.tableFingerprint(d, "documents"))
      val shP = s"$base/shingles"
      val bandP = s"$base/bands"
      def bands(x: DataFrame) = TextOps.lshBands(
        TextOps.minhashSignatures(x, "doc_id", "sh", 32),
        "doc_id", "sig", 16, 2)
      // BOTH halves install under ONE base-level stage-and-rename
      // (r14 review): the old shape gated each half separately and,
      // on a missing half, rmTree'd the LIVE shared paths in place —
      // a concurrent session could tear down a half another session
      // had just committed (or was mid-reading), exactly the
      // multi-step-delete-in-the-live-path hazard StagedArtifact
      // exists to close. One base gate = both-halves-or-neither for
      // free: a crash between the sub-writes leaves a markerless
      // stage (never installed), a crashed old-layout residue has no
      // base _SUCCESS and is evicted by rename-aside, and concurrent
      // builders race through the hammered install protocol.
      if (!graft.ops.StagedArtifact.committed(base)) {
        val shS = graft.ops.Materialize.once("q93.shS",
          Tables.documents(s, d).select(col("doc_id"),
            TextOps.ngramHashes64(TextOps.tokens(col("text")), 3).as("sh")))
        graft.ops.StagedArtifact.writeOnce(base) { stage =>
          shS.write.parquet(s"$stage/shingles")
          bands(shS).write.parquet(s"$stage/bands")
          java.nio.file.Files.write(
            java.nio.file.Paths.get(stage, "_SUCCESS"),
            Array.empty[Byte]): Unit
        }
      }
      val shS = s.read.parquet(shP)
      val delta = Tables.documents(s, d)
        .filter(col("doc_id") % 10 === 0)
        .select((col("doc_id") + 200000L).as("doc_id"),
          concat(col("text"), lit(" graftdelta")).as("text"))
      val shD = graft.ops.Materialize.once("q93.shD",
        delta.select(col("doc_id"),
          TextOps.ngramHashes64(TextOps.tokens(col("text")), 3).as("sh")))
      // maxBucket=Int.MaxValue: the deliberate exact-recall choice
      // (the standing fixture has no boilerplate hot buckets, and the
      // uncapped path skips the per-run aggregation over the standing
      // index); a production corpus with shared boilerplate passes the
      // same cap q29 does
      val cands = TextOps.lshCandidatesAgainst(
        broadcast(bands(shD)), s.read.parquet(bandP), "doc_id",
        maxBucket = Int.MaxValue)
      TextOps.jaccardVerify(cands, shS.unionByName(shD), "doc_id", "sh", 4, 5)
    },
      Some("""WITH shS AS (SELECT doc_id,
        |   list_distinct(list_transform(range(1, len(string_split(text,' ')) - 1),
        |     i -> string_split(text,' ')[i] || ' ' || string_split(text,' ')[i+1] || ' ' || string_split(text,' ')[i+2])) AS sh
        |   FROM documents WHERE len(string_split(text,' ')) >= 3),
        | d0 AS (SELECT doc_id + 200000 AS doc_id, text || ' graftdelta' AS text
        |        FROM documents WHERE doc_id % 10 = 0),
        | shD AS (SELECT doc_id,
        |   list_distinct(list_transform(range(1, len(string_split(text,' ')) - 1),
        |     i -> string_split(text,' ')[i] || ' ' || string_split(text,' ')[i+1] || ' ' || string_split(text,' ')[i+2])) AS sh
        |   FROM d0 WHERE len(string_split(text,' ')) >= 3)
        |SELECT d.doc_id AS id_a, s.doc_id AS id_b,
        |  CAST(len(list_intersect(d.sh, s.sh)) AS INT) AS n_inter,
        |  CAST(len(d.sh) + len(s.sh) - len(list_intersect(d.sh, s.sh)) AS INT)
        |    AS n_union
        |FROM shD d JOIN shS s
        |  ON len(list_intersect(d.sh, s.sh)) * 5 >=
        |     (len(d.sh) + len(s.sh) - len(list_intersect(d.sh, s.sh))) * 4""".stripMargin)),

    // §2k — snapshot-diff CDC derivation: two logical snapshots of the
    // per-customer mart (trailing windows as of two run dates) full-
    // outer joined on the key, every key classified added / deleted /
    // changed / unchanged — the reconciliation pass that turns "two
    // stored snapshots" into a change feed when the source system
    // publishes none (the reference's MySQL marts have exactly this
    // problem: TRUNCATE-and-load leaves no history,
    // load_store_data.py:77-84). Comparison runs on EXACT decimal
    // sums; doubles appear only in the output projection. One shuffle
    // per snapshot agg + the key-aligned join.
    Graded("q91_snapshot_cdc", (s, d) => {
      def snap(lo: String, hi: String) = Tables.orders(s, d)
        .filter(col("o_orderdate") >= to_timestamp(lit(lo)) &&
          col("o_orderdate") < to_timestamp(lit(hi)))
        .groupBy(col("o_custkey"))
        .agg(count(lit(1)).as("n"),
          sum(col("o_totalprice").cast("decimal(18,2)")).as("amt"))
      val a = snap("1992-01-01 00:00:00", "1996-01-01 00:00:00")
        .select(col("o_custkey"), col("n").as("n_a"), col("amt").as("amt_a"))
      val b = snap("1993-01-01 00:00:00", "1996-04-01 00:00:00")
        .select(col("o_custkey"), col("n").as("n_b"), col("amt").as("amt_b"))
      // n_a/n_b are nullability-PINNED (the argument-free when(...)
      // keeps CaseWhen nullable): count() is non-nullable, and when a
      // snapshot window is EMPTY, AQE's empty-relation propagation
      // plans the full join away and count's tight nullability reaches
      // the parquet writer — the dump's physical schema (def level)
      // would then depend on the DATA, which the frozen dump-schema
      // fingerprint (tools/dump_schemas.txt) forbids: the driver
      // hashes dump bytes, so a fixture regen with an empty window
      // would otherwise flip q91 local-green/driver-red. Found by the
      // r20 empty-variant probe of the new fingerprint gate;
      // value-neutral (identity on every row) and byte-neutral on
      // populated fixtures (the full join already made them optional).
      def nullablePin(c: Column): Column = when(c.isNotNull, c)
      a.join(b, Seq("o_custkey"), "full")
        .select(col("o_custkey"),
          when(col("n_a").isNull, "added")
            .when(col("n_b").isNull, "deleted")
            .when(col("n_a") =!= col("n_b") ||
              col("amt_a") =!= col("amt_b"), "changed")
            .otherwise("unchanged").as("status"),
          nullablePin(col("n_a")).as("n_a"),
          col("amt_a").cast("double").as("amt_a"),
          nullablePin(col("n_b")).as("n_b"),
          col("amt_b").cast("double").as("amt_b"))
    },
      Some("""WITH a AS (SELECT o_custkey, count(*) AS n_a,
        |    sum(TRY_CAST(nullif(o_totalprice, 'nan'::DOUBLE) AS DECIMAL(18,2))) AS amt_a
        |  FROM orders
        |  WHERE o_orderdate >= TIMESTAMP '1992-01-01 00:00:00'
        |    AND o_orderdate <  TIMESTAMP '1996-01-01 00:00:00'
        |  GROUP BY 1),
        | b AS (SELECT o_custkey, count(*) AS n_b,
        |    sum(TRY_CAST(nullif(o_totalprice, 'nan'::DOUBLE) AS DECIMAL(18,2))) AS amt_b
        |  FROM orders
        |  WHERE o_orderdate >= TIMESTAMP '1993-01-01 00:00:00'
        |    AND o_orderdate <  TIMESTAMP '1996-04-01 00:00:00'
        |  GROUP BY 1)
        |SELECT coalesce(a.o_custkey, b.o_custkey) AS o_custkey,
        |  -- side presence via n_a/n_b (a COUNT is never NULL when the
        |  -- side exists), NOT via a.o_custkey IS NULL: an unmatched
        |  -- NULL-KEY group from the a-side has a.o_custkey NULL while
        |  -- genuinely present, and the key-based test mislabeled it
        |  -- 'added' where the engine (keyed on n_a/n_b) says
        |  -- 'deleted' (r15 NULL-key probe)
        |  CASE WHEN a.n_a IS NULL THEN 'added'
        |       WHEN b.n_b IS NULL THEN 'deleted'
        |       WHEN a.n_a <> b.n_b OR a.amt_a <> b.amt_b THEN 'changed'
        |       ELSE 'unchanged' END AS status,
        |  a.n_a, CAST(a.amt_a AS DOUBLE) AS amt_a,
        |  b.n_b, CAST(b.amt_b AS DOUBLE) AS amt_b
        |FROM a FULL OUTER JOIN b ON a.o_custkey = b.o_custkey""".stripMargin))
  )
}
