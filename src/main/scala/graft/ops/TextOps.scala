package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Text-analysis + deduplication operators for the LLM-training-data
  * pipeline (north-star mandate; no analog in the reference, whose only
  * text handling is opaque Korean name strings, e.g.
  * load_store_data.py:95-137). Everything here is built from codegen'd
  * `org.apache.spark.sql.functions` — no UDFs — so whole-stage codegen
  * spans the full pipeline and every op scales by partitioning alone.
  *
  * Determinism: ops meant for the DuckDB oracle use only integer
  * arithmetic or single-division doubles; sketch internals (minhash,
  * simhash) use xxhash64 + affine transforms mod a 31-bit prime so all
  * values stay exact in LongType.
  */
object TextOps {

  /** Whitespace tokenization. The fixture text is single-space word
    * soup; a production corpus would use the regex tokenizer below.
    */
  def tokens(text: Column): Column = split(text, " ")

  /** Exact-duplicate grouping (q24): content hash → one group per
    * distinct text, keeper = min doc id, like the reference's
    * idempotent PK upsert collapsing re-sent rows
    * (load_sales_data.py:129-134) generalized to content identity.
    * One hash-partitioned aggregation; at 100 TB this is the standard
    * exact-dedup shuffle on a 256-bit key. Null-text docs are
    * EXCLUDED: sha2(null) is null and groupBy keeps the null key, so
    * without the filter every contentless doc in the corpus would
    * merge into one giant "duplicate" group and all but one would be
    * retired — absent content is not shared content.
    */
  def exactDedupGroups(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.filter(col(textCol).isNotNull)
      .groupBy(sha2(col(textCol), 256).as("content_hash"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_copies"))

  /** Distinct word n-gram shingles of a token array, joined by a
    * separator that cannot appear inside a token.
    *
    * Built as a zip_with chain over shifted slices — the same shape
    * as [[ngramHashes64]] and for the same reason (r16 megadoc
    * probe): the old `transform(sequence(…), i => concat_ws(slice(
    * toks, i+1, n)))` lambda REFERENCED the token array, and the
    * interpreted HOF eval re-evaluates a referenced expression per
    * element — with toks = split(text), that re-split the WHOLE text
    * once per position: O(n²), and one 200k-token document turned
    * q90's pure projection into a 10-minute task. The chain's slices
    * are zip_with ARGUMENTS (evaluated once); concat_ws skips the
    * null padding on tail windows exactly as it skipped their tokens
    * before, and the final slice drops those incomplete tails.
    *
    * PRECONDITION (r17, found by ShinglePropertiesSpec): token arrays
    * must be NULL-FREE — every caller satisfies this by construction
    * (tokens = split(text), which never yields null elements; empty
    * strings are fine). On out-of-contract interior nulls the chain
    * is NOT concat_ws-over-array: a single null in a window is
    * skipped, but ≥2 adjacent nulls leave a separator artifact
    * (" xyz"), because the intermediate concat_ws collapses an
    * all-null pair to "" which later steps cannot skip — and
    * [[ngramHashes64]] diverges differently again on the same inputs
    * (xxhash64 of a null leaves its accumulator at the seed, so a
    * null token behaves as a phantom SENTINEL token with a valid
    * hash). Fixing one path would false-advertise agreement the
    * other path doesn't keep; the contract is the precondition,
    * pinned with a canary test (ShinglePropertiesSpec).
    */
  def shingles(toks: Column, n: Int): Column = {
    val combined = (2 to n).foldLeft(toks) { (acc, j) =>
      zip_with(acc, slice(toks, lit(j), greatest(size(toks) - (j - 1), lit(0))),
        (a, b) => concat_ws(" ", a, b))
    }
    when(size(toks) >= n,
      array_distinct(slice(combined, lit(1), size(toks) - (n - 1))))
      .otherwise(array().cast("array<string>"))
  }

  /** Minhash modulus: hashes are folded into [0, 2^31-1) so the
    * affine minhash permutations below never overflow a Long
    * ((2^31)^2 < 2^63).
    */
  private val MersennePrime = 2147483647L // 2^31 - 1

  /** Distinct 64-bit word-n-gram hashes: the representation the
    * candidate-generation joins and exact-Jaccard verify run on.
    * Longs shuffle and hash-intersect far cheaper than 3-word shingle
    * strings, and set arithmetic on them equals set arithmetic on the
    * strings up to a 64-bit collision (~|shingles|²/2⁶⁵ per corpus —
    * ~1e-6 even at 10M distinct shingles; the 31-bit fold in
    * [[minhashSignatures]] is for permutation inputs only, never for
    * set identity).
    *
    * Computed NUMERICALLY: each token is hashed once, then consecutive
    * token hashes combine by rotate-XOR (position i contributes
    * rot₇₍ₙ₋ᵢ₎(hᵢ) — order-sensitive, bitwise only, so no ANSI overflow
    * and no n-gram string is ever materialized). Set-equivalent to
    * hashing the concatenated shingle strings at a fraction of the
    * cost: the string path slices + concats + re-hashes ~20 bytes
    * per shingle. Built as a zip_with chain over shifted slices —
    * NOT a lambda referencing the token-hash array (a nested reference
    * would re-evaluate the whole inner transform per element, O(n²)).
    * zip_with pads the shorter side with null, which nulls out the
    * incomplete tail windows; the final slice drops them.
    */
  def ngramHashes64(toks: Column, n: Int): Column = {
    val th = transform(toks, t => xxhash64(t))
    def rot7(c: Column): Column =
      shiftleft(c, 7).bitwiseOR(shiftrightunsigned(c, 57))
    val combined = (2 to n).foldLeft(th) { (acc, j) =>
      zip_with(acc, slice(th, lit(j), greatest(size(th) - (j - 1), lit(0))),
        (a, b) => rot7(a).bitwiseXOR(b))
    }
    when(size(toks) >= n,
      array_distinct(slice(combined, lit(1), size(toks) - (n - 1))))
      .otherwise(array().cast("array<bigint>"))
  }

  /** k-permutation MinHash signatures: min_i((a_j * h_i + b_j) mod p)
    * per permutation j, for every row of `df`. a/b are fixed odd
    * constants (deterministic across runs and partition counts —
    * SURVEY.md §7 risk 2 applies to sketches too).
    *
    * Accepts ARBITRARY 64-bit hashes: each is folded into [0, p) with
    * one scalar pmod AFTER the explode (p = 2³¹−1, so the affine
    * permutations never overflow a Long). Folding post-explode costs
    * one op per shingle instead of a whole extra array `transform`
    * pass per doc — the round-4 q29 call site paid that pass.
    *
    * Shape: explode the per-doc hash array, then ONE hash aggregation
    * with k codegen'd `min` columns. Each shingle hash is computed
    * once (not once per permutation — the array-expression forms
    * re-inline the shingle pipeline k× after projection collapse, and
    * a fold with an array accumulator allocates a k-array per element;
    * both measured far slower). Partial map-side mins shrink the
    * shuffle to |docs| rows × k longs regardless of corpus size — the
    * 100-TB-safe layout. Rows with empty hash arrays (docs below the
    * shingle width) vanish at the explode, i.e. short docs simply
    * never reach candidate generation.
    */
  def minhashSignatures(df: DataFrame, idCol: String, hashesCol: String,
                        k: Int): DataFrame = {
    val exploded = df.select(col(idCol), explode(col(hashesCol)).as("_h0"))
      .select(col(idCol), pmod(col("_h0"), lit(MersennePrime)).as("_h"))
    val mins = (0 until k).map { j =>
      min(pmod(col("_h") * (2L * j + 1001L) + (7L * j + 3079L),
        lit(MersennePrime))).as(s"_m$j")
    }
    exploded.groupBy(col(idCol)).agg(mins.head, mins.tail: _*)
      .select(col(idCol),
        array((0 until k).map(j => col(s"_m$j")): _*).as("sig"))
  }

  /** LSH banding: signature of k minhashes → b bands of r rows each
    * (k = b*r); each band becomes (band_idx, band_sig) — docs sharing
    * any band land in the same bucket. Returns one row per (doc, band):
    * the table to self-join on (band_idx, band_sig) for candidates.
    * This is the scale path: candidate generation is a hash-partitioned
    * equi-join on bucket keys, never an all-pairs cross join.
    *
    * band_sig is a NUMERIC key: the r minhashes (< 2³¹ each) fold as
    * acc → (acc << 31) ⊕ m — for r ≤ 2 the fields are disjoint bits,
    * so the packing is injective (exactly the string key's semantics);
    * for r > 2 high bits wrap and a rare fold collision merges two
    * buckets, which only adds verify-rejected candidates. 8-byte long
    * keys shuffle, hash, and compare cheaper than "m0_m1" strings —
    * the band join is the dominant q29 stage, so the key width is the
    * constant factor that matters.
    */
  def lshBands(docs: DataFrame, idCol: String, sigCol: String,
               bands: Int, rows: Int): DataFrame = {
    // a signature SHORTER than bands*rows must fail loudly (r14
    // review): slice past the array end returns empty and
    // aggregate(empty, 0L, …) = 0L, so every doc would emit the tail
    // bands with band_sig=0 — corpus-wide fake collision buckets that
    // either blow the self-join up quadratically or (capped) silently
    // contribute nothing. A LONGER signature is fine by design: the
    // tail minhashes beyond bands*rows are deliberately unused.
    // A NULL signature is a doc with no minhashes (empty/null text) —
    // it can share no bucket, so it is DROPPED here rather than routed
    // into the guard (r15 ADVICE: size(NULL) is NULL, so the guard's
    // condition went NULL→otherwise and raised with a NULL-concat
    // message; pre-r14 such docs emitted null band keys that never
    // equi-joined — dropping them is candidate-equivalent and cheaper).
    val need = bands * rows
    val sig = when(size(col(sigCol)) >= need, col(sigCol))
      .otherwise(raise_error(concat(
        lit(s"lshBands: signature shorter than bands*rows=$need: "),
        size(col(sigCol)).cast("string"))))
    // r21 (guide §4, expressions/codegen): bands and rows are Scala
    // Ints, so the band structs unroll at PLAN time into plain
    // element_at/shift/xor expressions — whole-stage-codegen'd — in
    // place of the old transform(sequence)/aggregate(slice) chain,
    // whose higher-order lambdas evaluate INTERPRETED per band per
    // row (measured: the banding stage dominated everything around it
    // in OPTIMIZATION_r21.md; the unrolled form folds the same
    // acc → (acc << 31) ⊕ m arithmetic, bit-identical output).
    // element_at is 1-based and only reached under the size guard, so
    // no out-of-bounds path exists (ANSI-safe).
    val bandStructs = (0 until bands).map { b =>
      struct(lit(b).as("band_idx"),
        (1 to rows).foldLeft(lit(0L).as("z"): org.apache.spark.sql.Column) {
          (acc, j) => shiftleft(acc, 31).bitwiseXOR(
            element_at(sig, b * rows + j))
        }.as("band_sig"))
    }
    docs.where(col(sigCol).isNotNull).select(col(idCol),
        explode(array(bandStructs: _*)))
      .select(col(idCol), col("col.band_idx"), col("col.band_sig"))
  }

  /** Candidate pairs from LSH buckets: self-join on the band key with
    * id< to orient, then distinct (a pair can collide in several
    * bands).
    *
    * Skew cap: a hot bucket (shared boilerplate collapsing many docs
    * onto one band_sig) makes the self-join quadratic in that bucket —
    * the classic 100-TB LSH failure. Buckets above `maxBucket` rows are
    * DROPPED before the join via a broadcast anti-join (the hot-bucket
    * list is tiny by construction — at most |banded|/maxBucket rows).
    * `maxBucket` is an EXPLICIT choice at every call site (no default):
    * it changes recall semantics, so graded queries must state the
    * trade deliberately (ADVICE round 4). Pass Int.MaxValue for the
    * uncapped exact-recall behavior. Recall trade, documented: a true
    * pair colliding ONLY in over-cap buckets is missed. With b
    * independent bands a J-similar pair collides per band with
    * p = J^r, so the pair survives unless ALL its colliding bands are
    * hot — for near-dup thresholds (J ≥ 0.8, 16 bands → ≥ 10 expected
    * collisions) the residual miss rate is negligible, and a bucket
    * with > maxBucket members is boilerplate, not near-duplication, at
    * any corpus size. Verified in TextOpsSpec (planted hot bucket +
    * planted near-dups: cap drops the former, keeps the latter).
    *
    * The self-join carries a shuffle_hash hint: bucket groups are
    * ≤ maxBucket rows by construction, so a hash join needs no sort of
    * the (large) banded table on either side — the sort was pure
    * overhead at every scale.
    */
  /** Drop over-cap (band_idx, band_sig) buckets via a broadcast
    * anti-join — the skew cap shared by [[lshCandidates]] and
    * [[lshCandidatesAgainst]] (r14 review: it was written twice, and
    * only the Against form had the uncapped short-circuit).
    * Int.MaxValue skips the aggregation entirely: no count can exceed
    * it, so the pass would be a full-table shuffle that drops nothing.
    */
  private def dropHotBuckets(banded: DataFrame, maxBucket: Int): DataFrame =
    if (maxBucket == Int.MaxValue) banded
    else {
      val hot = banded.groupBy(col("band_idx"), col("band_sig"))
        .agg(count(lit(1)).as("_bn"))
        .filter(col("_bn") > maxBucket)
        .select(col("band_idx"), col("band_sig"))
      banded.join(broadcast(hot), Seq("band_idx", "band_sig"), "left_anti")
    }

  def lshCandidates(banded: DataFrame, idCol: String,
                    maxBucket: Int): DataFrame = {
    // capped path: the banded table feeds the hot-bucket aggregation
    // AND the capped self-join (whose a/b sides share one exchange,
    // but the agg cannot) — without materialization the whole
    // upstream minhash/banding pipeline runs at least twice per
    // action. Uncapped path: the self-join is the only consumer and
    // its two sides reuse one exchange — no materialization needed.
    val capped =
      if (maxBucket == Int.MaxValue) banded
      else dropHotBuckets(Materialize.once("textops.lshBands", banded),
        maxBucket)
    val a = capped.select(col("band_idx"), col("band_sig"), col(idCol).as("id_a"))
    val b = capped.select(col("band_idx"), col("band_sig"), col(idCol).as("id_b"))
    a.join(b.hint("shuffle_hash"), Seq("band_idx", "band_sig"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct()
  }

  /** Delta-vs-standing LSH candidates — the INCREMENTAL form of
    * [[lshCandidates]]: probe one banded table (tonight's new docs)
    * against another (the standing corpus index) instead of
    * self-joining the whole corpus. This is the nightly-dedup shape at
    * 100 TB — the standing index is a maintained artifact; per run the
    * join touches |delta| band rows, never re-pairs the corpus with
    * itself. Pass a `broadcast(...)`-hinted delta when it is small
    * (the common nightly case); with no hint the equi-join
    * hash-partitions both sides — correct at any delta size. Output:
    * (id_a from delta, id_b from standing), distinct; a doc present
    * in BOTH tables under one id (the idempotent re-send case) is
    * never reported as its own near-duplicate.
    *
    * `maxBucket` is the same explicit skew trade as [[lshCandidates]]
    * — a boilerplate band_sig with 10⁶ standing rows probed by 10³
    * delta docs is a 10⁹-row bucket, the identical 100-TB blowup.
    * Over-cap STANDING buckets are dropped before the join;
    * `Int.MaxValue` short-circuits the cap entirely (exact recall, no
    * extra aggregation over the standing index).
    */
  def lshCandidatesAgainst(deltaBanded: DataFrame, standingBanded: DataFrame,
                           idCol: String, maxBucket: Int): DataFrame = {
    val capped = dropHotBuckets(standingBanded, maxBucket)
    val a = deltaBanded.select(col("band_idx"), col("band_sig"),
      col(idCol).as("id_a"))
    val b = capped.select(col("band_idx"), col("band_sig"),
      col(idCol).as("id_b"))
    a.join(b, Seq("band_idx", "band_sig"))
      .filter(col("id_a") =!= col("id_b"))
      .select("id_a", "id_b").distinct()
  }

  /** Deterministic-COMPLETE similarity-join candidates via prefix
    * filtering (the All-Pairs/PPJoin family: Bayardo et al. WWW'07,
    * Xiao et al. WWW'08): fix any global total order on shingles and
    * keep each doc's first |S| − ⌈(num/den)·|S|⌉ + 1 ordered shingles
    * as its prefix; every pair with Jaccard ≥ num/den provably shares
    * a prefix shingle (if all of A's shared shingles sat outside its
    * prefix, |A∩B| ≤ ⌈t·|A|⌉ − 1 < t·|A| ≤ t·|A∪B| — contradiction;
    * the smallest shared shingle in the global order lands in BOTH
    * prefixes). Candidate generation is therefore an equi-join on
    * prefix shingles — exact recall, vs MinHash-LSH's probabilistic
    * recall on a constant-size sketch.
    *
    * The global order is ASCENDING DOCUMENT FREQUENCY (ties by hash) —
    * the canonical All-Pairs choice: prefixes then hold each doc's
    * RAREST shingles, so join buckets stay near-singleton even when
    * the corpus shares boilerplate phrases. Measured here: hash-order
    * prefixes produced 899k candidate pairs on the sf0.1 corpus,
    * df-order collapses that to ~the true pair set. Costs one df
    * aggregation + one per-doc rank window over the inverted index —
    * both bounded and shuffle-partitioned, the 100-TB-safe prep.
    */
  def prefixFilterCandidates(docShingles: DataFrame, idCol: String,
                             shCol: String, num: Int, den: Int): DataFrame = {
    // CALLER CONTRACT (r14 review): pass a MATERIALIZED docShingles
    // (q37 does — Materialize.once("neardup.sh", …)). The exploded
    // inverted index below is consumed twice — inside the prefix-index
    // build and, re-derived, as the exact-overlap refinement's idxB —
    // so an unmaterialized shingle pipeline would run end-to-end
    // twice per action. With the input materialized, the re-derive is
    // one cheap checkpoint-read + explode, deliberately NOT persisted:
    // the full token explosion is the largest table in this operator,
    // and only the skinny prefix index earns storage.
    val idx = docShingles.select(col(idCol), size(col(shCol)).as("_sz"),
      explode(col(shCol)).as("_tok"))
    // dfreq is |distinct shingles| rows of two longs — broadcast it so
    // the inverted index is NOT shuffled+sorted for a sort-merge join
    // (measured: the SMJ here dominated q37). At 100-TB corpus scale,
    // where dfreq outgrows broadcast, swap the hint for "shuffle_hash";
    // the prep stays one agg shuffle either way.
    val dfreq = broadcast(
      idx.groupBy(col("_tok")).agg(count(lit(1)).as("_df")))
    // r22 (guide §2.3): the df-rank window below requires
    // hashpartitioning(idCol), and its input used to be the EXPLODED
    // inverted index (checkpoint RDD partitioning never satisfies a
    // hash requirement), so EnsureRequirements exchanged ~|corpus
    // tokens| joined rows. Generate preserves its child's output
    // partitioning, so repartitioning the COMPACT per-doc table first
    // satisfies the window with the same single exchange carrying ~3×
    // fewer bytes per doc (the array once vs one row per token), and
    // the explode+broadcast-join stage inherits the exchange's
    // parallelism instead of running in the checkpoint's (single, on
    // the fixture) partition. dfreq and the refinement's idxB keep
    // the un-repartitioned lineage — their aggregations reduce
    // map-side / join on their own keys. Interleaved A/B (OPTIMIZATION_r22.md,
    // 9 reps calm): q37 end-to-end med 2.141 → 1.898 s, min 1.910 →
    // 1.812; candidate rows bit-identical.
    val idxW = docShingles.repartition(col(idCol))
      .select(col(idCol), size(col(shCol)).as("_sz"),
        explode(col(shCol)).as("_tok"))
    val ranked = idxW.join(dfreq, "_tok")
      .withColumn("_rn", row_number().over(
        Window.partitionBy(col(idCol)).orderBy(col("_df"), col("_tok"))))
    // ASYMMETRIC prefixes (PPJoin, Xiao et al. WWW'08 §3.1): orient
    // every pair so the LARGER doc probes and the smaller is indexed.
    // The probing side needs the full mid-prefix |S|−⌈t·|S|⌉+1, but the
    // indexed side only |S|−⌈(2t/(1+t))·|S|⌉+1 (for the smaller doc y
    // of a qualifying pair, overlap ≥ ⌈t/(1+t)·(|x|+|y|)⌉ ≥
    // (2t/(1+t))·|y|, so the smallest shared token must sit that early
    // in y). At t=4/5 that is ~0.2·|S| vs ~0.11·|S| — candidate volume
    // scales with probe_df × index_df per token, roughly halving the
    // output vs symmetric prefixes (measured: 52,380 → symmetric /
    // asymmetric delta below). Orientation key is (size, id) so
    // equal-size pairs pick exactly one direction.
    val probeLen =
      col("_sz") - floor((col("_sz") * num + den - 1) / den) + 1
    val indexLen =
      col("_sz") - floor((col("_sz") * 2 * num + (num + den - 1)) / (num + den)) + 1
    // The prefix index is consumed THREE times (probe side, index
    // side, and the exact-overlap refinement below) — materialize it
    // once so the df-rank window over the full inverted index runs
    // once, not per consumer. It is ~(1−t)·|corpus tokens| skinny
    // rows; a 100-TB run persists exactly this table between stages
    // (it IS the PPJoin index). Materialize.once = eager RELIABLE
    // checkpoint (survives executor loss when the checkpoint dir is
    // durable, unlike the localCheckpoint used through r11; row-based
    // files, unlike the columnar-cache persist r12 first tried, whose
    // array-column encode tripled q37) — and the expensive rank
    // window provably runs once, not per consumer or racing stage.
    val pref = Materialize.once("textops.prefixIndex", ranked
      .filter(col("_rn") <= probeLen)
      .select(col(idCol), col("_tok"), col("_sz"), col("_rn"),
        (col("_rn") <= indexLen).as("_inIdx")))
    // length filter (PPJoin): J ≥ t forces t·|A| ≤ |B| ≤ |A|/t — prune
    // size-mismatched pairs before they ever reach the verify stage
    val matched = pref
      .select(col(idCol).as("id_a"), col("_tok"),
        col("_sz").as("_sza"), col("_rn").as("_pa"))
      .join(pref.filter(col("_inIdx"))
        .select(col(idCol).as("id_b"), col("_tok"),
          col("_sz").as("_szb"), col("_rn").as("_pb")), Seq("_tok"))
      .filter(struct(col("_szb"), col("id_b")) < struct(col("_sza"), col("id_a"))
        && col("_szb") * den >= col("_sza") * num
        && col("_sza") * den >= col("_szb") * num)
    // POSITIONAL filter (PPJoin, Xiao et al. WWW'08 §3.2) — the round-4
    // measurement showed the prefix+length filters alone overgenerate
    // 29× (175,420 candidates for 6,002 true pairs at sf0.1), melting
    // the verify join. J ≥ num/den forces the overlap lower bound
    //   minov = ⌈num·(|A|+|B|)/(num+den)⌉   (from J = ov/(|A|+|B|−ov)).
    // Both bounds below are valid overlap UPPER bounds, so a true pair
    // can never fail them (bound ≥ true overlap ≥ minov):
    //  • per-match: a shared token at df-rank (pa, pb) splits the sets;
    //    shared tokens orderable ≤ it number ≤ min(pa, pb) (they pack
    //    positions 1..pa / 1..pb), those above ≤ min(|A|−pa, |B|−pb).
    //    Dropping failing match rows is recall-safe: any one valid
    //    bound below minov proves the PAIR is below threshold.
    //  • per-pair: shared PREFIX tokens are exactly the k surviving
    //    match rows (any shared token ordered ≤ the last prefix match
    //    is itself in both prefixes), and the last match (max pa,
    //    max pb — positions are monotone in the global order) caps the
    //    rest at min(|A|−pa_max, |B|−pb_max). So k + that ≥ overlap.
    // The groupBy replaces the old distinct() — same shuffle key, so
    // the extra aggregates are free; the candidate set shrinks to
    // near the true pair set before any full shingle array is shipped.
    val minov = floor(
      ((col("_sza") + col("_szb")) * num + (num + den - 1)) / (num + den))
    val pairBound = matched
      .filter(least(col("_pa"), col("_pb"))
        + least(col("_sza") - col("_pa"), col("_szb") - col("_pb")) >= minov)
      .groupBy(col("id_a"), col("id_b"))
      .agg(count(lit(1)).as("_k"),
        max(col("_pa")).as("_pamax"), max(col("_pb")).as("_pbmax"),
        max(col("_sza")).as("_sza"), max(col("_szb")).as("_szb"))
      .filter(col("_k")
        + least(col("_sza") - col("_pamax"), col("_szb") - col("_pbmax"))
        >= minov)
      .select("id_a", "id_b", "_sza", "_szb")
    // EXACT prefix-overlap refinement — the filter that finally gets
    // candidates to ~the true pair set. The positional bounds above
    // cannot kill a pair sharing ONE rare token at an early rank (the
    // common false-candidate shape: bound = 1 + (|A|−rank) stays over
    // minov). But the set identity
    //   overlap = |prefix(A) ∩ B| + |suffix(A) ∩ B|
    //           ≤ |prefix(A) ∩ B| + (|A| − prefixLen(A))
    // is order-free and tight: at t=4/5 a true pair needs
    // |prefix(A) ∩ B| ≥ minov − (|A|−La) (≈ 10 of ~20 prefix tokens at
    // the fixture's doc length) while false candidates share 1-2.
    // Computing |prefix(A) ∩ B| exactly is one equi-join of the
    // surviving candidates × A's prefix tokens against the full
    // inverted index on (id_b, token) — linear in |candidates|×La with
    // a near-unique join key, so no skew amplification at any corpus
    // size — followed by a count. True pairs can never be dropped:
    // the bound is a valid overlap upper bound and they beat minov.
    val prefA = pref.select(col(idCol).as("id_a"), col("_tok"))
    val idxB = idx.select(col(idCol).as("id_b"), col("_tok"))
    val probeLenA =
      col("_sza") - floor((col("_sza") * num + den - 1) / den) + 1
    pairBound.join(prefA, "id_a")
      .join(idxB, Seq("id_b", "_tok"))
      .groupBy(col("id_a"), col("id_b"))
      .agg(count(lit(1)).as("_kf"),
        max(col("_sza")).as("_sza"), max(col("_szb")).as("_szb"))
      .filter(col("_kf") + (col("_sza") - probeLenA) >= minov)
      // pairs were oriented by (size, id); normalize to id_a < id_b —
      // each unordered pair occurs in exactly one orientation, so no
      // extra distinct is needed
      .select(least(col("id_a"), col("id_b")).as("id_a"),
        greatest(col("id_a"), col("id_b")).as("id_b"))
  }

  /** Exact Jaccard verification of candidate pairs over distinct
    * shingle sets, in pure integer arithmetic (intersection and union
    * sizes) so the ≥-threshold filter is bit-exact in any engine.
    * Keeps only pairs with J = inter/union >= num/den.
    */
  def jaccardVerify(cands: DataFrame, docShingles: DataFrame, idCol: String,
                    shCol: String, num: Int, den: Int): DataFrame = {
    val sa = docShingles.select(col(idCol).as("id_a"), col(shCol).as("_sh_a"))
    val sb = docShingles.select(col(idCol).as("id_b"), col(shCol).as("_sh_b"))
    cands.join(sa, "id_a").join(sb, "id_b")
      .withColumn("n_inter", size(array_intersect(col("_sh_a"), col("_sh_b"))))
      .withColumn("n_union",
        size(col("_sh_a")) + size(col("_sh_b")) - col("n_inter"))
      .filter(col("n_union") > 0 && col("n_inter") * den >= col("n_union") * num)
      .select(col("id_a"), col("id_b"), col("n_inter"), col("n_union"))
  }

  /** 64-bit SimHash over tokens: per-token xxhash64, each bit votes
    * +1/-1, fingerprint bit = sign of the vote sum. Near-dups differ in
    * few bits (Hamming distance); grouping on bit-prefixes gives the
    * banded search analog to MinHash. Sketch internals are not
    * SQL-portable → verified by unit test, not the DuckDB oracle.
    *
    * Column form — convenient for inline use, but the 64 `aggregate`
    * HOFs each re-walk the token array with interpreted lambdas.
    * Query-scale call sites use [[simhashSignatures]] below (explode +
    * one hash aggregation, all 64 vote sums codegen'd with map-side
    * partials — the minhashSignatures layout). Values are IDENTICAL:
    * vote sums are commutative integer additions, so the two forms
    * agree bit for bit at any partition count.
    */
  def simhash64(toks: Column): Column = {
    val hashes = transform(toks, t => xxhash64(t))
    val bits = (0 until 64).map { i =>
      val votes = aggregate(hashes, lit(0),
        (acc, h) => acc + when(shiftright(h, i).bitwiseAND(1) === 1, 1).otherwise(-1))
      when(votes > 0, shiftleft(lit(1L), i)).otherwise(lit(0L))
    }
    bits.reduce(_.bitwiseOR(_))
  }

  /** Dataframe-level SimHash (the fast path): explode tokens, hash
    * each ONCE, then one hash aggregation with 64 codegen'd ±1 vote
    * sums folded into the fingerprint. Partial aggregation shrinks the
    * shuffle to |docs| rows × 64 ints regardless of corpus size.
    * Returns (idCol, simhashCol). Bit-identical to [[simhash64]] (vote
    * addition is commutative) for every row BOTH forms emit. The one
    * divergence: docs whose token array is empty or null vanish at
    * the explode here, where the column form yields the degenerate
    * fingerprint 0L — `tokens()` never produces an empty array for
    * non-null text, so on tokenized non-null corpora every document
    * row survives and the forms agree row-for-row.
    */
  def simhashSignatures(df: DataFrame, idCol: String, toksCol: String,
                        out: String): DataFrame = {
    // r21 (guide §4): per-bit SET-BIT COUNTS instead of ±1 votes — the
    // aggregate update is a branchless shift/and/add per bit where the
    // when(...±1) form compiled to a branch per bit per token. The
    // ±1 vote sum is 2·ones − n, so "votes > 0" ⟺ "2·ones > n":
    // bit-identical fingerprints for every row (TextOpsSpec pins the
    // column-form equivalence).
    val ones = (0 until 64).map { i =>
      sum(shiftright(col("_h"), i).bitwiseAND(1)).as(s"_v$i")
    }
    df.select(col(idCol), explode(col(toksCol)).as("_t"))
      .select(col(idCol), xxhash64(col("_t")).as("_h"))
      .groupBy(col(idCol)).agg(ones.head, (ones.tail :+
        count(lit(1)).as("_n")): _*)
      .select(col(idCol),
        (0 until 64).map { i =>
          when(col(s"_v$i") * 2 > col("_n"), shiftleft(lit(1L), i))
            .otherwise(lit(0L))
        }.reduce(_.bitwiseOR(_)).as(out))
  }

  /** Banded Hamming-ball candidate pairs over a 64-bit SimHash column:
    * the fingerprint splits into `bands` contiguous bit-slices; docs
    * sharing ANY slice land in the same bucket, and by pigeonhole every
    * pair within Hamming distance `bands − 1` shares at least one
    * slice — so a `maxHam ≤ bands − 1` search has PROVABLY complete
    * recall (the standard simhash index layout, e.g. 4×16-bit bands for
    * a Hamming-≤3 search). Candidate generation is a hash-partitioned
    * equi-join on (band_idx, band_val) — never all-pairs — and the
    * final filter recomputes exact Hamming distance via bit_count(XOR),
    * so precision is exact. Returns (id_a, id_b, ham).
    */
  def simhashBandedPairs(docs: DataFrame, idCol: String, hashCol: String,
                         bands: Int, maxHam: Int): DataFrame = {
    require(64 % bands == 0, "bands must divide 64")
    require(maxHam <= bands - 1,
      s"banded search is only complete for maxHam <= bands-1 (= ${bands - 1})")
    val width = 64 / bands
    val mask = if (width == 64) -1L else (1L << width) - 1L
    val slices = (0 until bands).map { i =>
      struct(lit(i).as("band_idx"),
        shiftrightunsigned(col(hashCol), i * width).bitwiseAND(lit(mask))
          .as("band_val"))
    }
    val banded = docs.select(col(idCol), col(hashCol),
        explode(array(slices: _*)).as("_bv"))
      .select(col(idCol), col(hashCol), col("_bv.band_idx").as("band_idx"),
        col("_bv.band_val").as("band_val"))
    val a = banded.select(col("band_idx"), col("band_val"),
      col(idCol).as("id_a"), col(hashCol).as("_h_a"))
    val b = banded.select(col("band_idx"), col("band_val"),
      col(idCol).as("id_b"), col(hashCol).as("_h_b"))
    a.join(b, Seq("band_idx", "band_val"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        bit_count(col("_h_a").bitwiseXOR(col("_h_b"))).cast("long").as("ham"))
      .filter(col("ham") <= maxHam)
      .distinct()
  }

  /** Language-ID heuristic: count tokens hitting a per-language marker
    * list; predicted language = best hit ratio above a floor. Integer
    * counts only — oracle-safe. Real systems use char n-gram profiles;
    * the shape (per-doc bounded map over a broadcast marker set) is
    * identical and scale-free.
    */
  def langMarkerHits(toks: Column, markers: Seq[String]): Column =
    size(filter(toks, t => t.isInCollection(markers)))

  /** Standard small English stopword set for quality scoring — a
    * production pipeline swaps in per-language lists; the shape (a
    * broadcast-literal IN-set scanned per token) is what matters.
    */
  val EnglishStopwords: Seq[String] = Seq(
    "the", "a", "an", "of", "and", "or", "to", "in", "is", "are", "was",
    "it", "that", "this", "for", "on", "with", "as", "at", "by", "be")

  /** Quality signals (integer/single-division only): token count,
    * distinct-token count, char count, punctuation count, stopword
    * count, mean token length, stopword ratio. The composite flag
    * mirrors common pretraining-corpus filters (too short / too
    * repetitive / unnatural stopword density — real text carries
    * function words; keyword soup and boilerplate don't).
    */
  def qualitySignals(df: DataFrame, idCol: String, textCol: String,
                     stopwords: Seq[String] = EnglishStopwords): DataFrame = {
    val toks = tokens(col(textCol))
    df.select(
      col(idCol),
      length(col(textCol)).as("n_chars"),
      size(toks).as("n_tokens"),
      size(array_distinct(toks)).as("n_distinct"),
      (length(col(textCol)) -
        length(regexp_replace(col(textCol), "[.,!?;:]", ""))).as("n_punct"),
      langMarkerHits(toks, stopwords).as("n_stopwords"))
      .withColumn("mean_tok_len",
        (col("n_chars") - (col("n_tokens") - 1)).cast("double") / col("n_tokens"))
      .withColumn("stopword_ratio",
        col("n_stopwords").cast("double") / col("n_tokens"))
      .withColumn("quality_flag",
        // null text first (r14 review): n_tokens is NULL there, both
        // threshold whens evaluate NULL (not matched) and a contentless
        // doc fell through to 'ok' — passing the very filter that
        // exists to drop it. Counts stay NULL (the q90 rule: absent
        // content keeps NULL stats); only the FLAG pins it too_short.
        // n_chars is NULL exactly when the text is (length(NULL)).
        when(col("n_chars").isNull, lit("too_short"))
          .when(col("n_tokens") < 10, lit("too_short"))
          .when(col("n_distinct") * 3 < col("n_tokens"), lit("repetitive"))
          .otherwise(lit("ok")))
  }

  /** Token counting (q32): whitespace tokens plus a BPE-ish subword
    * estimate — alpha/digit/other runs via regexp, and ceil(len/4)
    * subwords per run (the ~4-chars-per-token rule of thumb). Integer
    * arithmetic throughout.
    */
  def tokenCounts(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    // col()+lit(), not an expr() string splice: a dotted/spaced/
    // reserved column name must resolve like every other op's, never
    // re-parse as SQL
    val runs = regexp_extract_all(col(textCol),
      lit("[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]"), lit(0))
    df.select(
      col(idCol),
      size(tokens(col(textCol))).as("n_ws_tokens"),
      size(runs).as("n_runs"),
      aggregate(runs, lit(0L),
        (acc, t) => acc + shiftright(length(t) + 3, 2).cast("long"))
        .as("n_subwords_est"))
  }

  /** Positional polynomial document fingerprint (q33): a rolling-hash
    * style content signature Σ_i (i+1)·(ascii(t_i)·131 + len(t_i))
    * mod p — order-sensitive (unlike a bag-of-words hash) yet exactly
    * portable to any SQL engine via integer arithmetic. The modulus is
    * applied at every fold step, so the accumulator stays < 2^31 and
    * the per-step addend < i_max·2^18 — no Long overflow at any
    * document length (mod is additive-homomorphic, so the result
    * equals a wide-integer Σ mod p, which is what the oracle computes
    * in HUGEINT).
    */
  def docFingerprint(toks: Column): Column =
    // empty/NULL guard: sequence(1, 0) yields the DESCENDING [1, 0]
    // (not an empty array), zip_with null-pads the empty token side,
    // and the fold returns NULL — which silently drops the doc from
    // any fingerprint-equality join. A NULL token array hit the SAME
    // silent drop through the other door: size(NULL) is NULL under
    // ANSI, the empty guard fell through, and the fold over NULL was
    // NULL (r14 review — the guard was half-done against its own
    // rationale). Both contentless shapes fingerprint as the empty
    // sum mod p = 0.
    when(toks.isNull || size(toks) === 0, lit(0L)).otherwise(
      aggregate(
        zip_with(toks, sequence(lit(1), size(toks)),
          (t, i) => i.cast("long") * (ascii(t) * 131L + length(t))),
        lit(0L), (acc, x) => pmod(acc + x, lit(MersennePrime))))
}
