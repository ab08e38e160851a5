package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Embedding / similarity-search operators (north-star mandate; the
  * reference has no vector data — closest analog is its dimension
  * enrichment joins, kicc_to_tb_sales.py:108-125, whose broadcast-probe
  * shape these ops reuse). All arithmetic is done in DOUBLE via
  * higher-order functions (`transform`/`zip_with`/`aggregate`) — fully
  * codegen-compatible, no UDFs, order-deterministic (fold is
  * left-to-right in array order, so results are identical at any
  * partition count).
  */
object VectorOps {

  /** Elementwise cast to double — float32 parquet values widen exactly. */
  def toDouble(v: Column): Column = transform(v, x => x.cast("double"))

  /** Dot product via zip_with + left-to-right fold. Portable to any
    * session; the lambda runs interpreted per element — prefer
    * [[nativeDot]] on hot paths.
    */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, x) => acc + x)

  def l2Norm(v: Column): Column = sqrt(dot(v, v))

  /** Cosine similarity of two double arrays (portable HOF form).
    * Zero-norm inputs yield NaN through a guarded branch (r14 review):
    * under Spark 4's ANSI default a raw double division THROWS
    * DIVIDE_BY_ZERO (the r13 q74 finding), so the unguarded form would
    * kill a whole scan on one all-zero embedding where the native
    * `graft_cosine` codegen yields NaN that callers filter with
    * isnan — the CaseWhen evaluates only the matching branch, keeping
    * the nonzero path bit-identical to the native division (the
    * parity spec asserts ===). NULL inputs stay NULL (the when
    * condition is NULL → otherwise → null/null = NULL pre-division:
    * dot() is NULL and the product short-circuits before any /0). */
  def cosine(a: Column, b: Column): Column = {
    val denom = l2Norm(a) * l2Norm(b)
    when(denom === 0.0, lit(Double.NaN)).otherwise(dot(a, b) / denom)
  }

  /** Native codegen'd dot product / fused one-pass cosine
    * (graft.plans.VectorExpressions), resolved by name — requires the
    * session to register [[graft.plans.GraftExtensions]] via
    * spark.sql.extensions, as every engine entry point (Verify, Bench,
    * Smoke, tests) does. Bit-identical to the HOF forms (same IEEE
    * accumulation order, left to right).
    */
  def nativeDot(a: Column, b: Column): Column = call_function("graft_dot", a, b)

  def nativeCosine(a: Column, b: Column): Column =
    call_function("graft_cosine", a, b)

  /** Brute-force top-k cosine neighbors of one probe vector (q26): the
    * exact baseline every ANN variant is measured against. The probe
    * side is a single row → Catalyst plans a broadcast nested-loop
    * join; the corpus is scanned once, fully parallel, no shuffle
    * until the final top-k (a k-row ordered take on the driver).
    * At 100 TB: identical plan; the scan dominates and partitions
    * evenly; `limit` after `orderBy` is a per-partition top-k then a
    * k-sized merge — never a global sort materialization.
    */
  def cosineTopK(corpus: DataFrame, probe: DataFrame, idCol: String,
                 vecCol: String, k: Int): DataFrame = {
    val p = broadcast(probe.select(col(vecCol).as("_probe_vec")))
    corpus.join(p)
      // no toDouble wrapper: call_function resolves through the
      // registry, whose builder already wraps both arguments in a
      // codegen'd Cast to array<double> — the HOF transform added an
      // interpreted per-element pass + an array allocation per row
      // on the brute-force scan for nothing
      .select(col(idCol),
        round(nativeCosine(col(vecCol), col("_probe_vec")), 6).as("sim"))
      // NaN guard: Spark orders NaN ABOVE every real double, so a
      // zero-norm corpus vector (cos = 0/0 = NaN) would sit at rank 1
      // and displace a true neighbor
      .filter(col("sim").isNotNull && !isnan(col("sim")))
      // id tiebreak asc_nulls_last (here and in the LSH/IVF variants
      // below): a NULL id tying on sim at the top-k boundary would
      // survive the LIMIT on Spark's bare ASC (nulls first) and be
      // cut on DuckDB's nulls-last default (r18 review pass 14)
      .orderBy(col("sim").desc, col(idCol).asc_nulls_last)
      .limit(k)
  }

  /** Near-duplicate pairs by cosine within a blocking key (q35):
    * embeddings are compared only inside their block (here: label;
    * in production: an LSH bucket or IVF cell), so the join is a
    * hash-partitioned equi-join on the block key — all-pairs only
    * within a block, never globally. Output is id pairs only
    * (integers — bit-exact in any engine; the threshold compare
    * happens on doubles with a wide margin by construction).
    *
    * Per-pair cost is one dot product: each side's L2 norm is computed
    * once per ROW in the pre-join projection (materialized by the join
    * exchange), and the threshold test `dot ≥ t·|a|·|b|` is exactly
    * equivalent to `cos ≥ t` for t ≥ 0 — vs the naive per-pair cosine
    * that re-folds both norms for every candidate pair (3× the flops
    * on the quadratic stage).
    */
  def cosineNearDupPairs(vecs: DataFrame, idCol: String, vecCol: String,
                         blockCol: String, threshold: Double): DataFrame = {
    require(threshold >= 0, "threshold must be non-negative")
    val v = toDouble(col(vecCol))
    val a = vecs.select(col(blockCol), col(idCol).as("id_a"),
      v.as("_v_a"), l2Norm(v).as("_n_a"))
    val b = vecs.select(col(blockCol), col(idCol).as("id_b"),
      v.as("_v_b"), l2Norm(v).as("_n_b"))
    a.join(b, Seq(blockCol))
      .filter(col("id_a") < col("id_b"))
      // zero-norm guard: for |a| = 0 the rewrite degenerates to
      // 0 >= 0 = true — a single zero vector would pair with its
      // whole block, where the cosine form the doc promises
      // equivalence to yields NaN >= t = false.
      // FINITE-norm guard (r16 naninf probe): Spark's SQL NaN
      // semantics order NaN GREATER than every value (and NaN = NaN),
      // so a NaN norm passed `> 0` and the NaN-vs-NaN threshold
      // comparison passed too — one NaN embedding paired with its
      // whole block. `<= MaxValue` is false for both NaN and +Inf
      // under those same semantics, so non-finite-norm vectors carry
      // no direction and join nothing (the oracle's isfinite guard).
      .filter(col("_n_a") > 0 && col("_n_a") <= lit(Double.MaxValue) &&
        col("_n_b") > 0 && col("_n_b") <= lit(Double.MaxValue))
      .filter(nativeDot(col("_v_a"), col("_v_b")) >=
        lit(threshold) * col("_n_a") * col("_n_b"))
      .select(col("id_a"), col("id_b"))
  }

  /** IVF quantizer BUILD: per-cell mean vector (|cells| rows) from the
    * cell assignments in `labelCol`. This is the INGEST-TIME step — it
    * scans the full corpus once, so it must run when vectors are
    * loaded and be persisted (parquet) for every query to read;
    * recomputing it per query would nullify IVF's pruning win (the
    * round-3 q35 defect: the quantizer build was inlined in the search
    * plan, making every "pruned" query a full scan).
    *
    * A member whose squared norm is not finite (a NaN or ±Inf
    * component) carries no direction and is left out of its cell's
    * mean; averaging it in would make the whole cell's centroid NaN
    * and drop every finite member of that cell from the search. Null
    * components add nothing to the norm, as they add nothing to the
    * per-position mean.
    */
  def ivfCentroids(vecs: DataFrame, vecCol: String, labelCol: String): DataFrame =
    vecs.select(col(labelCol), toDouble(col(vecCol)).as("_v"))
      // `<= MaxValue` is false for NaN and +Inf under Spark's NaN
      // ordering (cosineNearDupPairs' finite-norm guard)
      .filter(aggregate(col("_v"), lit(0.0),
        (acc, x) => acc + coalesce(x * x, lit(0.0))) <= lit(Double.MaxValue))
      .select(col(labelCol), posexplode(col("_v")))
      .groupBy(col(labelCol), col("pos"))
      .agg(avg(col("col")).as("c"))
      .groupBy(col(labelCol))
      .agg(array_sort(collect_list(struct(col("pos"), col("c")))).as("pc"))
      .select(col(labelCol), transform(col("pc"), x => x("c")).as("_centroid"))

  /** Random-hyperplane LSH bucket (signed random projections — the
    * SimHash construction applied to vectors): bit i = sign(v · hᵢ),
    * with DETERMINISTIC integer-grid hyperplanes
    * hᵢ[j] = ((1009·i + 9176·j + 7) mod 193) − 96 ∈ [−96, 96].
    * Two vectors at angle θ collide per bit with prob 1 − θ/π, so an
    * 8-bit bucket keeps near-neighbors together with the standard
    * SRP-LSH guarantee. The integer formula (instead of seeded
    * Gaussians) is what makes the bucket EXACTLY reproducible in any
    * SQL engine: each product is a float-derived double × small int —
    * exact in IEEE double — and both engines fold the sum left to
    * right, so the q55 oracle can recompute identical buckets.
    * Computable row-local (no training pass, no corpus statistics) —
    * assign at ingest, store as a column, partition by it.
    */
  def rhpBucket(vec: Column, bits: Int): Column = {
    // bits > 64 would silently ALIAS plane signs onto wrapped bit
    // positions (Java shift semantics: 1L << 64 == 1L) — two
    // independent hyperplanes OR-ed into one bit, wrong buckets with
    // no error (r14 review)
    require(bits >= 1 && bits <= 64, s"bits must be in [1,64], got $bits")
    val planes = (0 until bits).map { i =>
      val d = aggregate(
        zip_with(vec, sequence(lit(0), size(vec) - 1),
          (x, j) => x * ((lit(1009 * i) + j * 9176 + 7) % 193 - 96).cast("double")),
        lit(0.0), (acc, x) => acc + x)
      when(d > 0, shiftleft(lit(1L), i)).otherwise(lit(0L))
    }
    planes.reduce(_.bitwiseOR(_))
  }

  /** LSH-bucketed ANN search (q55) — the data-INDEPENDENT sibling of
    * [[ivfTopK]]: the corpus is bucketed by [[rhpBucket]] (8 bits →
    * 256 buckets) and the search scans the probe's bucket, ranked by
    * exact cosine. Same 1/|buckets| scan-pruning story as IVF, but the
    * quantizer needs no build pass and never staleness-drifts — the
    * right trade when the corpus changes faster than a quantizer
    * retrain cycle.
    *
    * MULTI-PROBE recall knob (`probes` > 1): also scan the buckets at
    * Hamming distance 1 from the probe's (flip bit 0, bit 1, …) — a
    * near neighbor whose vector sits close to one hyperplane lands one
    * bit away, and single-probe misses it. `probes` = p scans the
    * probe bucket + the first p−1 bit-flips: recall grows monotonically
    * with p at a cost of p/|buckets| of the corpus (p = bits+1 covers
    * the full Hamming-1 ball). The flip set is deterministic, so the
    * search stays exactly reproducible engine-to-engine.
    */
  def lshAnnTopK(corpus: DataFrame, probe: DataFrame, idCol: String,
                 vecCol: String, bits: Int, k: Int,
                 probes: Int = 1, bucketCol: Option[String] = None): DataFrame = {
    require(probes >= 1 && probes <= bits + 1,
      s"probes must be in [1, bits+1]; Hamming-1 ball has ${bits + 1} buckets")
    // bucketCol = the ingest-time path this op's own doc prescribes
    // ("assign at ingest, store as a column, partition by it"): with a
    // stored bucket column the probe's bucket list prunes at the SCAN
    // (partition/row-group level). Without it the buckets are computed
    // inline — correct, but every query then reads the whole corpus
    // to bucket it, which at 100 TB forfeits the 1/|buckets| win.
    val bucketed = bucketCol match {
      case Some(bc) => corpus.select(col(idCol),
        toDouble(col(vecCol)).as("_v"), col(bc).as("_bucket"))
      case None => corpus.select(col(idCol), toDouble(col(vecCol)).as("_v"))
        .withColumn("_bucket", rhpBucket(col("_v"), bits))
    }
    val pb = rhpBucket(col("_probe_vec"), bits)
    val probeBuckets = array((0 until probes).map {
      case 0 => pb
      case i => pb.bitwiseXOR(lit(1L << (i - 1)))
    }: _*)
    val p = broadcast(probe.select(toDouble(col(vecCol)).as("_probe_vec"))
      .withColumn("_bucket", explode(probeBuckets)))
    bucketed.join(p, "_bucket") // bucket pruning: `probes` buckets scanned
      .select(col(idCol),
        round(nativeCosine(col("_v"), col("_probe_vec")), 6).as("sim"))
      .filter(col("sim").isNotNull && !isnan(col("sim"))) // zero-norm rows must not outrank sim=1.0
      .orderBy(col("sim").desc, col(idCol).asc_nulls_last)
      .limit(k)
  }

  /** IVF-style ANN SEARCH (q35): `labelCol` is the coarse quantizer's
    * cell assignment and `centroids` the PREBUILT [[ivfCentroids]]
    * table. Search = (1) rank centroids by probe similarity (|cells|
    * rows → broadcast), (2) scan only the best `nprobe` cells'
    * vectors. The query-time plan touches the corpus exactly once,
    * restricted by the broadcast cell list — no full-corpus aggregate
    * anywhere (PlanSpec-asserted). This is the 100-TB path: brute
    * force scans everything; IVF scans nprobe/|cells| of it.
    */
  def ivfTopK(vecs: DataFrame, centroids: DataFrame, probe: DataFrame,
              idCol: String, vecCol: String, labelCol: String,
              nprobe: Int, k: Int): DataFrame = {
    val p = broadcast(probe.select(toDouble(col(vecCol)).as("_probe_vec")))
    val best = broadcast(
      centroids.join(p)
        .select(col(labelCol),
          nativeCosine(col("_centroid"), col("_probe_vec")).as("_csim"))
        .filter(col("_csim").isNotNull && !isnan(col("_csim"))) // a zero-mean cell must not hog a probe slot
        .orderBy(col("_csim").desc, col(labelCol))
        .limit(nprobe)
        .select(col(labelCol)))
    vecs.join(best, Seq(labelCol)) // cell pruning: only nprobe cells scanned
      .join(p)
      // registry cast handles the float→double widening (see cosineTopK)
      .select(col(idCol),
        round(nativeCosine(col(vecCol), col("_probe_vec")), 6).as("sim"))
      .filter(col("sim").isNotNull && !isnan(col("sim")))
      .orderBy(col("sim").desc, col(idCol).asc_nulls_last)
      .limit(k)
  }
}
