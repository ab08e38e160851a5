package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** PERF-ONLY data scale-up for the empirical scale ladder
  * (SCALING.md): replicates an SF dir ~Nx so the ladder can measure
  * sf0.1 → sf1 wall-time ratios. NOT correctness data — the oracle
  * gate stays on the driver-generated dirs (TESTDATA.md, read-only).
  *
  * Replica discipline (replica 0 is the identity — the original rows
  * survive verbatim):
  *   - join keys shift by `replica * KOFF`, BOTH sides of every FK,
  *     so joins match only within a replica: per-key fan-out, group
  *     sizes, and join selectivity all stay exactly sf0.1-shaped
  *     while key cardinality grows 10x — the TPC-H scaling model.
  *   - fixed dims (region, nation) copy once, like TPC-H.
  *   - `documents.text` gets a PER-TOKEN suffix bijection per replica:
  *     within-replica shingle-set Jaccard is EXACTLY preserved (token
  *     mapping is 1:1), while cross-replica copies share no shingles —
  *     without this, every doc would acquire 9 exact clones and the
  *     near-dup operators would face a quadratic pair blow-up no real
  *     10x corpus has.
  *   - `embeddings.embedding` gets a per-replica deterministic SIGN
  *     FLIP of a pseudo-random half of the dimensions: an orthogonal
  *     transform, so within-replica cosine geometry is EXACTLY
  *     preserved, while cross-replica copies decorrelate to ~0 cosine
  *     (same rationale as the text bijection).
  */
object DevScaleUp {
  private val KOFF = 100000000L // far above any key the generator emits

  def main(args: Array[String]): Unit = {
    val src = args.headOption.getOrElse("/root/testdata/sf0.1")
    val dst = if (args.length > 1) args(1) else "/tmp/graft_sf1"
    val reps = if (args.length > 2) args(2).toInt else 10
    val spark = Session.local(Session.envCpus)
    spark.sparkContext.setLogLevel("WARN")

    def copyOnce(name: String): Unit =
      spark.read.parquet(s"$src/$name.parquet")
        .write.mode("overwrite").parquet(s"$dst/$name.parquet")

    def replicate(name: String, shiftCols: Seq[String],
                  extra: (DataFrame, Int) => DataFrame = (df, _) => df): Unit = {
      val base = spark.read.parquet(s"$src/$name.parquet")
      (0 until reps).map { i =>
        val shifted = shiftCols.foldLeft(base)((df, c) =>
          df.withColumn(c, col(c) + lit(i * KOFF)))
        extra(shifted, i)
      }.reduce(_ unionAll _)
        .write.mode("overwrite").parquet(s"$dst/$name.parquet")
      println(s"[scaleup] $name x$reps done")
    }

    copyOnce("region"); copyOnce("nation")
    replicate("customer", Seq("c_custkey"))
    replicate("supplier", Seq("s_suppkey"))
    replicate("part", Seq("p_partkey"))
    replicate("orders", Seq("o_orderkey", "o_custkey"))
    replicate("lineitem", Seq("l_orderkey", "l_partkey", "l_suppkey"))
    replicate("events", Seq("event_id", "user_id"))
    replicate("documents", Seq("doc_id"), (df, i) =>
      if (i == 0) df
      else df
        .withColumn("text", array_join(
          transform(split(col("text"), " "), t => concat(t, lit(s"_r$i"))), " "))
        .withColumn("n_chars", length(col("text")).cast("long")))
    replicate("embeddings", Seq("vec_id"), (df, i) =>
      if (i == 0) df
      else df.withColumn("embedding",
        transform(col("embedding"), (x: Column, d: Column) =>
          when(pmod(hash(lit(i), d), lit(2)) === 1, -x).otherwise(x))))

    println(s"[scaleup] wrote $dst (reps=$reps from $src)")
    spark.stop()
  }
}
