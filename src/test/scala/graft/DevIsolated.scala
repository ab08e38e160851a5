package graft

/** Dev probe for the isolated-batch floor inflation (r16 VERDICT #2):
  * q36/q49/q90/q104 read ~1.5–2× their in-context floors when run as
  * isolated `SPARK_GRAFT_BENCH_ONLY` reps=5 batches — four documented
  * instances — and every isolated pricing decision inherits the bias.
  *
  * Competing mechanisms:
  *   - JVM/JIT maturity: in a full 113-query bench the target runs
  *     ~100 queries deep, after millions of row operations have pushed
  *     the SHARED Spark infrastructure (codegen framework, parquet
  *     readers, expression eval, shuffle) through C2; an isolated
  *     batch times every rep on a barely-warmed JVM, and 5 reps of one
  *     small query never reach steady state.
  *   - Stall sampling: ambient load happens to hit the short runs.
  *
  * The experiment separates them with one knob: `warmN` — run the
  * FIRST N registered queries once each, UNTIMED, before timing the
  * target (N=0 reproduces the standard isolated shape; the target is
  * excluded from the warm set so none of its own artifacts/caches are
  * pre-built — only shared-infrastructure warmth changes between
  * arms). If inflation tracks warmN→0 and vanishes at warmN=20 with
  * flat canaries, the mechanism is JVM maturity, not stalls — and
  * isolated pricings must either warm first or be read as upper
  * bounds.
  *
  * VERDICT (r17, measured — SCALING.md "Round-17 isolated-batch
  * inflation"): JVM maturity, clean dose-response (q90 0.347→0.123 by
  * warmN=5, plateau at 20; q104's calm arms agree). RULE: isolated
  * pricings run warmN=20 or are read as upper bounds only; warm with
  * the cheap registry head, never after a shuffle-heavy query (GC
  * debt).
  *
  * Usage: tools/spark_java.sh graft.DevIsolated <sfDir> <query> [reps] [warmN]
  * Emits one JSON line: per-rep samples (JIT decay is visible rep-by-
  * rep), min/med, and the arm's warmN.
  */
object DevIsolated {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: DevIsolated <sfDir> <query> [reps] [warmN]")
    val sfDir = args(0)
    val target = args(1)
    val reps = if (args.length > 2) args(2).toInt else 5
    val warmN = if (args.length > 3) args(3).toInt else 0
    val spark = Session.local(Session.envCpus)
    spark.sparkContext.setLogLevel("WARN")

    // same untimed table warm-up as Bench (footers/schemas out of the
    // timed loop) — BOTH arms share it, so it can't explain a delta
    Tables.names.foreach { n =>
      try Tables.load(spark, sfDir, n).count()
      catch { case _: Throwable => () }
    }

    val queries = SparkEntry.queries
    require(queries.contains(target), s"unknown query '$target'")

    // the arm knob: N other queries, once each, untimed, in registry
    // order, target excluded (its own artifacts must stay cold)
    val warmed = queries.toSeq.sortBy(_._1).iterator
      .filter(_._1 != target).take(warmN).map(_._1).toSeq
    warmed.foreach { q =>
      try { queries(q)(spark, sfDir).count(): Unit }
      catch { case e: Throwable =>
        System.err.println(s"[isolated] warm $q failed: ${e.getMessage}")
      }
    }

    val samples = (1 to reps).map { i =>
      val t0 = System.nanoTime()
      try queries(target)(spark, sfDir).count()
      catch { case e: Throwable =>
        System.err.println(s"[isolated] rep$i FAILED: ${e.getMessage}")
      }
      (System.nanoTime() - t0) / 1e9
    }
    def r4(x: Double): Double = math.rint(x * 1e4) / 1e4
    println(
      s"""{"isolated":{"query":"$target","warm_n":$warmN,""" +
      s""""warmed":${warmed.size},"reps":$reps,""" +
      s""""samples":[${samples.map(r4).mkString(",")}],""" +
      s""""min":${r4(samples.min)},"med":${r4(BenchLine.median(samples))},""" +
      s""""fixtures":"${Fixtures.fingerprint(sfDir)}","ts":${System.currentTimeMillis() / 1000}}}""")
    spark.stop()
  }
}
