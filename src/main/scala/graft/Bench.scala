package graft

/** The driver's bench main. Warms the tables, times each selected
  * query median-of-N over `.count()`, prints the full line and then
  * the compact line as the last stdout line, and appends the full
  * line to SPARK_GRAFT_BENCH_OUT (default `bench/bench_full.jsonl`).
  * The line format lives in BenchLine.
  *
  * Env: SPARK_GRAFT_SF_DIR (fixture dir), SPARK_GRAFT_BENCH_REPS
  * (reps per query, default 3), SPARK_GRAFT_BENCH_ONLY (comma-separated
  * subset, measured in bench context: same session, warm-up and order).
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val reps = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "3").toInt
    // fail BEFORE the multi-minute warm-up, not after it with an
    // opaque empty-collection error inside the first median (r14)
    require(reps > 0, s"SPARK_GRAFT_BENCH_REPS must be positive, got $reps")
    val queries = SparkEntry.queries
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
    val selected = SparkEntry.select(only)
    val spark = Session.local(Session.envCpus)
    spark.sparkContext.setLogLevel("WARN")
    // Untimed warm-up: touch every table so JVM startup, codegen
    // compilation, and parquet footer reads land outside the timed
    // loop — otherwise the first timed query eats multi-second noise.
    Tables.names.foreach { n =>
      try Tables.load(spark, sfDir, n).count()
      catch { case _: Throwable => () }
    }
    // Median-of-N per query: the median of back-to-back reps discards
    // the GC/IO spike that poisons any one sample.
    //
    // Bench contract: WARM steady-state. Queries with one-time build
    // side effects (q35 persisted centroids, q52 sink table, q53 Derby
    // db) pay that build in rep 1 and reuse it in reps 2-3, so their
    // median reports the nightly steady-state cost — what the
    // reference's nightly re-runs pay; the one-time build shows up in
    // the max of the spread, not in the median. The content-keyed
    // ingest artifacts (Fixtures.scala) can survive from a PREVIOUS
    // JVM on identical fixture bytes, in which case even rep 1 is a
    // read (a line whose q56 max ≈ med read a pre-built artifact; one
    // with max >> med built it).
    val results = selected.map { name =>
      val fn = queries(name)
      var failed = 0
      val samples = (1 to reps).map { i =>
        val t0 = System.nanoTime()
        try fn(spark, sfDir).count() catch {
          case e: Throwable =>
            // never silent: a broken query must be visible in stderr
            // AND in the line's "failed" field, not just as a
            // suspiciously fast median (r12: q92 failed every rep
            // and the line recorded its time-to-fail)
            System.err.println(s"[bench] $name rep$i FAILED: ${e.getMessage}")
            failed += 1
        }
        (System.nanoTime() - t0) / 1e9
      }
      BenchLine.Result(name, samples, failed)
    }
    // fixture-content fingerprint (Fixtures.scala): identical
    // fingerprints rule out "different bytes" between two lines
    val fixtures = Fixtures.fingerprint(sfDir)
    val ts = System.currentTimeMillis() / 1000
    def line(compact: Boolean): String = BenchLine.render(results,
      fixtures, reps, ts, sfDir, subset = only.isDefined, compact = compact)
    val full = line(compact = false)
    println(full)
    // The driver stores only a 2000-char tail of stdout, so the full
    // line is also appended to a committed repo file — per-query bench
    // history stays reviewable without the driver artifact.
    val out = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench/bench_full.jsonl")
    try {
      val p = java.nio.file.Paths.get(out)
      if (p.getParent != null) java.nio.file.Files.createDirectories(p.getParent)
      java.nio.file.Files.write(p, (full + "\n").getBytes("UTF-8"),
        java.nio.file.StandardOpenOption.CREATE,
        java.nio.file.StandardOpenOption.APPEND)
    } catch { // bench results must never be lost to a write failure
      case e: Throwable => System.err.println(s"[bench] out-file write failed: ${e.getMessage}")
    }
    // the compact line is the VERY LAST stdout line: it has no
    // per-query map, so the driver's tail always carries it whole
    println(line(compact = true))
    spark.stop()
  }
}
