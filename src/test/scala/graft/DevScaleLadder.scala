package graft

/** Scale-ladder runner (SCALING.md): times the flagship `entry` plus a
  * named list of graded queries against ONE SF dir, median-of-N, and
  * prints a single JSON line. Invoked once per rung (the flagship
  * reads SPARK_GRAFT_SF_DIR, so rungs are separate JVMs by design);
  * the ratio table in SCALING.md is computed from the two lines.
  * Session config matches Bench exactly — `Session.local` at
  * SPARK_GRAFT_CPUS — so a ladder number is comparable to a bench number.
  */
object DevScaleLadder {
  def main(args: Array[String]): Unit = {
    require(args.length >= 1, "usage: DevScaleLadder <sfDir> [reps] [q1,q2,...]")
    val sfDir = args(0)
    val reps = if (args.length > 1) args(1).toInt else 3
    val wanted: Seq[String] =
      if (args.length > 2) args(2).split(",").toSeq.filter(_.nonEmpty) else Nil
    val spark = Session.local(Session.envCpus)
    spark.sparkContext.setLogLevel("WARN")

    // same warm-up discipline as Bench: footers, codegen, JIT outside
    // the timed loop
    Tables.names.foreach { n =>
      try Tables.load(spark, sfDir, n).count()
      catch { case _: Throwable => () }
    }

    // shared derivation with Bench + BenchLine (one median rule)
    def median(xs: Seq[Double]): Double = BenchLine.median(xs)
    // (samples, failed-rep count): a failed rep's elapsed is timed
    // (spread contract unchanged for clean runs) but the count travels
    // into the line's "failed" field — same r12 rule as Bench.scala,
    // where stderr-only reporting let a JVM without the --add-opens
    // set record q92's time-to-fail as a plausible median.
    def time(fn: () => Long): (Seq[Double], Int) = {
      var fails = 0
      val samples = (1 to reps).map { i =>
        val t0 = System.nanoTime()
        try fn() catch {
          case e: Throwable =>
            System.err.println(s"[ladder] rep$i FAILED: ${e.getMessage}")
            fails += 1
        }
        (System.nanoTime() - t0) / 1e9
      }
      (samples, fails)
    }
    val entryItem =
      if (sys.env.get("SPARK_GRAFT_SF_DIR").contains(sfDir))
        Some(time(() => SparkEntry.entry(spark).count()))
      else { // entry reads the env var; a mismatched dir would mislabel the rung
        System.err.println(s"[ladder] SPARK_GRAFT_SF_DIR != $sfDir — skipping entry")
        None
      }
    val queries = SparkEntry.queries
    val rows = entryItem.map("entry" -> _).toSeq ++
      wanted.map { q =>
        require(queries.contains(q), s"unknown query '$q'")
        q -> time(() => queries(q)(spark, sfDir).count())
      }
    def r4(x: Double): Double = math.rint(x * 1e4) / 1e4
    val body = rows.map { case (name, (s, _)) =>
      s"""\"$name\":{\"min\":${r4(s.min)},\"med\":${r4(median(s))},\"max\":${r4(s.max)}}"""
    }.mkString("{", ",", "}")
    // item names are registry keys / "entry" — no escaping needed
    val failedField = {
      val f = rows.collect { case (n, (_, fails)) if fails > 0 => s""""$n":$fails""" }
      if (f.isEmpty) "" else f.mkString(""","failed":{""", ",", "}")
    }
    // a ladder table is only comparable to another if both ran on
    // the same fixture bytes
    println(s"""{"ladder":$body,"sf":"$sfDir","reps":$reps$failedField,"ts":${System.currentTimeMillis() / 1000},"fixtures":"${Fixtures.fingerprint(sfDir)}"}""")
    spark.stop()
  }
}
