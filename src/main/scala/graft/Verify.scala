package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // optional 3rd arg: comma-separated query names (dev-loop filter;
    // the driver always passes exactly two args → full dump)
    val (sfDir, outDir, only) = args match {
      case Array(s, o)    => (s, o, None)
      case Array(s, o, f) => (s, o, Some(f))
      case _ => // r14 review: a bare MatchError explained nothing
        System.err.println(
          "usage: graft.Verify <sfDir> <outDir> [q1,q2,...]")
        sys.exit(64)
    }
    // resolved before the session starts: an unknown name fails here,
    // named, rather than selecting nothing
    val selected = SparkEntry.select(only)
    val spark = Session.local(Session.envCpus)
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    var nDumped = 0
    selected.foreach { name =>
      try {
        SparkEntry.queries(name)(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        nDumped += 1
      } catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // escape every string: a tab or CR in builder-authored SQL would
    // otherwise make the driver's json.load fail and silently zero the
    // round's correctness
    val q = BenchLine.jsonString _
    val json = selected.flatMap { n =>
      SparkEntry.oracleSql.get(n).map(sql => s"${q(n)}: ${q(sql)}")
    }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // every ATTEMPTED query, oracle-backed or rows-only — the local
    // replica diffs this against the dump dirs so a rows-only query
    // that threw (no oracle entry to flag it) can't vanish silently
    Files.writeString(Paths.get(s"$outDir/queries.json"),
      selected.map(q).mkString("[", ",", "]"))
    // fixture-schema fingerprint: the driver regenerates the test
    // tables between rounds and their types can drift (round 9→10:
    // events.ts TIMESTAMP → TIMESTAMP_NTZ silently broke one query).
    // Dumping what THIS run actually read makes any future drift
    // diagnosable from the round artifacts alone.
    val schemas = (Tables.names.map { n =>
      val s = try Tables.load(spark, sfDir, n).schema.simpleString
              catch { case e: Throwable => s"ERROR: ${e.getMessage}" }
      s"${q(n)}: ${q(s)}"
    } :+ s"${q("_fixtures")}: ${q(Fixtures.fingerprint(sfDir))}")
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/table_schemas.json"), schemas)
    // A query whose builder throws VANISHES from the correctness
    // artifact: round 9 shipped a 112-entry CORRECTNESS_r9.json and
    // nobody noticed q95 was missing until round 10. Make that loud in
    // the run itself: print the registered-vs-dumped counts (the
    // driver keeps a stdout tail) and exit non-zero when any selected
    // query — full run or subset — failed to dump, so a silently-thrown
    // builder fails the run instead of shrinking the artifact.
    val counts = s"""{"n_registered":${selected.size},"n_dumped":$nDumped}"""
    println(s"[verify] $counts")
    Files.writeString(Paths.get(s"$outDir/counts.json"), counts)
    spark.stop()
    if (nDumped != selected.size) sys.exit(1)
  }
}
