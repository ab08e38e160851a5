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
      case Array(s, o, f) => (s, o, Some(f.split(',').toSet))
      case _ => // r14 review: a bare MatchError explained nothing
        System.err.println(
          "usage: graft.Verify <sfDir> <outDir> [q1,q2,...]")
        sys.exit(64)
    }
    val spark = Session.local(Session.envCpus)
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    var nDumped = 0
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      try {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        nDumped += 1
      } catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .filter { case (k, _) => only.forall(_.contains(k)) }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // every ATTEMPTED query, oracle-backed or rows-only — the local
    // replica diffs this against the dump dirs so a rows-only query
    // that threw (no oracle entry to flag it) can't vanish silently
    val attempted = SparkEntry.queries.keys.toSeq.sorted
      .filter(n => only.forall(_.contains(n)))
    Files.writeString(Paths.get(s"$outDir/queries.json"),
      attempted.map(q).mkString("[", ",", "]"))
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
    // driver keeps a stdout tail) and exit non-zero on a full run with
    // missing dumps, so a silently-thrown builder fails the run
    // instead of shrinking the artifact.
    val nRegistered = SparkEntry.queries.keys
      .count(n => only.forall(_.contains(n)))
    val counts = s"""{"n_registered":$nRegistered,"n_dumped":$nDumped}"""
    println(s"[verify] $counts")
    Files.writeString(Paths.get(s"$outDir/counts.json"), counts)
    spark.stop()
    if (only.isEmpty && nDumped != nRegistered) sys.exit(1)
  }
}
