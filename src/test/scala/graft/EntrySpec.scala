package graft

import org.apache.spark.sql.functions._

/** Flagship-pipeline invariants (SparkEntry.entry — the nightly
  * incremental shape): key uniqueness after the merge, the dim
  * actually overwriting stale pre-existing values, and idempotent
  * re-run (the reference's core operational guarantee,
  * load_sales_data.py:129-134).
  */
class EntrySpec extends SparkSpec {
  import spark.implicits._

  private lazy val result = SparkEntry.entry(spark).cache()

  test("entry: produces rows and a key-unique mart") {
    assert(result.count() > 0)
    val dups = result.groupBy("chain_no", "sale_dy").count()
      .filter(col("count") > 1).count()
    assert(dups === 0L, "merge left duplicate (chain_no, sale_dy) keys")
  }

  test("entry: dim enrichment overwrote every stale placeholder it could") {
    // rows whose chain exists in the dim with a non-null segment must
    // carry the dim value, never the pre-existing 'stale' marker
    val stale = result.filter(col("responsible") === "stale")
    val dim = Tables.customer(spark, "/root/testdata/sf0.001")
      .filter(col("c_mktsegment") =!= "BUILDING")
      .select(col("c_custkey").as("chain_no"))
    assert(stale.join(dim, Seq("chain_no"), "left_semi").count() === 0L,
      "stale value survived where the dim had a replacement")
  }

  test("entry: re-run is idempotent (same mart, row for row)") {
    val again = SparkEntry.entry(spark)
    assert(result.exceptAll(again).count() === 0L)
    assert(again.exceptAll(result).count() === 0L)
  }

  test("registry contract: 113 distinct names; rows-only set is exactly {q30_simhash}") {
    val names = SparkEntry.registry.map(_.name)
    // a query object left out of the registry Seq would shrink the
    // graded surface without any other signal
    assert(names.size === 113 && names.distinct.size === 113,
      s"graded surface drifted: ${names.size} records, ${names.distinct.size} names")
    // queries the driver grades rows-only, by declared design
    val rowsOnly = SparkEntry.registry.filter(_.oracle.isEmpty).map(_.name).toSet
    assert(rowsOnly === Set("q30_simhash"),
      s"every new query needs an oracle (or add it to the documented rows-only set): $rowsOnly")
  }

  test("select: unset = all queries, sorted; unknown names fail early, named") {
    val all = SparkEntry.queries.keys.toSeq.sorted
    assert(SparkEntry.select(None) === all)
    // the subset runs in full-pass order, whatever order it was named in
    assert(SparkEntry.select(Some(" q03_filter_date_between, q01_scan_project ,")) ===
      Seq("q01_scan_project", "q03_filter_date_between"))
    val e = intercept[IllegalArgumentException](
      SparkEntry.select(Some("q01_scan_project,q999,q998")))
    assert(e.getMessage.contains("q999,q998") && !e.getMessage.contains("q01"))
    intercept[IllegalArgumentException](SparkEntry.select(Some(" , ")))
  }

  test("Verify: an unknown subset name fails before any dump, named") {
    val out = java.nio.file.Paths.get(System.getProperty("java.io.tmpdir"),
      s"graft_verify_${System.nanoTime()}")
    val e = intercept[IllegalArgumentException](
      Verify.main(Array("unused-sf-dir", out.toString, "q999,q01_scan_project")))
    assert(e.getMessage.contains("q999") && !e.getMessage.contains("q01"))
    assert(!java.nio.file.Files.exists(out), "Verify wrote output before resolving its subset")
  }

  // The r18 regression's static half: the dump encoding of raw
  // TIMESTAMP columns is a driver contract (INT96 — the physical type
  // of every driver-green round, CORRECTNESS_r7–r17; enforced on
  // actual dump bytes by tools/local_verify.py's TS_CONTRACT check
  // and by the graded sessions taking Spark's parquet default). This
  // pins the CARRIER set: exactly which final schemas may carry a
  // TimestampType at all. Any new timestamp output must instead ship
  // as epoch-µs BIGINT (SURVEY §5 item 7) or be deliberately added
  // here AND to TS_CONTRACT in the same driver-gated change.
  test("timestamp portability contract: raw TIMESTAMP final columns are exactly the enumerated driver-green set") {
    import org.apache.spark.sql.types.{TimestampType, TimestampNTZType}
    val contract = Map(
      "q27_sessionize"           -> Set("hour_start"),
      "q46_stream_batch_parity"  -> Set("window_start"),
      "q69_scd2_history"         -> Set("valid_from", "valid_to"),
      "q107_session_window"      -> Set("session_start", "session_end"))
    val actual = SparkEntry.queries.flatMap { case (name, fn) =>
      val ts = fn(spark, "/root/testdata/sf0.001").schema.fields.collect {
        case f if f.dataType == TimestampType || f.dataType == TimestampNTZType => f.name
      }.toSet
      if (ts.isEmpty) None else Some(name -> ts)
    }
    assert(actual === contract,
      s"""raw-TIMESTAMP output drift vs the driver-green contract:
         |  unexpected: ${(actual.toSet -- contract.toSet).toSeq.sortBy(_._1)}
         |  missing:    ${(contract.toSet -- actual.toSet).toSeq.sortBy(_._1)}
         |New timestamp outputs must be epoch-us BIGINT (SURVEY §5 item 7).""".stripMargin)
  }

  test("survey closure: every graded query is cited in SURVEY.md's operator inventory") {
    val survey = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("SURVEY.md")), java.nio.charset.StandardCharsets.UTF_8)
    val cited = "`(q\\d{2,3}[a-z0-9_]*)`".r.findAllMatchIn(survey).map(_.group(1)).toSet
    val uncited = SparkEntry.queries.keySet -- cited
    assert(uncited.isEmpty,
      s"graded queries missing from the SURVEY coverage checklist: $uncited")
  }

  // Round-6 lesson (q64/q101/q102): DuckDB sum(BIGINT) → HUGEINT and any
  // DECIMAL surviving to the final schema diverge from Spark's int64 in
  // the driver's arrow→pandas hash, even when values are byte-identical.
  // The portability rule is "CAST every output aggregate"; this pins the
  // textual half (the empirical half — no decimal in either engine's
  // actual output schema — is tools/local_verify.py's DECIMAL-IN-FINAL-
  // SCHEMA gate).
  test("oracle portability contract: output-level sum( is CAST-wrapped; no '0x' hex-literal casts") {
    // select-list regions at paren depth 0 — the text whose expressions
    // become output columns (CTE bodies sit at depth > 0 and may carry
    // bare decimal sums as long as the outer select casts them)
    def outputRegions(sql: String): Seq[String] = {
      val s = sql.toLowerCase
      val out = Seq.newBuilder[String]
      var depth = 0
      var selStart = -1
      var i = 0
      while (i < s.length) {
        s.charAt(i) match {
          case '(' => depth += 1
          case ')' => depth -= 1
          case _ =>
            if (depth == 0 && s.startsWith("select", i)) { selStart = i + 6; i += 5 }
            else if (depth == 0 && selStart >= 0 && s.startsWith("from", i) &&
              (i == 0 || !s.charAt(i - 1).isLetter) &&
              (i + 4 >= s.length || !s.charAt(i + 4).isLetter)) {
              out += s.substring(selStart, i); selStart = -1; i += 3
            }
        }
        i += 1
      }
      if (selStart >= 0) out += s.substring(selStart) // FROM-less SELECT
      out.result()
    }
    val sumRe = "(?<![a-z_])sum\\s*\\(".r
    // cast( pins the type; round( always returns DOUBLE in DuckDB —
    // both neutralize the HUGEINT
    def wrapped(region: String, at: Int): Boolean =
      Seq("cast", "round").exists { w =>
        region.lastIndexOf(w, at) match {
          case -1 => false
          case c  => region.substring(c + w.length, at).trim.stripPrefix("(").trim.isEmpty
        }
      }
    val bad = SparkEntry.oracleSql.flatMap { case (name, sql) =>
      val uncast = outputRegions(sql).flatMap { region =>
        sumRe.findAllMatchIn(region).filterNot(m => wrapped(region, m.start))
          .map(m => s"$name: bare output sum( at offset ${m.start}")
      }
      val hexCast = if (sql.toLowerCase.contains("'0x'"))
        Seq(s"$name: CAST('0x'||… AS BIGINT) is not portable across DuckDB versions — parse hex digit-wise (q101 pattern)")
      else Seq.empty
      uncast ++ hexCast
    }
    assert(bad.isEmpty, s"oracle portability violations:\n  ${bad.mkString("\n  ")}")
  }
}
