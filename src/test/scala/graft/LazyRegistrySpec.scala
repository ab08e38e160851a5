package graft



/** The registry's laziness contract (round-8 VERDICT item: q105's
  * builder ran a `count()` job at query-CONSTRUCTION time, silently
  * breaking the "builders declare, actions execute" property for
  * exactly one query — every explain/digest of it paid a scan).
  *
  * Builders split into two pinned classes:
  *   - MATERIALIZING: the graded operator IS a write (partitioned/
  *     format-matrix/sink/stream fixtures) — building runs the write
  *     jobs, that's the semantics being graded.
  *   - everything else: building must launch ZERO Spark jobs — the
  *     frame is a pure declaration until an action runs it.
  *
  * The allowlist is FROZEN by equality: a new eager action in a
  * declarative builder (the q105-count class of bug) fails this spec,
  * and so does a builder that stops materializing (shrink the list).
  */
class LazyRegistrySpec extends SparkSpec {
  private val sfDir = "/root/testdata/sf0.001"

  /** Builders whose construction legitimately runs jobs, in four
    * declared classes:
    *   - W fixture/sink WRITERS: the write IS the graded operator
    *     (S6–S11, the stream mart, layout/snapshot/CDC fixtures);
    *   - I ITERATIVE algorithms: driver-coordinated convergence loops
    *     must evaluate each step (connected components, group
    *     closure);
    *   - T build-then-PERSIST artifacts (IVF centroids) pay their
    *     one-time build on first use;
    *   - C eager reuse CHECKPOINTS: `Materialize.once`'s reliable
    *     checkpoint materializes a multiply-consumed intermediate once
    *     (the round-3 q29/q37 hot-spot fix) — the materialization is
    *     the optimization.
    */
  private val materializing: Set[String] = Set(
    "q19_overwrite_refresh",   // W truncate-and-load (S8)
    "q29_minhash_lsh_neardup", // C shingle table feeds 3 consumers
    "q35_ann_ivf",             // T persisted IVF centroids, written on first build
    "q37_ngram_jaccard_join",  // C token table feeds PPJoin stages
    "q41_partitioned_write",   // W partitioned append sink (S7)
    "q43_csv_roundtrip",       // W format matrix (S10)
    // q45 and q99 are NOT here: once their content-keyed catalog
    // tables stand (pre-built in the warm-up below), a build is a
    // pure catalog lookup — the steady state launches zero jobs,
    // unlike the parquet-artifact readers (q35/q56/q89/q93) whose
    // every s.read.parquet pays a schema-inference job
    "q50_simhash_neardup",     // C shingle reuse (q29's layout)
    "q52_dsv2_sink_upsert",    // W DSv2 keyed-upsert sink (S6/S9)
    "q53_jdbc_roundtrip",      // W JDBC leg (S10)
    "q54_jdbc_upsert",         // W JDBC MERGE (S6)
    "q56_neardup_components",  // I min-label propagation loop
    "q59_set_ops",             // C both year-sets feed 3 set ops
    "q60_orc_roundtrip",       // W format matrix (S10)
    "q67_sorted_layout",       // W range-sorted layout write
    "q70_schema_evolution",    // W two-generation parquet fixture
    "q72_binary_files",        // W binary-file round trip (S10)
    "q78_bm25",                // C corpus stats (N, avgdl) constants
    "q89_group_split",         // I group-closure propagation loop
    "q92_zorder_layout",       // W Z-order layout write
    "q93_incremental_neardup", // W standing band-index fixture
    "q100_stream_mart",        // W end-to-end streaming mart (2m)
    "q112_trailing_distinct",  // C distinct (day,user) pairs feed 3 consumers
    "q108_observe_metrics",    // W metrics ride the one write action
    "q113_aqe_skew_join",      // scoped session reads its 2 tables afresh (footer jobs)
  )

  test("constructing every non-materializing query frame launches zero Spark jobs") {
    // one-time session warm-up OUTSIDE the count: the first read of a
    // table pays parquet listing/footer jobs, memoized in Tables.load —
    // the per-build contract under test is what a LONG-LIVED session
    // (bench, Verify, a real service) pays per query
    Tables.names.foreach(n => Tables.load(spark, sfDir, n))
    // pre-build q45's bucketed tables and q99's partitioned fact so
    // their measured state is the steady one regardless of suite
    // order (another suite's earlier build would otherwise decide
    // whether this spec sees the build jobs or the zero-job catalog
    // lookup)
    SparkEntry.queries("q45_bucketed_join")(spark, sfDir)
    SparkEntry.queries("q99_dpp_prune")(spark, sfDir): Unit
    // Shared sentinel-tagged FIFO-settled job counter (JobCounter —
    // r20 ADVICE item 4 replaced three local copies of this helper).
    val jc = new JobCounter(spark.sparkContext)
    try {
      var mark = jc.settle()
      val offenders = SparkEntry.queries.toSeq.sortBy(_._1).flatMap {
        case (name, fn) =>
          fn(spark, sfDir) // build ONLY — no action on the frame
          val now = jc.settle()
          val jobs = now - mark - 1 // minus this settle's sentinel
          mark = now
          if (jobs > 0) Some(name -> jobs) else None
      }
      assert(offenders.map(_._1).toSet === materializing,
        s"builders-that-run-jobs drifted; measured: ${offenders.toMap}")
    } finally jc.close()
  }
}
