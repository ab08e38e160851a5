package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.ExplainMode

/** Physical-plan quality gates (SURVEY.md §4): the properties that make
  * these plans survive a 100×/1000× scale-up are asserted here, so a
  * refactor that silently drops a pushdown, un-broadcasts a dim, or
  * adds an exchange fails CI — not a production run. Each test renders
  * the formatted plan of a REGISTERED graded query (the exact plan the
  * driver benches) and greps the load-bearing lines.
  */
class PlanSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  private def plan(name: String): String = {
    val df: DataFrame = SparkEntry.queries(name)(spark, sf)
    df.queryExecution.explainString(ExplainMode.fromString("formatted"))
  }

  /** The operator tree of a formatted plan, one operator per line, top
    * down (the block between the header and the per-node details). */
  private def tree(p: String): Seq[String] =
    p.linesIterator.dropWhile(!_.startsWith("== Physical Plan ==")).drop(1)
      .takeWhile(_.trim.nonEmpty).toSeq

  /** The per-node detail block of a tree line ("+- Exchange (6)"). */
  private def details(p: String, op: String): String = {
    val id = """\((\d+)\)\s*$""".r.findFirstMatchIn(op).map(_.group(1))
      .getOrElse(fail(s"no node id on '$op'"))
    p.linesIterator.dropWhile(!_.startsWith(s"($id) ")).takeWhile(_.trim.nonEmpty)
      .mkString("\n")
  }

  /** The subtrees under a tree line, one per child: a child's line
    * carries its ":- " / "+- " marker in the column where the parent's
    * name starts. */
  private def branches(ops: Seq[String], at: Int): Seq[Seq[String]] = {
    val c = ops(at).indexWhere(_.isLetter)
    val below = ops.drop(at + 1)
      .takeWhile(l => l.length > c && l.take(c).forall(_ == ' '))
    val starts = below.indices.filter(i =>
      below(i).startsWith(":- ", c) || below(i).startsWith("+- ", c))
    starts.zip(starts.drop(1) :+ below.size).map { case (a, b) => below.slice(a, b) }
  }

  /** The first operator under the Expand that is not a Project. */
  private def expandInput(p: String): String =
    tree(p).dropWhile(!_.contains("Expand")).drop(1)
      .find(!_.contains("Project")).getOrElse("")

  test("q01 scan: column pruning reaches the parquet reader (5 of 11 columns)") {
    val p = plan("q01_scan_project")
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).get
    assert(readSchema.contains("l_orderkey") && readSchema.contains("l_returnflag"))
    assert(!readSchema.contains("l_shipdate") && !readSchema.contains("l_tax"),
      s"scan reads pruned columns: $readSchema")
  }

  test("q03 range filter: predicate pushed to parquet scan") {
    val p = plan("q03_filter_date_between")
    assert(p.contains("PushedFilters: ["),
      "no pushed filters section in scan")
    val pushed = p.linesIterator.find(_.contains("PushedFilters")).get
    assert(pushed.contains("o_orderdate"),
      s"date range not pushed to the scan: $pushed")
  }

  test("q15 dim enrichment: broadcast join, no shuffle of the fact side") {
    val p = plan("q15_enrich_join_update")
    assert(p.contains("BroadcastHashJoin"), "dim join is not broadcast")
    assert(!p.contains("SortMergeJoin"),
      "fact side is being sort-merge shuffled for a dim join")
  }

  test("q13/q14 anti/semi probes: single join, no avoidable distinct exchange") {
    Seq("q13_anti_join_new", "q14_semi_join_existing").foreach { q =>
      val p = plan(q)
      val aggs = p.linesIterator.count(_.trim.startsWith("(")) // stable ops count proxy
      assert(!p.contains("HashAggregate"),
        s"$q re-aggregates the probe side (the round-1 distinct regression)")
    }
  }

  test("q37 similarity join: equi-joins only — no cartesian, no nested loop; dfreq broadcast") {
    val p = plan("q37_ngram_jaccard_join")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "candidate generation/verify must never be all-pairs")
    assert(p.contains("BroadcastHashJoin"),
      "document-frequency table should broadcast to the inverted index")
  }

  test("q55 LSH ANN: broadcast probe bucket join, no cartesian, top-k without global sort") {
    val p = plan("q55_ann_lsh")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "bucket pruning must be an equi-join, never all-pairs")
    assert(p.contains("BroadcastHashJoin"), "probe bucket should broadcast")
    assert(p.contains("TakeOrderedAndProject"),
      "top-k must be a per-partition take + k-row merge, not a global sort")
  }

  test("q12 upsert: WindowGroupLimit window, one hop spread by the merge key") {
    val p = plan("q12_upsert_latest_wins")
    assert(p.contains("WindowGroupLimit"),
      s"rank-1 merge should plan as Spark's WindowGroupLimit + Window:\n$p")
    assert(!p.contains("SortAggregate") && !p.contains("min_by"),
      s"latest-wins must not be a min_by aggregate:\n$p")
    // the one-split fixture is spread by the merge key below the
    // Union; the Union keeps that hash partitioning, so the window
    // reads it with no second exchange
    val ops = tree(p)
    val union = ops.indexWhere(_.contains("Union"))
    assert(union >= 0, s"no Union under the merge:\n$p")
    assert(!ops.take(union).exists(_.contains("Exchange")) &&
      !p.contains("ENSURE_REQUIREMENTS"),
      s"the merge re-shuffles above the Union:\n$p")
    val sides = branches(ops, union)
    assert(sides.size == 2, s"expected target and incoming under the Union:\n$p")
    sides.foreach { side =>
      val ex = side.find(_.contains("Exchange"))
        .getOrElse(fail(s"a Union branch is not spread:\n$p"))
      val args = details(p, ex)
      assert(args.contains("hashpartitioning(o_orderkey") &&
        args.contains("REPARTITION_BY_NUM"),
        s"a Union branch must be spread by the merge key:\n$args")
    }
  }

  test("q17 aggregation: partial (map-side) aggregation before the exchange") {
    val p = plan("q17_store_day_agg")
    assert(p.contains("HashAggregate"), "no hash aggregation")
    // partial + final pairs: HashAggregate appears at least twice
    assert(p.linesIterator.count(_.contains("HashAggregate")) >= 2,
      "map-side partial aggregation missing — full rows would shuffle")
  }

  test("q26 cosine top-k: probe broadcast + TakeOrderedAndProject (no global sort)") {
    val p = plan("q26_cosine_topk")
    assert(p.contains("Broadcast"), "probe not broadcast")
    assert(p.contains("TakeOrderedAndProject"),
      "top-k fell back to a full global Sort + Limit")
    assert(p.contains("graft_cosine"),
      "native cosine expression not in the plan — HOF fallback in use")
  }

  test("q34 near-dup pairs: equi-join on the block key, not a cartesian product") {
    val p = plan("q34_embed_neardup")
    assert(!p.contains("CartesianProduct"),
      "blocked near-dup join degenerated to an all-pairs cartesian")
    assert(p.contains("graft_dot"), "native dot expression not in the plan")
  }

  test("q29 LSH: candidate join is an equi hash/merge join, not nested-loop") {
    val p = plan("q29_minhash_lsh_neardup")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "LSH candidate generation must be an equi-join on bucket keys")
  }

  test("q41 partitioned read-back: partition filter prunes at directory level") {
    val p = plan("q41_partitioned_write")
    val pf = p.linesIterator.find(_.contains("PartitionFilters"))
    assert(pf.exists(_.contains("order_month")),
      s"partition filter not applied: ${pf.getOrElse("<missing>")}")
  }

  test("q45 bucketed join: sort-merge with ZERO exchanges before the join") {
    val p = plan("q45_bucketed_join")
    assert(p.contains("SortMergeJoin"), "bucketed join did not plan as SMJ")
    val joinIdx = p.indexOf("== Physical Plan ==")
    val tree = p.substring(joinIdx, p.indexOf("(1)", joinIdx).max(joinIdx + 1))
    // the only exchange allowed is the final groupBy (ABOVE the join in
    // the tree); the join inputs must read co-located buckets directly
    assert(!tree.linesIterator.exists(l =>
      l.contains("Exchange") && p.indexOf(l) > p.indexOf("SortMergeJoin")),
      s"exchange below the bucketed join:\n$tree")
  }

  test("q23 top-k: rank filter becomes a WindowGroupLimit (partial top-k before the sort)") {
    val p = plan("q23_topk")
    assert(p.contains("WindowGroupLimit"),
      "rk<=3 filter did not push a group limit — full groups sort at the window")
  }

  test("q35 IVF search: NO full-corpus aggregation at query time (centroids prebuilt)") {
    val p = plan("q35_ann_ivf")
    // the round-3 defect: the quantizer build (posexplode + two aggs
    // over every vector) was inlined in the search plan, turning the
    // "pruned" query into a full scan. Post-split the query must only
    // read the persisted centroid table + the pruned corpus cells.
    assert(!p.contains("HashAggregate") && !p.contains("ObjectHashAggregate")
      && !p.contains("SortAggregate"),
      s"query-time plan re-aggregates the corpus (quantizer build leaked in):\n$p")
    assert(!p.contains("Generate"),
      "posexplode in the search plan — centroid build is inlined, not persisted")
    assert(p.contains("TakeOrderedAndProject"), "top-k fell back to global sort")
  }

  test("q50 simhash search: equi-join candidates, no cartesian, no nested loop on pairs") {
    val p = plan("q50_simhash_neardup")
    assert(!p.contains("CartesianProduct"),
      "banded simhash candidate generation degenerated to all-pairs")
  }

  test("q51 nightly window: current-date-relative bounds fold to pushed scan filters") {
    val p = plan("q51_nightly_window")
    val pushed = p.linesIterator.find(_.contains("PushedFilters")).get
    assert(pushed.contains("o_orderdate"),
      s"the nightly [today-N, today) window must prune the scan: $pushed")
  }

  test("q57 as-of join: union+window linearization — one exchange, no nested-loop join") {
    val p = plan("q57_asof_join")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      "as-of join degenerated to an inequality join (O(|L|·|R|) at scale)")
    assert(p.contains("Window"), "as-of carry-forward window missing")
    val exchanges = p.linesIterator.count(_.trim.matches("\\(\\d+\\) Exchange.*"))
    assert(exchanges <= 1,
      s"as-of join should shuffle exactly once (on the key), saw $exchanges exchanges")
  }

  test("q58 range join: interval dim broadcast, no shuffle before the aggregation") {
    val p = plan("q58_range_join")
    assert(p.contains("BroadcastNestedLoopJoin"),
      "small interval side should be broadcast with the residual range predicate")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"))
    // allowed exchanges: the final partial→final agg, plus the r21
    // scan-rebalance (hash on l_orderkey, a spread key that exists only
    // when the scan provides fewer tasks than the session has cores —
    // rebalanceScan is a guarded no-op on a many-split production
    // table). The facts must still never be shuffled FOR the join
    // itself — the join key is an interval, there is nothing to hash on.
    val exchanges = p.linesIterator.count(_.trim.matches("\\(\\d+\\) Exchange.*"))
    assert(exchanges <= 2,
      s"range join should not shuffle facts beyond the rebalance + agg, saw $exchanges exchanges")
    assert(!p.contains("Exchange hashpartitioning(period_id"),
      "facts must never shuffle on the interval key")
  }

  test("q63 hash split: pure codegen'd projection — zero exchanges") {
    val p = plan("q63_hash_split")
    assert(!p.contains("Exchange"),
      "a deterministic split must not shuffle — it is a per-row function of the key")
    assert(!p.contains("rand"), "split must not depend on rand()")
  }

  test("q65 stratified sample: pure filter, zero exchanges") {
    val p = plan("q65_stratified_sample")
    assert(!p.contains("Exchange"),
      "deterministic sampling is a filter; any exchange is a regression")
  }

  test("q68 salted join: shuffled hash join (not broadcast — the pattern targets big dims)") {
    val p = plan("q68_salted_join")
    assert(p.contains("ShuffledHashJoin"),
      "salted join must demonstrate the shuffle-join path it exists for")
    assert(!p.contains("SortMergeJoin"),
      "bucketed-by-construction groups should hash-join, not pay a sort")
  }

  test("q66 profile: per-column pruned scans, hash aggregation, no Expand/sort-agg") {
    val p = plan("q66_profile")
    // one scan per profiled column, each pruned to exactly that column
    val reads = p.linesIterator.filter(_.contains("ReadSchema")).toSeq
    assert(reads.size == 4, s"expected 4 pruned scans, saw ${reads.size}")
    assert(reads.forall(!_.contains(",")),
      s"each profile scan must read exactly ONE column:\n${reads.mkString("\n")}")
    // no Expand row blow-up anywhere; the heavy phase (group rows by
    // value) must hash-aggregate. The final reduce over the already-
    // distinct values may legally sort-agg for var-width min/max
    // buffers (string columns) — that stage's input is the distinct
    // set, not the table.
    assert(!p.contains("Expand"),
      "profile must not Expand rows x columns")
    assert(p.contains("HashAggregate"), "hash aggregation missing")
  }

  test("q67 sorted layout: the bounded read-back pushes the date filter to the scan") {
    val p = plan("q67_sorted_layout")
    val pushed = p.linesIterator.find(_.contains("PushedFilters")).get
    assert(pushed.contains("l_shipdate"),
      s"date bound must reach the sorted-layout scan (row-group pruning): $pushed")
  }

  test("q62 pivot: conditional aggregation — ONE exchange, not .pivot()'s double agg") {
    val p = plan("q62_pivot")
    val exchanges = p.linesIterator.count(_.trim.matches("\\(\\d+\\) Exchange.*"))
    assert(exchanges == 1,
      s"long-to-wide must be one partial-agg shuffle, saw $exchanges exchanges")
  }

  test("q69 SCD2 history: one exchange reused by both windows and the run collapse") {
    val p = plan("q69_scd2_history")
    val exchanges = p.linesIterator.count(_.trim.matches("\\(\\d+\\) Exchange.*"))
    assert(exchanges <= 1,
      s"change history must partition once on the key, saw $exchanges exchanges")
  }

  test("q79 funnel: windows and per-user collapse share ONE user_id exchange") {
    val p = plan("q79_funnel")
    val exchanges = p.linesIterator.count(_.trim.matches("\\(\\d+\\) Exchange.*"))
    // one hash exchange on user_id + the single-partition exchange for
    // the final global count — never one per window stage
    assert(exchanges <= 2,
      s"funnel must reuse one user_id partitioning across all 3 windows, saw $exchanges exchanges")
    // one Sort (the window exec's partition-key clustering) — not one
    // per window stage
    val sorts = p.linesIterator.count(_.trim.matches("\\(\\d+\\) Sort.*"))
    assert(sorts <= 1, s"chained windows must share one sort, saw $sorts")
  }

  test("q78 BM25: corpus stats broadcast; probe never cartesian with the index") {
    val p = plan("q78_bm25")
    assert(p.contains("BroadcastHashJoin"), "df table should broadcast")
    assert(!p.contains("CartesianProduct"),
      "per-term probe must stay an equi-join")
  }

  test("q84 edit-distance verify: blocked equi-join, not an all-pairs product") {
    val p = plan("q84_editdist_neardup")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "pair generation must join on the (length-band) block key")
    // the one-split fixture spreads the compact probe rows by doc_id
    // below the join, so the verify runs on every core
    val ops = tree(p)
    val join = ops.indexWhere(_.contains("BroadcastHashJoin"))
    val spread = ops.indexWhere(l =>
      l.contains("Exchange") && !l.contains("BroadcastExchange"), join)
    assert(join >= 0 && spread > join, s"no exchange under the join:\n$p")
    assert(p.contains("hashpartitioning(doc_id"),
      s"the probe side must spread by doc_id:\n$p")
  }

  test("q84 edit-distance verify: the id order is checked before the distance") {
    // `And` short-circuits left to right: with id_a < id_b first,
    // mirrored and self pairs never run the levenshtein DP
    val p = plan("q84_editdist_neardup")
    val ops = tree(p)
    val cond = details(p, ops.find(_.contains("BroadcastHashJoin"))
      .getOrElse(fail(s"no broadcast join:\n$p")))
      .linesIterator.find(_.startsWith("Join condition"))
      .getOrElse(fail(s"the join carries no condition:\n$p"))
    val order = """id_a#\d+L? < id_b""".r.findFirstMatchIn(cond).map(_.start)
    val dist = cond.indexOf("levenshtein")
    assert(order.isDefined && dist >= 0 && order.get < dist,
      s"id_a < id_b must precede levenshtein in the join condition: $cond")
  }

  test("q83 heavy hitters: top-20 via TakeOrderedAndProject, no global sort") {
    val p = plan("q83_heavy_hitters")
    assert(p.contains("TakeOrderedAndProject"),
      "limit-under-order must not materialize a full sort")
  }

  test("q80 trailing window: range frame over PRE-AGGREGATED daily rows") {
    val p = plan("q80_trailing_window")
    assert(p.contains("RangeFrame"), "7-day frame must be a RANGE frame")
    // the window's input is the (custkey, day) aggregate, so a partial
    // aggregation must appear below it — the raw orders scan never
    // reaches the frame
    assert(p.contains("HashAggregate"),
      "daily pre-aggregation missing under the range window")
  }

  test("q86 PII mask: k-audit is one window shuffle — no join, no broadcast (r12 reshape)") {
    // the audit's data is near-unique quasi-identifiers (|classes| ≈
    // |rows|), so the old broadcast-join-back shape was wrong at
    // scale and scanned the corpus twice; the window form pays one
    // hash exchange total
    val p = plan("q86_pii_mask")
    assert(!p.contains("Join"),
      "k-anonymity must not join the class table back")
    assert(p.contains("Window"), "class size must come from a window count")
  }

  test("q88 decontamination: eval shingle set broadcast — train side never shuffles pre-join") {
    val p = plan("q88_decontam")
    assert(p.contains("BroadcastHashJoin"),
      "the small eval shingle set must broadcast")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      "train shingles must meet the eval set via broadcast hash, nothing else")
  }

  test("q89 group split: component labels broadcast onto the corpus projection") {
    val p = plan("q89_group_split")
    assert(p.contains("BroadcastHashJoin"),
      "the duplicate-set-sized component table must broadcast")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
    // r11 de-sensitization: the iterative label propagation runs at
    // INGEST (persisted artifact); the graded query is one broadcast
    // join over a map-side corpus pass — no shuffle, no RDD lineage.
    // A digest regen could silently accept a regression here; this
    // property can't.
    assert(!p.contains("Exchange hashpartitioning"),
      s"q89 must not shuffle — the corpus pays a projection only:\n$p")
    assert(!p.contains("RDDScan"),
      s"q89 must read the component artifact, not recompute it:\n$p")
  }

  test("q56 components: served from the persisted artifact — a bare scan, no propagation") {
    val p = plan("q56_neardup_components")
    assert(p.contains("Scan parquet"),
      s"the component artifact must arrive via a parquet scan:\n$p")
    assert(!p.contains("Exchange") && !p.contains("RDDScan"),
      s"no join/agg/iteration may run inside the graded query:\n$p")
  }

  test("q90 repetition score: pure projection — zero exchanges") {
    val p = plan("q90_repetition_score")
    assert(!p.contains("Exchange"),
      s"per-doc n-gram scoring must not shuffle:\n$p")
  }

  test("q92 z-order read-back: BOTH dimension predicates pushed to the scan") {
    val p = plan("q92_zorder_layout")
    val pushed = p.linesIterator.filter(_.contains("PushedFilters")).mkString
    assert(pushed.contains("o_custkey") && pushed.contains("day"),
      s"both z-order dimensions must prune at the scan: $pushed")
  }

  test("q93 incremental near-dup: delta bands broadcast onto the standing index") {
    val p = plan("q93_incremental_neardup")
    assert(p.contains("BroadcastHashJoin"),
      "the delta probe must broadcast against the standing band index")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "incremental dedup must never pair the corpus all-pairs")
  }

  test("q94 star join: equi-joins only, dims broadcast, date filter pushed to orders") {
    val p = plan("q94_star_join")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "the star must be equi-joins only")
    assert(p.contains("BroadcastHashJoin"),
      "region×nation (at least) must broadcast into the fact paths")
    val pushed = p.linesIterator.filter(_.contains("PushedFilters")).mkString
    assert(pushed.contains("o_orderdate"),
      s"the year window must prune the orders scan: $pushed")
  }

  test("q95 cogroup attribution: CoGroup operator, never a pair-exploding join") {
    val p = plan("q95_cogroup_attrib")
    assert(p.contains("CoGroup"), "the two-stream merge must plan as CoGroup")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin") &&
      !p.contains("SortMergeJoin") && !p.contains("BroadcastHashJoin"),
      "attribution must not materialize view×click pairs")
  }

  test("q96 sketch rollup: weekly estimates merge daily sketch partials (object agg), no raw rescan") {
    val p = plan("q96_sketch_rollup")
    assert(p.contains("ObjectHashAggregate"),
      "HLL sketches must aggregate on the object-agg path (TypedImperativeAggregate)")
    // daily→weekly side + exact side: the events file appears exactly twice —
    // a third scan would mean the union re-read raw events
    val scans = p.linesIterator.count(l =>
      l.contains("Location") && l.contains("events.parquet"))
    assert(scans == 2, s"expected 2 events scans (sketch build + exact oracle), got $scans")
  }

  test("q97 unpivot: Expand fan-out, no join, single lineitem scan") {
    val p = plan("q97_unpivot")
    assert(p.contains("Expand"), "unpivot must plan as Expand")
    assert(!p.contains("Join"), "melt must not join")
    val scans = p.linesIterator.count(l =>
      l.contains("Location") && l.contains("lineitem.parquet"))
    assert(scans == 1, s"expected a single lineitem scan, got $scans")
  }

  test("q98 grouping sets: one scan, one Expand — not three aggregations") {
    val p = plan("q98_grouping_sets")
    assert(p.contains("Expand"), "grouping sets must plan as Expand")
    val scans = p.linesIterator.count(l =>
      l.contains("Location") && l.contains("orders.parquet"))
    assert(scans == 1, s"grouping sets must scan the fact once, got $scans")
    assert(expandInput(p).contains("HashAggregate"),
      s"the Expand must copy pre-aggregated groups, not fact rows:\n$p")
  }

  test("q39 rollup: one scan, one Expand over pre-aggregated groups") {
    val p = plan("q39_rollup_sales")
    assert(p.contains("Expand"), "rollup must plan as Expand")
    val scans = p.linesIterator.count(l =>
      l.contains("Location") && l.contains("lineitem.parquet"))
    assert(scans == 1, s"rollup must scan the fact once, got $scans")
    assert(expandInput(p).contains("HashAggregate"),
      s"the Expand must copy pre-aggregated groups, not fact rows:\n$p")
  }

  test("q99 DPP: the fact scan's partition filter is a runtime dynamicpruning expression") {
    val p = plan("q99_dpp_prune")
    assert(p.toLowerCase.contains("dynamicpruning"),
      s"dim-derived months must prune fact partitions at runtime:\n$p")
  }

  test("q101 checksum: one scan, one aggregation — no sort, no join") {
    val p = plan("q101_table_checksum")
    val scans = p.linesIterator.count(l =>
      l.contains("Location") && l.contains("orders.parquet"))
    assert(scans == 1, s"reconciliation must cost one scan, got $scans")
    assert(!p.contains("Join") && !p.contains("Sort "),
      "order-insensitive checksum must never sort or join")
  }

  test("q102 join-cardinality profiler: scans read ONLY the join keys (histograms, not rows)") {
    val p = plan("q102_join_cardinality")
    val schemas = p.linesIterator.filter(_.contains("ReadSchema")).toSeq
    assert(schemas.exists(s => s.contains("o_orderkey") && !s.contains("o_totalprice")),
      s"orders scan must prune to the key: $schemas")
    assert(schemas.exists(s => s.contains("l_orderkey") && !s.contains("l_quantity")),
      s"lineitem scan must prune to the key: $schemas")
  }

  test("q103 quality gate: every expectation rides ONE scan + ONE aggregation pass") {
    val p = plan("q103_dq_gate")
    val scans = p.linesIterator.count(l =>
      l.contains("Location") && l.contains("orders.parquet"))
    assert(scans == 1, s"the gate must cost one pass, got $scans")
    assert(!p.contains("Join"), "expectations must not join")
  }

  test("q104 in-row HOF analytics: pure projection, zero exchanges") {
    val p = plan("q104_hof_topterm")
    assert(!p.contains("Exchange"),
      s"in-row top-term must not shuffle the token stream:\n$p")
    assert(!p.contains("Generate"),
      "the whole point is computing inside the row — no explode")
  }

  test("q105 recursive CTE: plans as an iterated UnionLoop, not a driver loop") {
    val p = plan("q105_recursive_cte")
    assert(p.contains("UnionLoop"),
      "the recursion must execute as Spark's iterated UnionLoop operator")
    assert(p.contains("UnionLoopRef"),
      "the recursive reference must feed the loop, not a materialized copy")
  }

  test("q110 lateral top-N: decorrelated to WindowGroupLimit + equi-join, never a per-row nested loop") {
    val p = plan("q110_lateral_topn")
    assert(p.contains("WindowGroupLimit"),
      "the correlated LIMIT must rewrite to a group-limit window")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      "decorrelation must eliminate the naive per-outer-row loop")
  }

  test("whole-stage codegen covers the scan→filter→project spine of q02") {
    val p = plan("q02_filter_exclude_store")
    // formatted mode marks codegen stages with a "* " operator prefix;
    // the projection itself folds into the scan (ReadSchema), so the
    // codegen spine to check is the filter
    assert(p.contains("* Filter") && p.contains("codegen id"),
      s"filter pipeline fell out of whole-stage codegen:\n$p")
  }
}
