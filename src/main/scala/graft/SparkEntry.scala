package graft

import graft.ops.RelationalOps._
import graft.queries.{CurateQueries, DeepQueries, ExtQueries, HardenQueries, MaintainQueries, NorthQueries, OpsQueries, PipelineQueries, RefQueries, ServeQueries, WidenQueries}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** One graded query: its builder and, unless it is rows-only by
  * design, the DuckDB SQL that certifies it. */
final case class Graded(
    name: String,
    build: (SparkSession, String) => DataFrame,
    oracle: Option[String])

/** Driver contract — see SURVEY.md §7. */
object SparkEntry {

  /** Flagship pipeline — the reference's ACTUAL nightly shape
    * (SURVEY.md §3 Entry 2/3: kicc_to_tb_sales.py +
    * kicc_to_tb_sales_prod_period.py) end to end on sf0.001:
    *
    *   1. pre-existing mart target (history through 1996-06, with
    *      already-set enrichment values),
    *   2. DATE-BOUNDED fresh slice (S3 BETWEEN → parquet pushdown —
    *      the nightly job never rescans history),
    *   3. store×day aggregation of the slice (A1) + mart rename (P5),
    *   4. latest-wins MERGE of the bounded slice into the LARGER
    *      target (U1) — the overlap window (1996-01..06) is where
    *      incoming must beat stored rows; re-runs are idempotent,
    *   5. broadcast dim enrichment OVERWRITING stale pre-existing
    *      values where the dim matches, keeping them where it is null
    *      (J1's UPDATE…JOIN semantics), then IN-list constant fill (P3),
    *   6. date-partitioned mode("overwrite") write + re-read (S7/S8) —
    *      the atomic TRUNCATE replacement, partitioned so the next
    *      nightly slice prunes at the directory level.
    *
    * Two shuffles (slice agg, merge window); dims broadcast; the write
    * is partition-parallel — the plan a 1000-executor cluster wants.
    */
  def entry(spark: SparkSession): DataFrame = {
    // honor the driver-passed scale dir (same env contract as
    // Verify/Bench); sf0.001 is the documented smoke-check default
    val d = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")

    def storeDayMart(df: DataFrame): DataFrame = {
      val daily = df
        .groupBy(col("o_custkey"), col("o_orderdate").cast("date").as("sale_dy"))
        .agg(sumMoney(col("o_totalprice")).as("chong_maechool"),
          count(lit(1)).as("pay_count"))
      renameProject(daily, Seq(
        "o_custkey" -> "chain_no", "sale_dy" -> "sale_dy",
        "chong_maechool" -> "chong_maechool", "pay_count" -> "pay_count"))
    }

    // 1. pre-existing target: history through 1996-06-30, enrichment
    // already populated with a stale placeholder the dim must beat.
    val target = storeDayMart(Tables.orders(spark, d)
      .filter(col("o_orderdate") < to_timestamp(lit("1996-07-01 00:00:00"))))
      .withColumn("responsible", lit("stale"))

    // 2-3. bounded fresh slice (overlaps the target Jan–Jun 1996).
    val slice = storeDayMart(Tables.orders(spark, d)
      .filter(col("o_orderdate") >= to_timestamp(lit("1996-01-01 00:00:00"))))
      .withColumn("responsible", lit(null).cast("string"))

    // 4. one-shuffle MERGE: incoming slice wins on overlapping days.
    val merged = upsertLatestWins(target, slice, Seq("chain_no", "sale_dy"))

    // 5. dim overwrite-when-matched + IN-list fill.
    val dim = Tables.customer(spark, d)
      .select(col("c_custkey").as("chain_no"),
        when(col("c_mktsegment") === "BUILDING", lit(null).cast("string"))
          .otherwise(col("c_mktsegment")).as("responsible_new"))
    val filled = inListNullFill(
      enrichJoinOverwrite(merged, dim, "chain_no", "responsible", "responsible_new"),
      "responsible", "chain_no", Seq(1L, 2L, 3L), "직영")

    // 6. atomic date-partitioned refresh, then serve the re-read.
    val sink = Scratch.app(spark, "entry_mart")
    val mart = filled.withColumn("sale_month",
      date_format(col("sale_dy"), "yyyy-MM"))
    // co-partition by the partition column BEFORE the write (r21,
    // guide §6 — the q41 posture): without it every upstream task
    // writes a file into every month directory it holds rows for —
    // tasks×months small files at scale. r22: REBALANCE-with-skew-
    // split instead of a plain hash repartition, which melted a hot
    // month in one task — rationale in LayoutOps.partitionedOverwrite.
    graft.ops.LayoutOps.partitionedOverwrite(mart, "sale_month", sink)
    // writer-schema read-back (r13 edge sweep): an empty slice writes
    // zero partition dirs and inference would throw instead of
    // serving an empty mart
    spark.read.schema(mart.schema).parquet(sink)
  }

  /** Every graded query, one record each (the SURVEY.md §2 operator
    * inventory). Names must be distinct: a reused q-number across
    * query objects would otherwise collapse in the derived maps and
    * shrink the graded surface without any signal.
    */
  lazy val registry: Seq[Graded] = {
    val all = Seq(
      RefQueries.graded, NorthQueries.graded, ExtQueries.graded,
      HardenQueries.graded, WidenQueries.graded,
      PipelineQueries.graded, DeepQueries.graded, CurateQueries.graded,
      ServeQueries.graded, OpsQueries.graded, MaintainQueries.graded).flatten
    val dups = all.groupBy(_.name).collect { case (n, gs) if gs.size > 1 => n }
    require(dups.isEmpty, s"duplicate graded query names: ${dups.mkString(", ")}")
    all
  }

  /** Each registered query's builder. */
  lazy val queries: Map[String, (SparkSession, String) => DataFrame] =
    registry.map(g => g.name -> g.build).toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted for non-SQL-expressible ops
    * (approx sketches, LSH internals) → driver records rows-only.
    */
  lazy val oracleSql: Map[String, String] =
    registry.flatMap(g => g.oracle.map(g.name -> _)).toMap

  /** Resolve a comma-separated subset of query names (Bench's
    * SPARK_GRAFT_BENCH_ONLY, Verify's third argument) against the
    * registry. Unset selects every query; either way the selection
    * runs in sorted registry order, the order of a full pass. A name
    * the registry lacks — or a value naming no query at all — fails
    * here, before any session starts, instead of running nothing. */
  def select(only: Option[String]): Seq[String] = {
    val all = registry.map(_.name).sorted
    only.map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq) match {
      case None => all
      case Some(names) =>
        require(names.nonEmpty, "the query subset names no query")
        val unknown = names.filterNot(all.toSet).distinct
        require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(",")}")
        all.filter(names.toSet)
    }
  }
}
