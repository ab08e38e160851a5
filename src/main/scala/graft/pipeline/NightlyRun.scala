package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame, Observation, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DateType, LongType, StringType, StructType}

import graft.ops.RelationalOps
import graft.sources.{EnvelopeTransport, IngestFetch}

/** The reference's actual nightly, end to end, as ONE Spark
  * composition (SURVEY §3 Entry 1 + Entry 2 fused; r11 VERDICT item
  * 5). The reference runs it as two Python processes —
  * `load_sales_data.py:146-164` (stores × dates loop → POS POST →
  * per-row MySQL upsert) then `kicc_to_tb_sales.py:60-136` (staging
  * scan → rename-project → per-row upsert → in-MySQL update-joins) —
  * with 2·N·D network round-trips. Here the same date slice is one
  * declarative chain:
  *
  *   worklist (DSv2, executor-side enumeration)
  *     → envelope fetch (transport seam, coordinates preserved)
  *     → decode (ret_code gate; loop date wins over API date)
  *     → latest-wins merge against the STANDING mart slice (U1)
  *     → dim enrich of the fresh winners (broadcast update-join, J1)
  *     → date-partitioned mart commit (stage + per-partition swap)
  *     → governance gate over what actually landed (q103's operator)
  *
  * Scale posture: the only data the tick ever reads back is the
  * slice's partitions (partition-pruned standing read); the only
  * thing it writes is the slice's partitions (per-partition swap —
  * untouched partitions are never relisted, rewritten, or even
  * opened). A 100-TB mart with a 2-day nightly slice pays 2 days of
  * I/O, exactly like the reference's windowed re-extraction, and the
  * standing mart is a reused persisted artifact in the same sense as
  * the q35/q56/q93 ingest artifacts (ArtifactGateSpec): steady-state
  * ticks launch no rebuild work (NightlyRunSpec pins this by job
  * count and partition-file identity).
  *
  * Enriching after the merge keeps the broadcast out of the fetch
  * stage: the fetch (the one step waiting on the network) is submitted
  * at once, alongside the dim aggregate, instead of behind the dim's
  * aggregate and broadcast. Only incoming winners are enriched;
  * standing winners keep their stored region.
  */
object NightlyRun {

  final case class GateRow(check: String, observed: Double, passed: Boolean)

  /** Per-tick report. Counts come from `observe()` metrics riding the
    * single write action — the tick never runs an extra pass (or any
    * O(full-mart) job) to report on itself. */
  final case class Report(decoded: Long, merged: Long, gate: Seq[GateRow]) {
    def gatePassed: Boolean = gate.forall(_.passed)
  }

  /** The POS API envelope (load_sales_data.py:100-127): payload
    * fields nullable by construction, mirroring dict.get → None. */
  val envSchema: StructType = new StructType()
    .add("ret_code", StringType)
    .add("data", ArrayType(new StructType()
      .add("id", LongType)
      .add("k", LongType)))

  /** Mart row layout: business key `id`, loop-date partition
    * `sale_d`, measure `k`, dim-enriched `region`. */
  private val martSchema: StructType = new StructType()
    .add("id", LongType).add("store_id", LongType)
    .add("sale_d", DateType)
    .add("k", LongType).add("region", StringType)

  private val martCols = martSchema.fieldNames.toSeq.map(col)

  /** One nightly tick over `[lo, hi]`. `storeDim` is the small store
    * dimension (`store_id`, `region_nm`) — broadcast, like the
    * reference's update-join dims (kicc_to_tb_sales.py:109-115).
    */
  def run(spark: SparkSession, martDir: String, stores: Long,
          lo: String, hi: String, transport: EnvelopeTransport,
          storeDim: DataFrame, numPartitions: Int = 8): Report = {
    val wl = spark.read.format("graft.sources.WorklistSource")
      .option("stores", stores.toString)
      .option("lo", lo).option("hi", hi)
      .option("numPartitions", numPartitions.toString)
      .load()
    val raw = IngestFetch.fetchEnvelopesWithCoords(wl, transport)
    val decodedObs = Observation()
    val decoded = RelationalOps
      .decodeEnvelope(raw, "payload", envSchema, keep = Seq("store_id", "d"))
      .observe(decodedObs, count(lit(1)).as("n"))
    // `_dim_key` is the enrich join key: store_id on incoming rows,
    // null (never matches) on standing ones
    val incoming = decoded
      .select(col("id"), col("store_id"), col("d").as("sale_d"),
        col("k"), lit("unknown").as("region"), col("store_id").as("_dim_key"))
    val standing = standingSlice(spark, martDir, lo, hi)
      .withColumn("_dim_key", lit(null).cast(LongType))
    val mergedObs = Observation()
    // tiebreak matters on exactly one input shape: the re-runnable
    // mixed state after a mid-swap crash, where the STANDING slice can
    // briefly hold one id under both its old and its corrected sale_d
    // (commitSlice's contract). If the rerun's fetch still carries the
    // id, incoming (_src_priority 0) beats both copies and the choice
    // never arises — but if the API has meanwhile dropped it, the two
    // target copies tie on priority and an empty tiebreak would pick
    // an ARBITRARY survivor (r14 review). Latest sale_d wins (a date
    // correction re-sends under the new date), with the remaining
    // columns closing the total order upsertLatestWins' determinism
    // contract asks for. Incoming rows are still un-enriched here;
    // that cannot change a winner, because incoming copies tying up to
    // `store_id` get the same dim value.
    val merged = RelationalOps
      .upsertLatestWins(standing, incoming, Seq("id"),
        tiebreak = Seq(col("sale_d").desc, col("k").desc,
          col("store_id").desc, col("region").desc))
      .observe(mergedObs, count(lit(1)).as("n"))
    // the dim is min-deduped on its key, so the join cannot add rows
    val enriched = RelationalOps.enrichJoinOverwrite(merged,
      storeDim.select(col("store_id").as("_dim_key"), col("region_nm")),
      "_dim_key", "region", "region_nm")
      .select(martCols: _*)
    commitSlice(enriched, martDir, lo, hi)
    // gate what LANDED, not what was about to land: the reference's
    // contract is on the loaded table. Directory-level slice read —
    // the rest of the mart is not even listed.
    val landed = sliceRead(spark, martDir, lo, hi)
    val gate = RelationalOps.qualityGate(landed, Seq(
      ("key_no_nulls", count(when(col("id").isNull, lit(1))),
        (m: Column) => m === 0),
      ("key_unique", count(lit(1)) - countDistinct(col("id")),
        (m: Column) => m === 0),
      ("measure_no_nulls", count(when(col("k").isNull, lit(1))),
        (m: Column) => m === 0),
      ("slice_nonempty", count(lit(1)), (m: Column) => m > 0)))
      .collect().toSeq
      .map(r => GateRow(r.getString(0), r.getDouble(1), r.getBoolean(2)))
    Report(obsLong(decodedObs), obsLong(mergedObs), gate)
  }

  /** An observed count. Once a stage has proved the write input empty,
    * AQE may swap that whole input for an `EmptyRelation`, and the
    * observation nodes beneath it leave the executed plan with it, so
    * no metric means no row reached the write. Both counts are then
    * 0: every decoded row yields a merge winner (the window keeps one
    * row per `id`, null included). */
  private def obsLong(o: Observation): Long =
    o.get.get("n") match {
      case Some(l: java.lang.Long) => l.longValue()
      case Some(x) => x.toString.toLong
      case None => 0L
    }

  /** The standing mart rows of THIS slice only. Before the first
    * committed tick there is no mart: an empty, schema-matching
    * frame. */
  private def standingSlice(spark: SparkSession, martDir: String,
                            lo: String, hi: String): DataFrame =
    if (!new java.io.File(martDir, "_SUCCESS").exists()) emptyMart(spark)
    else sliceRead(spark, martDir, lo, hi)

  private def emptyMart(spark: SparkSession): DataFrame =
    spark.createDataFrame(spark.sparkContext.emptyRDD[Row], martSchema)

  /** Directory-level slice read: enumerate the slice's dates and hand
    * Spark ONLY the partition dirs that exist (`basePath` keeps
    * `sale_d` as a partition column). A plain
    * `spark.read.parquet(martDir).filter(...)` would prune the SCAN
    * to the slice but still build an InMemoryFileIndex over the whole
    * mart first — an O(all-partitions) driver-side listing per tick
    * that grows with mart age, and past
    * `spark.sql.sources.parallelPartitionDiscovery.threshold` (32
    * dirs ≈ a month of dailies) starts launching listing JOBS, which
    * would also break the steady-tick job-count pin in
    * NightlyRunSpec. Here the listing work is O(slice) regardless of
    * mart size. The schema is declared, not inferred: inference
    * launches a footer-merge job, outside any SQL execution, on every
    * read. This is SCALING.md's writer-schema read-back rule (its
    * "empty partitioned sink" row): read back under the schema the
    * writer used. */
  private def sliceRead(spark: SparkSession, martDir: String,
                        lo: String, hi: String): DataFrame = {
    val dirs = sliceDates(lo, hi)
      .map(d => new java.io.File(martDir, s"sale_d=$d"))
      .filter(_.isDirectory)
    if (dirs.isEmpty) emptyMart(spark)
    else spark.read.schema(martSchema).option("basePath", martDir)
      .parquet(dirs.map(_.toString): _*)
      .select(martCols: _*)
  }

  /** The slice's dates as ISO strings, inclusive. Nightly slices are
    * days-sized (the reference re-extracts a trailing window), so the
    * enumeration is always tiny. */
  private def sliceDates(lo: String, hi: String): Seq[String] = {
    val h = java.time.LocalDate.parse(hi)
    Iterator.iterate(java.time.LocalDate.parse(lo))(_.plusDays(1))
      .takeWhile(!_.isAfter(h)).map(_.toString).toSeq
  }

  /** Commit the merged slice: write to a `_staging` dir under the
    * mart root (leading underscore — invisible to parquet listings,
    * so concurrent readers never see it), then swap each partition
    * directory into place with an FS-metadata move and drop a root
    * `_SUCCESS`. Spark refuses to overwrite a path it is reading
    * (the standing-slice scan), and rightly — the stage-and-swap is
    * the classic no-table-format answer: only the slice's partition
    * dirs are replaced, untouched partitions are never opened. The
    * per-partition window where a directory is mid-move is the price
    * of raw parquet; a deployment with a transactional table format
    * would swap this method for a MERGE and keep every stage above
    * unchanged. `repartition(sale_d)` before the write: one file per
    * partition directory, not tasks × dirs (the q41 discipline).
    * Crash residue in `_staging` is removed on the next tick's
    * commit, and the root `_SUCCESS` only ever lands after a
    * complete swap — a tick that died mid-commit leaves either the
    * old partitions (pre-swap crash) or a re-runnable mixed state
    * that the NEXT tick's latest-wins merge repairs (deterministically:
    * run() passes a sale_d-desc tiebreak for the one shape where both
    * a key's old and corrected copies survive the crash), never a
    * half-written partition visible as committed.
    */
  private def commitSlice(merged: DataFrame, martDir: String,
                          lo: String, hi: String): Unit = {
    val root = java.nio.file.Paths.get(martDir)
    java.nio.file.Files.createDirectories(root)
    val staging = root.resolve("_staging")
    rm(staging.toFile)
    merged.repartition(col("sale_d"))
      .write.partitionBy("sale_d").mode("overwrite")
      .parquet(staging.toString)
    val staged = Option(staging.toFile.listFiles()).getOrElse(Array.empty)
      .filter(_.getName.startsWith("sale_d="))
    staged.foreach { p =>
      val dst = root.resolve(p.getName)
      rm(dst.toFile)
      java.nio.file.Files.move(p.toPath, dst): Unit
    }
    // a slice date whose MERGED output is empty writes no staging dir
    // — but its old partition dir must still be retired, or rows the
    // merge superseded away (e.g. a key re-sent under a corrected
    // date) would survive as duplicates the gate then flags forever.
    // Only in-slice dirs are candidates; the rest of the mart stays
    // untouched.
    val stagedNames = staged.map(_.getName).toSet
    // LOUD delete here (r14 review): a quiet retire failure (held
    // handle, permissions) would leave the superseded rows standing
    // AND mark the slice committed below — the gate then flags
    // key_unique forever with no hint of the cause. Everywhere else
    // in this method a failed rm is caught by the very next step
    // (the staging overwrite re-cleans; a surviving dst fails the
    // Files.move).
    sliceDates(lo, hi).map(d => s"sale_d=$d")
      .filterNot(stagedNames)
      .foreach(n => graft.ops.FsOps.rmTreeOrThrow(root.resolve(n).toFile))
    rm(staging.toFile)
    java.nio.file.Files.write(root.resolve("_SUCCESS"), Array.empty[Byte]): Unit
  }

  private def rm(f: java.io.File): Unit = graft.ops.FsOps.rmTree(f)
}
