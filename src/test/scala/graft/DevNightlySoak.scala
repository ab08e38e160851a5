package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._

import graft.pipeline.NightlyRun
import graft.sources.{EnvelopeTransport, FetchRequest}

/** Multi-night soak of the nightly composition (r19 VERDICT item 3).
  *
  * NightlyRunSpec pins cold build, one revised re-send, and two steady
  * re-sends — four ticks. The reference's actual production envelope
  * is a nightly cron over a trailing re-extraction window
  * (load_sales_data.py:146-164) running for months: each night fetches
  * TODAY's slice plus re-fetches yesterday's (the API returns revised
  * figures), against a mart that only ever grows. The failure modes a
  * 4-tick spec cannot see are cumulative: job counts creeping with
  * mart age (an accidental full-mart listing), artifact/staging
  * residue accumulating, a merge bug that only corrupts once the same
  * date has been revised AND aged past the slice window, gate drift.
  *
  * This harness runs N simulated nights (default 30). Night n covers
  * the 2-day window [date(n-1), date(n)] (date(i) = 2024-07-01 + i):
  * date n is new, date n-1 is re-fetched with REVISED measures. The
  * transport is a pure function of (store, date, night), so the
  * expected mart after any night has a closed form the harness
  * computes independently (the cold oracle):
  *
  *   k(store, date i, night n) = epochDay(i) % 7 + 100 * (n - i)
  *
  * i.e. every date's final state is its night-(i+1) revision
  * (k = base + 100) except the newest date (still k = base). Every
  * GRADE_EVERY nights (and on the last night) the full mart is read
  * back and compared to the oracle exactly.
  *
  * Asserted throughout, per night:
  *   - the tick's quality gate passes;
  *   - Spark job count is O(slice): nights ≥ 3 all have the identical
  *     slice shape (one standing partition + one new date), so their
  *     job counts must be EQUAL — any growth with mart age means the
  *     tick started listing/reading beyond its slice;
  *   - zero residue growth: no graft_* stage/trash entries in the
  *     shared tmp root, no surviving `_staging` under the mart.
  *
  * Usage: tools/spark_java.sh graft.DevNightlySoak [nights] [stores] [gradeEvery]
  * Emits one JSON line per night plus a final markdown table for
  * SCALING.md, and exits non-zero on any violation.
  */
object DevNightlySoak {

  /** Revised-figures transport: night n re-fetching date i answers
    * k = epochDay % 7 + 100·(n − i); every 50th store answers non-OK
    * (the decode gate's contract, load_sales_data.py:97-99). */
  private final class SoakTransport(night: Int, d0: java.time.LocalDate)
      extends EnvelopeTransport {
    override def fetchPartition(rs: Iterator[FetchRequest]): Iterator[String] =
      rs.map { r =>
        val code = if (r.storeId % 50 == 0) "9999" else "0000"
        val day = r.date.toEpochDay
        val rev = night - java.time.temporal.ChronoUnit.DAYS.between(d0, r.date)
        val k = day % 7 + 100 * rev
        s"""{"ret_code":"$code","data":[{"id":${r.storeId * 100000 + day},"k":$k}]}"""
      }
  }

  def main(args: Array[String]): Unit = {
    val nights = if (args.length > 0) args(0).toInt else 30
    val stores = if (args.length > 1) args(1).toLong else 200L
    val gradeEvery = if (args.length > 2) args(2).toInt else 5
    val spark = Session.local(Session.envCpus)
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    val d0 = java.time.LocalDate.parse("2024-07-01")
    val martDir = Files.createTempDirectory("graft_soak_mart_").toString
    val dim = Seq((1L, "north"), (2L, "south"), (3L, "north"))
      .toDF("store_id", "region_nm")

    // residue watch: graft-family stage/trash entries in the shared tmp
    // root (the chaos_restart scope) must not grow across the soak
    val tmpRoot = new java.io.File(System.getProperty("java.io.tmpdir"))
    def residues(): Set[String] =
      Option(tmpRoot.list()).getOrElse(Array.empty).toSet
        .filter(n => n.startsWith("graft_") &&
          (n.contains(".stage.") || n.contains(".trash.")))
    val residues0 = residues()

    // Shared sentinel-tagged FIFO-settled job counter (JobCounter —
    // r20 ADVICE item 4: the previous local copy could return before
    // the sentinel's own event was counted, flaking the zero-tolerance
    // steady-night drift assertion).
    val jc = new JobCounter(spark.sparkContext)
    def settle(): Int = jc.settle()

    /** Expected mart rows after `night`: (id, store_id, sale_d, k). */
    def oracle(night: Int): Set[(Long, Long, String, Long)] =
      (for {
        i <- 0 to night
        s <- 0L until stores
        if s % 50 != 0
      } yield {
        val date = d0.plusDays(i.toLong)
        val day = date.toEpochDay
        val lastFetchNight = math.min(i + 1, night) // rev 1 once aged
        val k = day % 7 + 100L * (lastFetchNight - i)
        (s * 100000 + day, s, date.toString, k)
      }).toSet

    var violations = List.empty[String]
    val rows = (1 to nights).map { n =>
      val lo = d0.plusDays((n - 1).toLong).toString
      val hi = d0.plusDays(n.toLong).toString
      val mark = settle()
      val t0 = System.nanoTime()
      val rpt = NightlyRun.run(spark, martDir, stores, lo, hi,
        new SoakTransport(n, d0), dim)
      val wall = (System.nanoTime() - t0) / 1e9
      val jobs = settle() - mark - 1
      if (!rpt.gatePassed)
        violations ::= s"night $n: gate failed ${rpt.gate.filterNot(_.passed)}"
      val resNew = residues() -- residues0
      if (resNew.nonEmpty)
        violations ::= s"night $n: residue growth $resNew"
      if (new java.io.File(martDir, "_staging").exists())
        violations ::= s"night $n: _staging survived the commit"
      val graded = n == nights || n % gradeEvery == 0
      val oracleOk = if (!graded) None else {
        val got = spark.read.parquet(martDir)
          .select($"id", $"store_id", $"sale_d".cast("string"), $"k")
          .as[(Long, Long, String, Long)].collect().toSet
        val exp = oracle(n)
        if (got != exp) {
          violations ::= s"night $n: mart diverged from cold oracle " +
            s"(got ${got.size} rows, expected ${exp.size}; " +
            s"missing ${(exp -- got).take(3)}, extra ${(got -- exp).take(3)})"
          Some(false)
        } else Some(true)
      }
      val line = s"""{"night":$n,"slice":["$lo","$hi"],"wall_sec":${math.rint(wall * 100) / 100},"jobs":$jobs,"decoded":${rpt.decoded},"merged":${rpt.merged},"gate":${rpt.gatePassed},"oracle":${oracleOk.map(_.toString).getOrElse("null")}}"""
      println(line)
      (n, wall, jobs, rpt.gatePassed, oracleOk)
    }

    // O(slice) job-count pin: nights >= 3 share the identical slice
    // shape (one standing partition + one new date) over a mart that
    // has aged from 3 to `nights` partitions — their counts must not
    // drift AT ALL, or the tick has started paying for mart age.
    val steady = rows.filter(_._1 >= 3).map(_._3)
    if (steady.distinct.size > 1)
      violations ::= s"steady-night job counts drifted with mart age: " +
        rows.filter(_._1 >= 3).map(r => s"n${r._1}=${r._3}").mkString(", ")

    // markdown table for SCALING.md (compact: first nights, every
    // graded night, and the last)
    println("\n| night | wall (s) | jobs | gate | oracle |")
    println("|---|---|---|---|---|")
    rows.filter(r => r._1 <= 3 || r._5.isDefined || r._1 == nights)
      .foreach { case (n, w, j, g, o) =>
        println(f"| $n | $w%.2f | $j | ${if (g) "pass" else "FAIL"} | " +
          s"${o.map(if (_) "match" else "DIVERGED").getOrElse("—")} |")
      }
    val mdirSize = Option(new java.io.File(martDir).list()).map(_.length).getOrElse(0)
    println(s"\nmart partitions after night $nights: $mdirSize " +
      s"(dirs incl _SUCCESS), steady jobs/night: ${steady.distinct.mkString(",")}")

    graft.ops.FsOps.rmTree(new java.io.File(martDir))
    // r21 ADVICE: release the counter's listener at both exits (the
    // soak JVM ends right after, but the bus must not keep serving a
    // dead counter while the final prints/cleanup run)
    jc.close()
    if (violations.nonEmpty) {
      System.err.println("SOAK VIOLATIONS:")
      violations.reverse.foreach(v => System.err.println("  " + v))
      spark.stop()
      sys.exit(1)
    }
    println(s"SOAK GREEN: $nights nights, stores=$stores, O(slice) " +
      "job counts, zero residue growth, oracle matches")
    spark.stop()
  }
}
