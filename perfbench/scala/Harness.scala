package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.PerfbenchBus
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.pipeline.NightlyRun
import graft.sources.HttpTransport

/** The benchmark's JVM side: sets up one workload, warms it up with
  * untimed passes, times it closed-loop with one client thread, and
  * writes what it saw to
  * `<run>/result.json` (and spans to `<run>/spans.jsonl` when traced).
  * `run.py` builds it, generates the inputs, launches it, checks the
  * outputs and turns the samples into metrics.
  *
  * Usage: Harness --workload W --seed N --seconds S --trace 0|1
  *          --run DIR --t0-ms EPOCH_MS --cores C --warm K --stores N
  *          [--data DIR --ops q1,q2,...]
  *        Harness selftest
  */
object Harness {
  /** Nightly: nights in the pre-aged mart, before the warm-up ticks. */
  val AgedNights = 28

  final case class Conf(workload: String, seed: Long, seconds: Double, trace: Boolean,
                        run: String, t0Ms: Long, cores: Int, warm: Int,
                        data: String, ops: Seq[String], stores: Long)

  def parse(args: Array[String]): Conf = {
    val m = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Conf(m("workload"), m("seed").toLong, m("seconds").toDouble, m("trace") == "1",
      m("run"), m("t0-ms").toLong, m("cores").toInt, m("warm").toInt,
      m.getOrElse("data", ""), m.getOrElse("ops", "").split(",").filter(_.nonEmpty).toSeq,
      m("stores").toLong)
  }

  def main(args: Array[String]): Unit = {
    if (args.headOption.contains("selftest")) sys.exit(SelfTest.run())
    val c = parse(args)
    new Harness(c).run()
  }
}

final class Harness(c: Harness.Conf) {
  private val nightly = c.workload == "nightly"
  private val nano0 = System.nanoTime()
  private val epochMs0 = System.currentTimeMillis()
  private def epoch(ns: Long): Double = (epochMs0 + (ns - nano0) / 1e6) / 1e3

  // ---- spans: (id, name, op, parent, start, end), times in epoch
  // seconds; listener jobs are attached to the spans of their op in
  // run.py
  private val spans = mutable.ArrayBuffer.empty[String]
  private var spanId = 0
  private var open: List[Int] = Nil
  private var tracing = false
  private def record(name: String, op: String, id: Int, parent: Int,
                     start: Double, end: Double): Unit =
    spans += Json(Map("id" -> id, "name" -> name, "op" -> op, "parent" -> parent,
      "start" -> start, "end" -> end))
  private def span[T](name: String, op: String)(body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val parent = open.headOption.getOrElse(0)
    spanId += 1
    val id = spanId
    open = id :: open
    val out = try body finally {
      open = open.tail
      if (tracing) record(name, op, id, parent, epoch(t0), epoch(System.nanoTime()))
    }
    (out, (System.nanoTime() - t0) / 1e9)
  }
  /** The traced op's innermost span that launched query executions:
    * its planning spans hang below it. */
  private var planParent = 0

  // ---- state
  private var spark: SparkSession = _
  private var server: PosServer = _
  private var dim: DataFrame = _
  private var night = 0
  private val failures = mutable.ArrayBuffer.empty[Map[String, Any]]
  private var setupAttempted = 0

  private val martDir: String = new File(c.run, "mart").toString
  private val checkDir: File = new File(c.run, "check")

  private lazy val registry = graft.SparkEntry.queries
  private lazy val ops: Seq[(String, SparkSession => DataFrame)] = c.ops.map { n =>
    val key = registry.keys.find(k => k == n || k.startsWith(n + "_"))
      .getOrElse(throw new IllegalArgumentException(s"no registry query $n"))
    key -> ((s: SparkSession) => registry(key)(s, c.data))
  }

  private def session(local: File, tmp: File): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[${c.cores}]")
      .appName("perfbench-" + c.workload)
      .config("spark.sql.shuffle.partitions", c.cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.sql.warehouse.dir", new File(tmp, "warehouse").toString)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.local.dir", local.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.ui.retainedExecutions", "20")
      .config("spark.ui.retainedJobs", "20")
      .config("spark.ui.retainedStages", "20")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** The whole set-up: a fresh session over the run's private tmp and
    * local dirs (run.py points java.io.tmpdir there, so every
    * content-keyed artifact is built in each run), the workload's own
    * preparation, then `warm` untimed passes of the timed path. */
  private def setup(): Unit = {
    val tmp = new File(c.run, "tmp")
    val local = new File(c.run, "local")
    Seq(tmp, local).foreach(_.mkdirs())
    System.setProperty("derby.system.home", tmp.toString)
    spark = session(local, tmp)
    if (nightly) setupNightly() else setupSuite()
    for (pass <- 1 to c.warm) {
      if (nightly) { setupAttempted += 1; tick(pass, "warm") }
      else ops.foreach { case (name, fn) => setupAttempted += 1; suiteOp(name, fn, pass, "warm") }
    }
  }

  private def teardown(): Unit = {
    if (server != null) { server.stop(); server = null }
    if (spark != null) { spark.stop(); spark = null }
  }

  // ---- suite workloads
  /** One untimed pass that dumps every op's full result for the oracle
    * comparison in run.py. */
  private def setupSuite(): Unit = {
    checkDir.mkdirs()
    ops.foreach { case (name, fn) =>
      setupAttempted += 1
      try fn(spark).write.mode("overwrite").parquet(new File(checkDir, name).toString)
      catch { case e: Throwable => fail(name, "check", e) }
    }
  }

  private def fail(op: String, phase: String, e: Throwable): Unit = {
    val msg = s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("")}"
    System.err.println(s"[perfbench] $op ($phase) failed: ${msg.take(500)}")
    failures += Map("op" -> op, "phase" -> phase, "error" -> msg.take(2000))
  }

  private def suiteOp(name: String, fn: SparkSession => DataFrame, pass: Int,
                      phase: String): mutable.Map[String, Any] = {
    val opId = s"$phase/$pass/$name"
    val rec = mutable.LinkedHashMap[String, Any]("op" -> name, "pass" -> pass)
    val t0 = System.nanoTime()
    try {
      // the write plans the query itself (traced passes read that
      // planning time from the listener) and then runs it in full
      span("op", opId) {
        val (df, b) = span("queries.build", opId)(fn(spark))
        val (_, x) = span("engine.exec", opId) {
          planParent = open.head
          df.write.format("noop").mode("overwrite").save()
        }
        rec ++= Seq("build_s" -> b, "exec_s" -> x)
      }
      rec("ok") = true
    } catch {
      case e: Throwable => fail(name, phase, e); rec("ok") = false
    }
    rec("t") = (System.nanoTime() - t0) / 1e9
    rec
  }

  // ---- nightly
  private def setupNightly(): Unit = {
    server = new PosServer(c.seed, math.min(c.cores, Runtime.getRuntime.availableProcessors()))
    val s0 = spark
    import s0.implicits._
    dim = (0L until c.stores).flatMap(s => PosModel.region(c.seed, s).map(s -> _))
      .toDF("store_id", "region_nm").cache()
    dim.count()
    // pre-aged mart: the closed-form state after AgedNights nights,
    // laid out exactly as NightlyRun commits it
    val n = Harness.AgedNights
    val rows = for {
      i <- 0 to n
      s <- 0L until c.stores
      if !PosModel.isError(c.seed, s)
    } yield {
      val d = PosModel.date(i)
      (PosModel.id(s, d), s, java.sql.Date.valueOf(d),
        PosModel.k(c.seed, s, d, math.min(i + 1, n)),
        PosModel.region(c.seed, s).getOrElse("unknown"))
    }
    rows.toDF("id", "store_id", "sale_d", "k", "region")
      .repartition($"sale_d").write.partitionBy("sale_d").parquet(martDir)
    night = n
  }

  private def goodStores: Long = (0L until c.stores).count(s => !PosModel.isError(c.seed, s))

  private def sliceDirs(lo: String, hi: String): Seq[File] =
    Seq(lo, hi).map(d => new File(martDir, s"sale_d=$d"))

  private def dirKey(f: File): Any =
    if (!f.isDirectory) null
    else Files.readAttributes(f.toPath, classOf[java.nio.file.attribute.BasicFileAttributes]).fileKey()

  private def tick(pass: Int, phase: String): mutable.Map[String, Any] = {
    night += 1
    server.night = night
    val lo = PosModel.date(night - 1).toString
    val hi = PosModel.date(night).toString
    val opId = s"$phase/$pass/tick"
    val before = sliceDirs(lo, hi).map(dirKey)
    server.window()
    val rec = mutable.LinkedHashMap[String, Any]("op" -> "tick", "pass" -> pass, "night" -> night)
    val t0 = System.nanoTime()
    try {
      val (rpt, _) = span("pipeline.tick", opId) {
        planParent = open.head
        NightlyRun.run(spark, martDir, c.stores, lo, hi,
          new HttpTransport(server.endpoint), dim, numPartitions = 2 * c.cores)
      }
      val want = 2 * goodStores
      val ok = rpt.gatePassed && rpt.decoded == want && rpt.merged == want
      if (!ok) failures += Map("op" -> "tick", "phase" -> phase, "error" ->
        s"night $night: gate=${rpt.gatePassed} decoded=${rpt.decoded} merged=${rpt.merged} want=$want")
      rec ++= Seq("ok" -> ok, "decoded" -> rpt.decoded, "merged" -> rpt.merged,
        "gate_pass_ratio" -> rpt.gate.count(_.passed).toDouble / math.max(1, rpt.gate.size))
    } catch {
      case e: Throwable => fail("tick", phase, e); rec("ok") = false
    }
    rec("t") = (System.nanoTime() - t0) / 1e9
    val fetch = server.window()
    if (fetch("requests") != 2.0 * c.stores) {
      rec("ok") = false
      failures += Map("op" -> "tick", "phase" -> phase,
        "error" -> s"night $night: ${fetch("requests")} fetches for ${2 * c.stores} work units")
    }
    rec("fetch") = fetch
    val after = sliceDirs(lo, hi)
    rec("partitions_swapped") = after.map(dirKey).zip(before).count { case (a, b) => a != null && a != b }
    rec("files_written") = after.map(d =>
      Option(d.listFiles()).getOrElse(Array.empty).count(_.getName.endsWith(".parquet"))).sum
    rec
  }

  // ---- timed phases
  private def oldGenMb(): Double = {
    System.gc()
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .find(p => p.getName.contains("Old Gen") || p.getName.contains("Tenured"))
      .map(_.getUsage.getUsed / 1048576.0).getOrElse(0.0)
  }

  private val heap = mutable.ArrayBuffer.empty[Double]

  /** Closed loop for `seconds`, whole passes. With a listener, odd
    * passes are traced and even ones not, so the tracing overhead is an
    * interleaved comparison. */
  private def phase(seconds: Double, listener: Option[LayerListener]): Seq[mutable.Map[String, Any]] = {
    val out = mutable.ArrayBuffer.empty[mutable.Map[String, Any]]
    val end = System.nanoTime() + (seconds * 1e9).toLong
    var pass = 0
    while (pass == 0 || System.nanoTime() < end) {
      val traced = listener.filter(_ => pass % 2 == 1)
      val label = if (traced.isDefined) "traced" else "untraced"
      traced.foreach { l =>
        spark.sparkContext.addSparkListener(l)
        spark.listenerManager.register(l)
        tracing = true
      }
      val order: Seq[(String, SparkSession => DataFrame)] =
        if (nightly) Seq("tick" -> null)
        else new scala.util.Random(c.seed * 7919L + pass).shuffle(ops)
      val p0 = System.nanoTime()
      val recs = order.map { case (name, fn) =>
        val opId = s"$label/$pass/$name"
        traced.foreach(_.op = opId)
        val conf0 = if (traced.isDefined) spark.conf.getAll else Map.empty[String, String]
        val rec = if (nightly) tick(pass, label) else suiteOp(name, fn, pass, label)
        rec("traced") = traced.isDefined
        traced.foreach { l =>
          PerfbenchBus.drain(spark.sparkContext)
          rec("conf_leaks") = ConfDiff(conf0, spark.conf.getAll).size
          l.synchronized {
            l.plans.filter(_._1 == opId).foreach { case (_, s, e) =>
              spanId += 1
              record("plans.plan", opId, spanId, planParent, s / 1e3, e / 1e3)
            }
            l.plans.clear()
            rec("engine") = l.counters(opId).v.toMap
            val jobs = l.jobs.filter(_.op == opId)
            rec("jobs") = jobs.map(j => Map("id" -> j.id, "layer" -> j.layer, "name" -> j.name,
              "commit" -> j.callSite.contains("NightlyRun$.commitSlice"),
              "start" -> j.startMs / 1e3, "end" -> j.endMs / 1e3))
            l.jobs --= jobs
          }
        }
        rec
      }
      val wall = (System.nanoTime() - p0) / 1e9
      recs.foreach(_("pass_wall_s") = wall)
      out ++= recs
      traced.foreach { l =>
        spark.sparkContext.removeSparkListener(l)
        spark.listenerManager.unregister(l)
        tracing = false
      }
      if (!nightly || pass % 4 == 3) heap += oldGenMb()
      pass += 1
    }
    out.toSeq
  }

  def run(): Unit = {
    setup()
    val setupS = (System.currentTimeMillis() - c.t0Ms) / 1e3
    heap += oldGenMb()
    val setupFailures = failures.toSeq
    val timed = phase(c.seconds, if (c.trace) Some(new LayerListener) else None)
    heap += oldGenMb()
    val result = Map(
      "workload" -> c.workload, "seed" -> c.seed, "cores" -> c.cores,
      "setup_s" -> setupS, "heap_mb" -> heap.toSeq,
      "timed" -> timed.map(_.toMap),
      "failures" -> failures.toSeq, "setup_failures" -> setupFailures.size,
      "setup_attempted" -> setupAttempted,
      "check_dir" -> (if (nightly) null else checkDir.toString),
      "mart_dir" -> (if (nightly) martDir else null),
      "ops" -> ops.map(_._1), "stores" -> c.stores, "night" -> night)
    if (!nightly) Files.writeString(Paths.get(c.run, "oracle_sql.json"),
      Json(ops.flatMap { case (n, _) => graft.SparkEntry.oracleSql.get(n).map(n -> _) }.toMap))
    Files.writeString(Paths.get(c.run, "result.json"), Json(result))
    if (c.trace) Files.writeString(Paths.get(c.run, "spans.jsonl"), spans.mkString("", "\n", "\n"))
    teardown()
  }
}
