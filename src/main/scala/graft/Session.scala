package graft

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The one owner of session state. `local` builds the one local
  * SparkSession every main and test uses; `scoped` and `sql` are the
  * only ways a query changes what it runs under, and neither leaves
  * anything on the caller's session. The core count is `local`'s only
  * parameter; shuffle partitions follow it. Every other setting is
  * part of the output contract:
  *   - UTC session time zone, or date casts drift vs the DuckDB oracle;
  *   - GraftExtensions, which register the graft_* functions and rules;
  *   - nanosAsLong, because events.ts has arrived as nanosecond-long
  *     parquet (Tables.events normalizes every flavor from there).
  */
object Session {
  /** Core count from SPARK_GRAFT_CPUS, default 4. */
  def envCpus: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt

  def local(cpus: Int): SparkSession = SparkSession.builder()
    .master(s"local[$cpus]")
    .config("spark.sql.shuffle.partitions", cpus.toString)
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.extensions", "graft.plans.GraftExtensions")
    .config("spark.sql.warehouse.dir", Scratch.shared("warehouse"))
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    // Spark's recursive-CTE ROW guard (1M rows TOTAL over all
    // iterations) is a notebook safety net, not a data bound: q105's
    // closure is |customer| × ~log2(max key) rows, ~4M at sf1 (the
    // SCALING.md ladder caught it failing at 10× data). A data-sized
    // guard would need a count job at query construction
    // (LazyRegistrySpec), so the LEVEL limit (default 100) stays the
    // real non-termination guard: q105's hierarchy halves its
    // frontier per level.
    .config("spark.sql.cteRecursionRowLimit", Int.MaxValue.toString)
    // Timestamp dump encoding is Spark's INT96 default — a DRIVER
    // CONTRACT, not a preference. r18 switched these sessions to
    // TIMESTAMP_MICROS to fix a probe-only pyarrow INT96->ns wrap on
    // 9999-12-31 instants, and the driver's comparator immediately
    // failed schema+hash on the four queries whose final schemas
    // carry raw TIMESTAMP columns (q27/q46/q69/q107) after eleven
    // green INT96 rounds (CORRECTNESS_r7-r17 vs r18). The wrap only
    // ever appears in builder-side probes, which read dumps with
    // int96 coercion (tools/local_verify.py). Do not change this
    // encoding again without a driver-gated migration to epoch-us
    // BIGINT outputs (SURVEY S5 item 7).
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  /** Runs `body` on a child of `s` (same context and extensions) with
    * `s`'s current conf plus `conf`. Nothing is set on `s`, and a frame
    * `body` returns keeps the child's conf when it executes later. A
    * listener on `s` does not see the child's executions. Tables the
    * child loaded leave the memo when `body` returns.
    */
  def scoped[A](s: SparkSession, conf: (String, String)*)(
      body: SparkSession => A): A = {
    val child = s.newSession()
    // newSession() starts from the context's conf, not the caller's
    s.conf.getAll.foreach { case (k, v) =>
      if (!child.conf.getOption(k).contains(v)) child.conf.set(k, v)
    }
    conf.foreach { case (k, v) => child.conf.set(k, v) }
    try body(child) finally Tables.forget(child)
  }

  private val viewSeq = new AtomicLong

  /** `s.sql(text)` with each `{name}` bound to a frame (PySpark's
    * `spark.sql("… {df}", df=…)`) through a uniquely named global temp
    * view, so a frame of another session binds too. The text is
    * analyzed eagerly; the views are dropped before this returns.
    */
  def sql(s: SparkSession, text: String, views: (String, DataFrame)*): DataFrame = {
    val db = s.conf.get("spark.sql.globalTempDatabase")
    val bound = views.map { case (name, df) =>
      require(text.contains(s"{$name}"), s"no {$name} in the SQL text")
      (name, df, s"graft_${name}_${viewSeq.incrementAndGet()}")
    }
    try {
      bound.foreach { case (_, df, view) => df.createGlobalTempView(view) }
      s.sql(bound.foldLeft(text) { case (t, (name, _, view)) =>
        t.replace(s"{$name}", s"$db.$view")
      })
    } finally bound.foreach { case (_, _, view) => s.catalog.dropGlobalTempView(view) }
  }
}
