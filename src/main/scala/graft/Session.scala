package graft

import org.apache.spark.sql.SparkSession

/** The one local SparkSession every main and test builds. The core
  * count is the only parameter; shuffle partitions follow it. Every
  * other setting is part of the output contract:
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
    .config("spark.sql.warehouse.dir",
      System.getProperty("java.io.tmpdir") + "/graft_warehouse")
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
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
}
