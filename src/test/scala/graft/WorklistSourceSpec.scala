package graft

import org.apache.spark.sql.functions._

/** Unit coverage for the DataSource V2 work-unit generator
  * (graft.sources.WorklistSource): completeness and distinctness of
  * store×date units across uneven partition splits, and the partition
  * count actually honoring the option.
  */
class WorklistSourceSpec extends SparkSpec {
  import spark.implicits._

  private def load(stores: Int, lo: String, hi: String, parts: Int) =
    spark.read.format("graft.sources.WorklistSource")
      .option("stores", stores.toString)
      .option("lo", lo).option("hi", hi)
      .option("numPartitions", parts.toString)
      .load()

  test("generates exactly stores × days distinct units") {
    val df = load(7, "2024-01-01", "2024-01-05", 3) // 7 stores, uneven split
    assert(df.count() === 7L * 5L)
    assert(df.distinct().count() === 7L * 5L)
    val ids = df.select("store_id").distinct().as[Long].collect().sorted
    assert(ids === (0L until 7L).toArray)
    val days = df.select(col("d").cast("string")).distinct().as[String].collect().sorted
    assert(days.head === "2024-01-01" && days.last === "2024-01-05")
  }

  test("partition count honors numPartitions, capped by stores") {
    assert(load(100, "2024-01-01", "2024-01-02", 8).rdd.getNumPartitions === 8)
    assert(load(3, "2024-01-01", "2024-01-02", 8).rdd.getNumPartitions === 3)
  }

  test("filter pushdown narrows generation: fewer partitions, same answer") {
    val base = load(1000, "2024-01-01", "2024-01-10", 8)
    val filtered = base.filter(col("store_id") < 4)
    // the pushed store range shrinks the partition plan itself
    assert(filtered.rdd.getNumPartitions === 4)
    assert(filtered.count() === 4L * 10L)
    // date pushdown narrows too, and residual re-application keeps
    // results exact for any predicate mix
    val dated = base.filter(col("d") === to_date(lit("2024-01-03"))
      && col("store_id") >= 998)
    assert(dated.count() === 2L)
    assert(dated.rdd.getNumPartitions === 2)
  }

  test("single-day window and single store still produce their unit") {
    val df = load(1, "2024-06-15", "2024-06-15", 4)
    assert(df.as[(Long, java.sql.Date)].collect().toSeq ===
      Seq((0L, java.sql.Date.valueOf("2024-06-15"))))
  }

  test("ingest seam: worklist → transport fetch → decodeEnvelope end to end") {
    import graft.ops.RelationalOps
    import graft.sources.{IngestFetch, StubTransport}
    import org.apache.spark.sql.types.{ArrayType, LongType, StringType, StructType}
    // 120 stores × 2 days through the full reference ingest chain with
    // the stub transport standing in for requests.post
    val worklist = load(120, "2024-03-01", "2024-03-02", 5)
    val raw = IngestFetch.fetchEnvelopesWithCoords(worklist, new StubTransport)
    assert(raw.count() === 240L, "one envelope per work unit")
    val schema = new StructType()
      .add("ret_code", StringType)
      .add("data", ArrayType(new StructType()
        .add("id", LongType).add("k", LongType)))
    val decoded = RelationalOps.decodeEnvelope(raw, "payload", schema)
    // stores 0, 50, 100 answer ret_code=9999 → both their days gated out
    assert(decoded.count() === (120L - 3L) * 2L)
    // typed payload round-trips the coordinates the stub encoded
    val day = java.time.LocalDate.parse("2024-03-01").toEpochDay
    val row = decoded.filter(col("id") === 7L * 100000L + day)
      .as[(Long, Long)].collect().toSeq
    assert(row === Seq((7L * 100000L + day, day % 7)))
  }
  test("missing lo/hi options fail with a named error, not an NPE") {
    val e = intercept[Exception] {
      spark.read.format("graft.sources.WorklistSource")
        .option("stores", "3").load().count()
    }
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ msgs(x.getCause))
    assert(msgs(e).exists(_.contains("'lo' and 'hi'")), msgs(e).mkString(" | "))
  }
}
