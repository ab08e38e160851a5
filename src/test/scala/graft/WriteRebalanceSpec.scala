package graft

import org.apache.spark.sql.functions._

/** r22 (VERDICT r21 finding 4): the partitioned mart writes in q41 and
  * entry() moved from `repartition(partitionCol)` — one task per
  * distinct month, so a hot month melts one task — to
  * LayoutOps.partitionedOverwrite: REBALANCE with AQE's stats-driven
  * skew SPLIT active and partition COALESCING disabled for the write.
  * This spec pins both halves of that contract through the shared
  * helper itself: small partitions keep exactly one file per dir (the
  * r21 small-files layout, and the write stays parallel on a small
  * table), while a partition larger than the advisory size splits
  * into several bounded files in its dir.
  */
class WriteRebalanceSpec extends SparkSpec {

  private def filesPerDir(root: java.io.File): Map[String, Int] =
    root.listFiles().filter(f => f.isDirectory && f.getName.contains("="))
      .map(d => d.getName ->
        d.listFiles().count(f => f.getName.endsWith(".parquet"))).toMap

  test("partitionedOverwrite: small partitions keep one file per dir") {
    val dir = java.nio.file.Files.createTempDirectory("graft_rebal_small").toFile
    try {
      val df = spark.range(600).select(
        (col("id") % 6).cast("string").as("m"), col("id").as("v"))
      graft.ops.LayoutOps.partitionedOverwrite(df, "m", dir.getAbsolutePath)
      val counts = filesPerDir(dir)
      assert(counts.size === 6)
      assert(counts.values.forall(_ == 1),
        s"small months must keep one file per dir, saw $counts")
    } finally graft.ops.FsOps.rmTree(dir)
  }

  test("partitionedOverwrite: a hot partition splits into bounded files") {
    val dir = java.nio.file.Files.createTempDirectory("graft_rebal_hot").toFile
    try {
      // force the skew machinery visible at test scale: advisory 64KB
      // against a ~1MB hot month next to two tiny ones; 16 shuffle
      // partitions so the cold months get their own hash buckets (a
      // cold month SHARING a skewed bucket is legitimately split by
      // map-output ranges — not what this test pins)
      Session.scoped(spark,
          "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "65536",
          "spark.sql.shuffle.partitions" -> "16") { c =>
        val df = c.range(200000).select(
          when(col("id") % 100 === 0,
            concat(lit("cold"), (expr("id div 100") % 2).cast("string")))
            .otherwise(lit("hot")).as("m"),
          concat(lit("payload_"), col("id")).as("v"))
        graft.ops.LayoutOps.partitionedOverwrite(df, "m", dir.getAbsolutePath)
        val counts = filesPerDir(dir)
        assert(counts("m=hot") >= 2,
          s"hot month must split across tasks under rebalance, saw $counts")
        assert(counts("m=cold0") === 1 && counts("m=cold1") === 1,
          s"cold months must stay one file each, saw $counts")
        // and the write is lossless
        val back = c.read.parquet(dir.getAbsolutePath)
        assert(back.count() === 200000)
        // the write's no-coalescing scope must not reach its caller
        assert(c.conf.get("spark.sql.adaptive.coalescePartitions.enabled",
          "true") === "true")
      }
    } finally graft.ops.FsOps.rmTree(dir)
  }
}
