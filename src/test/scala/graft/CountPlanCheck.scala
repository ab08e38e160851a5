package graft

/** r21 dev check (guide §1.4): what does the bench's `.count()` timed
  * action actually execute per query shape? Finding, committed in
  * OPTIMIZATION_r21.md: for the pure-projection family the count
  * plan's scan reads `struct<>` — a parquet metadata count — while
  * every aggregation/join/window/write query materializes its full
  * computation. The timed action is retained for cross-round
  * comparability; this harness is the evidence for the disclosure.
  *
  * Usage: Test/runMain graft.CountPlanCheck [queryName...]
  */
object CountPlanCheck {
  def main(args: Array[String]): Unit = {
    val spark = Session.local(4)
    spark.sparkContext.setLogLevel("ERROR")
    val d = "/root/testdata/sf0.01"
    val names =
      if (args.nonEmpty) args.toSeq
      else Seq("q01_scan_project", "q17_store_day_agg")
    names.foreach { n =>
      val f = SparkEntry.queries(n)(spark, d)
      // the plan count() actually executes:
      val cnt = f.groupBy().count()
      println(s"== $n")
      println(cnt.queryExecution.executedPlan.toString.split("\n")
        .filter(l => l.contains("ReadSchema") || l.contains("Scan "))
        .mkString("\n"))
    }
    spark.stop()
  }
}
