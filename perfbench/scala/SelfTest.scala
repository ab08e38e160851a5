package perfbench

/** Self-tests of the benchmark's JVM-side pieces: call-site to layer
  * attribution, conf-leak detection and the POS model. Run with
  * `python3 perfbench/run.py --selftest`. */
object SelfTest {
  private var failed = 0
  private def check(what: String, ok: Boolean): Unit = {
    if (!ok) failed += 1
    println(s"${if (ok) "ok  " else "FAIL"} $what")
  }

  def run(): Int = {
    val frame = (cls: String) => s"$cls(X.scala:1)"
    def site(frames: String*): String =
      ("org.apache.spark.sql.Dataset.collect(Dataset.scala:1)" +: frames).mkString("\n")

    check("pipeline frame wins over the harness below it",
      Attribution.layer(site(frame("graft.pipeline.NightlyRun$.commitSlice"),
        frame("graft.pipeline.NightlyRun$.run"), frame("perfbench.Harness.tick"))) == "pipeline")
    check("graft.ops helpers are charged to their caller",
      Attribution.layer(site(frame("graft.ops.RelationalOps$.upsertLatestWins"),
        frame("graft.queries.RefQueries$.$anonfun$queries$12"),
        frame("perfbench.Harness.suiteOp"))) == "queries")
    check("SparkEntry counts as the queries layer",
      Attribution.layer(site(frame("graft.SparkEntry$.entry"))) == "queries")
    check("sources and plans frames map to their layers",
      Attribution.layer(site(frame("graft.sources.JdbcUpsert$.upsert"))) == "sources" &&
        Attribution.layer(site(frame("graft.plans.LatestWinsRule$.apply"))) == "plans")
    check("the harness's own action is engine execution",
      Attribution.layer(site(frame("perfbench.Harness.suiteOp"))) == "engine")
    check("a job with no module frame is engine execution",
      Attribution.layer(site(frame("java.lang.Thread.run"))) == "engine" &&
        Attribution.layer(null) == "engine" && Attribution.layer("") == "engine")

    val base = Map("spark.sql.shuffle.partitions" -> "4", "spark.app.name" -> "x")
    check("identical confs do not leak", ConfDiff(base, base).isEmpty)
    check("a changed value is a leak",
      ConfDiff(base, base.updated("spark.sql.shuffle.partitions", "16")) ==
        Seq("spark.sql.shuffle.partitions"))
    check("an added and a removed key are leaks",
      ConfDiff(base, base - "spark.app.name" + ("spark.sql.cteRecursionRowLimit" -> "5")) ==
        Seq("spark.app.name", "spark.sql.cteRecursionRowLimit"))

    val d = PosModel.date(5)
    check("the POS model is a pure function",
      PosModel.envelope(7, 11, d, 6) == PosModel.envelope(7, 11, d, 6))
    check("a re-send on the next night is revised by 100",
      PosModel.k(7, 11, d, 6) - PosModel.k(7, 11, d, 5) == 100)
    check("the seed changes the figures",
      (0L until 50L).exists(s => PosModel.k(1, s, d, 5) != PosModel.k(2, s, d, 5)))
    val errs = (0L until 10000L).count(s => PosModel.isError(3, s))
    check(s"about 2% of stores answer with errors ($errs of 10000)", errs > 120 && errs < 300)
    check("the model matches check.py's reference values",
      PosModel.mix(1L, 2L, 3L) == -3426316478316322125L &&
        PosModel.base(42, 17, 19905) == 311)

    println(if (failed == 0) "selftest jvm: all passed" else s"selftest jvm: $failed failed")
    if (failed == 0) 0 else 1
  }
}
