package graft

/** Dev smoke runner: replicates the driver's t1 check (entry rows>0)
  * and prints a sample. `sbt "runMain graft.Smoke"`.
  */
object Smoke {
  def main(args: Array[String]): Unit = {
    val spark = Session.local(4)
    spark.sparkContext.setLogLevel("ERROR")
    val df = SparkEntry.entry(spark)
    println("ENTRY_ROWS=" + df.count())
    df.orderBy("chain_no", "sale_dy").show(5, truncate = false)
    spark.stop()
  }
}
