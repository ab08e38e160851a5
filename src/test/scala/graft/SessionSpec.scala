package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** Pins the session contract `Session.local` builds (the shared test
  * session is one), and that no other source file builds its own. */
class SessionSpec extends SparkSpec {

  test("Session.local: UTC, graft extensions, nanosAsLong, cores = shuffle partitions") {
    assert(spark.conf.get("spark.sql.session.timeZone") === "UTC")
    assert(spark.sparkContext.master === "local[2]")
    assert(spark.conf.get("spark.sql.shuffle.partitions") === "2")
    assert(spark.conf.get("spark.sql.legacy.parquet.nanosAsLong") === "true")
    // resolvable only when GraftExtensions is installed
    val cos = spark.sql("SELECT graft_cosine(array(3d, 4d), array(3d, 4d))")
      .head().getDouble(0)
    assert(math.abs(cos - 1.0) < 1e-12)
  }

  test("Session.local keeps Spark's INT96 timestamp dump encoding (no override)") {
    val key = "spark.sql.parquet.outputTimestampType"
    assert(!spark.conf.getAll.contains(key))
    assert(spark.conf.get(key) === "INT96")
  }

  test("Session.local lifts the recursive-CTE row guard") {
    assert(spark.conf.get("spark.sql.cteRecursionRowLimit") === Int.MaxValue.toString)
  }

  test("Session.scoped: the child inherits conf and extensions; the caller's conf, views and memo are untouched") {
    val sf = "/root/testdata/sf0.001"
    val nation = Tables.nation(spark, sf)
    val memo = () => Tables.frames.asScala.toMap
    val before = (ConcurrencySpec.state(spark), memo())
    val child = Session.scoped(spark, "spark.sql.shuffle.partitions" -> "7") { c =>
      assert(c ne spark)
      assert(c.conf.get("spark.sql.session.timeZone") === "UTC")
      assert(c.conf.get("spark.sql.legacy.parquet.nanosAsLong") === "true")
      assert(c.conf.get("spark.sql.shuffle.partitions") === "7")
      val cos = c.sql("SELECT graft_cosine(array(3d, 4d), array(3d, 4d))").head().getDouble(0)
      assert(math.abs(cos - 1.0) < 1e-12)
      // a nested scope starts from its caller's conf, not the context's
      Session.scoped(c, "spark.sql.caseSensitive" -> "true") { g =>
        assert(g.conf.get("spark.sql.shuffle.partitions") === "7")
        assert(g.conf.get("spark.sql.caseSensitive") === "true")
      }
      assert(Tables.nation(c, sf).count() === nation.count())
      assert(memo().keySet.exists(_._1 eq c))
      c
    }
    assert((ConcurrencySpec.state(spark), memo()) === before)
    assert(!memo().keySet.exists(_._1 eq child), "a closed scope must leave the Tables memo")
    assert(spark.conf.get("spark.sql.shuffle.partitions") === "2")
  }

  test("Session.sql: each {name} binds a frame, no view outlives the call, and the frame still runs") {
    val nation = Tables.nation(spark, "/root/testdata/sf0.001")
    val before = ConcurrencySpec.state(spark)
    val df = Session.sql(spark,
      "SELECT n_regionkey, count(*) AS n FROM {nation} GROUP BY n_regionkey",
      "nation" -> nation)
    assert(ConcurrencySpec.state(spark) === before)
    assert(df.sparkSession eq spark)
    assert(df.collect().map(_.getLong(1)).sum === nation.count())
    df.write.format("noop").mode("overwrite").save()
    // a frame of another session binds too (LayoutOps' scoped write)
    val n = Session.scoped(spark) { c =>
      Session.sql(c, "SELECT count(*) FROM {nation}", "nation" -> nation).head().getLong(0)
    }
    assert(n === nation.count())
    intercept[IllegalArgumentException](Session.sql(spark, "SELECT 1", "nation" -> nation))
    assert(ConcurrencySpec.state(spark) === before)
  }

  test("no file under src/ but Session.scala builds a SparkSession") {
    val needle = "SparkSession" + ".builder"
    val offenders = Files.walk(Paths.get("src")).iterator().asScala
      .filter(p => Files.isRegularFile(p) && p.toString.endsWith(".scala"))
      .filterNot(_.getFileName.toString == "Session.scala")
      .filter(p => Files.readString(p).contains(needle))
      .map(_.toString).toList
    assert(offenders.isEmpty, s"build sessions through Session.local: $offenders")
  }
}
