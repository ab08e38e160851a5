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
