package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites: the Verify/Bench session
  * contract (`Session.local`) at small parallelism for test speed.
  */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session

  override def afterAll(): Unit = super.afterAll() // session shared across suites
}

object SparkSpec {
  lazy val session: SparkSession = {
    val s = Session.local(2)
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}
