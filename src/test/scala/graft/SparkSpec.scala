package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for suites that need one. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = Session.start("local[2]", 2)

  override def afterAll(): Unit = {
    // shared across suites in one JVM; don't stop between suites
    super.afterAll()
  }
}
