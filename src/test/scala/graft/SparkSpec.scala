package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for operator suites. One session per JVM
  * (`getOrCreate` + no stop in afterAll) — suites run sequentially in the
  * forked test JVM and session re-creation per suite costs ~4s each.
  */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession =
    GraftSession.builder("4").appName("graft-test").getOrCreate()

  override protected def afterAll(): Unit = {
    // keep the session for the next suite in this JVM
    super.afterAll()
  }
}
