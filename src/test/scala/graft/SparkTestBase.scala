package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local[4] session for all suites (one JVM, Test/fork=true). */
trait SparkTestBase extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestBase.session
}

object SparkTestBase {
  lazy val session: SparkSession = {
    val s = Session.local(4)
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}
