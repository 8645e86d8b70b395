package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared session fixture: one session per test JVM, built by the same
  * [[Session]] profile that Verify and Bench run.
  */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
}

object SparkSpec {
  lazy val session: SparkSession =
    Tables.tune(Session.local("graft-test"))
}
