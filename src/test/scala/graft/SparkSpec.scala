package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared session for all suites (one JVM, one SparkSession). */
object SparkSpec {
  lazy val spark: SparkSession = GraftSession.local(4)
}

trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.spark
  def sf0: String = "/root/testdata/sf0.001"

  def tmpDir(name: String): String = {
    val d = new java.io.File(new java.io.File("target", "testtmp"), name)
    d.mkdirs()
    d.getAbsolutePath
  }
}
