package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for specs — one per suite (lazy). */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
  val sf0001 = "/root/testdata/sf0.001"
}

object SparkSpec {
  /** The engine's session profile at 4 cores, with a temporary
    * warehouse dir that keeps bucketed tables out of the checkout. */
  lazy val session: SparkSession = {
    val wh = java.nio.file.Files.createTempDirectory("graft-wh").toString
    val s = Session.builder(4)
      .config("spark.sql.warehouse.dir", wh)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}
