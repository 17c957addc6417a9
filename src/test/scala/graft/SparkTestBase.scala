package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (one JVM, one session). */
trait SparkTestBase extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestBase.session

  /** Evaluate Column expressions over a one-row frame. */
  def sel(cols: org.apache.spark.sql.Column*): org.apache.spark.sql.Row =
    spark.range(1).select(cols: _*).head()

  def df(rows: Seq[(String, String)]): DataFrame = {
    import spark.implicits._
    rows.toDF("k", "v")
  }
}

object SparkTestBase {
  lazy val session: SparkSession = {
    val s = GraftSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}
