package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Shared local SparkSession for all specs (one per JVM — sbt forks a
  * single test JVM, so suites reuse the session via getOrCreate). */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session
  import org.apache.spark.sql.Row

  /** Collect to a Set of row value-lists for order-insensitive compare. */
  def rows(df: DataFrame): Set[Seq[Any]] =
    df.collect().map(_.toSeq).toSet

  def approx(a: Double, b: Double, eps: Double = 1e-9): Boolean =
    math.abs(a - b) <= eps * math.max(1.0, math.max(math.abs(a), math.abs(b)))

  def firstDouble(df: DataFrame): Double =
    df.collect().head.getDouble(0)
}

object SparkSpec {
  lazy val session: SparkSession = Sessions.querySuite(4, "ERROR")
}
