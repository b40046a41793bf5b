package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all specs — one JVM-wide session keeps the
  * suite fast. Built through `EngineConf.common`, so specs run the same
  * engine conf as Verify and Bench; `shuffle.partitions=5` (not 1) so
  * partition-related bugs (order dependence, missing tiebreaks) surface
  * even on tiny data.
  */
object SparkSpec {
  lazy val spark: SparkSession = {
    val s = EngineConf.common(SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", 5))
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.spark

  def approx(a: Double, b: Double, tol: Double = 1e-9): Boolean =
    math.abs(a - b) <= tol * math.max(1.0, math.max(math.abs(a), math.abs(b)))
}
