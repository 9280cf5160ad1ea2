package graft

import org.scalatest.funsuite.AnyFunSuite

/** The shared timed run of Bench and SoloBands: a query that fails is
  * returned as its error, never timed as a fast run.
  */
class BenchSpec extends AnyFunSuite {
  private lazy val spark = LocalSpark.spark

  test("a timed run of a throwing query returns the error, not a time") {
    val boom = new IllegalStateException("planted")
    assert(Bench.timedRun(throw boom) == Left(boom))
  }

  test("a timed run of a trivial query returns a non-negative time") {
    val r = Bench.timedRun(spark.range(10).toDF())
    assert(r.exists(_ >= 0.0), s"expected a time, got $r")
  }
}
