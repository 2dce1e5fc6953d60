package graft

import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession.jobsOf
import graft.model.SharedFrames

/** The session-artifact registry's contract: one build per
  * (app, dir, name), hits free of Spark jobs, and the partitioned build
  * leaving the session's AQE setting as it found it. Each test keys on
  * its own dir, so the suites sharing the session cannot see its entries.
  */
class SharedFramesSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  test("a second frame call on a key launches no job and returns the same frame") {
    val dir = "SharedFramesSpec/frame"
    def ids = spark.range(1000).toDF("id")
    var first, second: DataFrame = null
    assert(jobsOf { first = SharedFrames.frame(spark, dir, "ids")(ids) } > 0,
      "the first call materializes the checkpoint")
    assert(jobsOf { second = SharedFrames.frame(spark, dir, "ids")(ids) } === 0)
    assert(second eq first)
    assert(second.count() === 1000)
  }

  test("value evaluates its build exactly once per key") {
    val dir = "SharedFramesSpec/value"
    var builds = 0
    def build(v: Long): Long = { builds += 1; v }
    assert(SharedFrames.value(spark, dir, "n")(build(42L)) === 42L)
    assert(SharedFrames.value(spark, dir, "n")(build(7L)) === 42L)
    assert(builds === 1)
    // another dir is another key
    assert(SharedFrames.value(spark, s"$dir/other", "n")(build(7L)) === 7L)
    assert(builds === 2)
  }

  test("partitionedFrame restores the AQE setting when its build throws") {
    val aqe = "spark.sql.adaptive.enabled"
    val saved = spark.conf.get(aqe)
    try for (prior <- Seq("true", "false")) {
      val dir = s"SharedFramesSpec/partitioned-$prior"
      spark.conf.set(aqe, prior)
      var during = ""
      intercept[IllegalStateException] {
        SharedFrames.partitionedFrame(spark, dir, "f") {
          during = spark.conf.get(aqe)
          throw new IllegalStateException("build failed")
        }
      }
      assert(during === "false", "the build runs with AQE off")
      assert(spark.conf.get(aqe) === prior)
      // a failed build is not memoized: the next call builds
      val df = SharedFrames.partitionedFrame(spark, dir, "f")(spark.range(3).toDF("id"))
      assert(df.count() === 3)
      assert(spark.conf.get(aqe) === prior)
    } finally spark.conf.set(aqe, saved)
  }
}
