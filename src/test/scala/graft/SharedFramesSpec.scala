package graft

import java.util.concurrent.{Callable, CountDownLatch, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession.jobsOf
import graft.model.SharedFrames

/** The session-artifact registry's contract: one build per
  * (app, dir, name), even under concurrent misses; hits free of Spark
  * jobs that hand back the stored checkpoint plan; and the partitioned
  * build never writing the caller's conf. Each test keys on its own dir,
  * so the suites sharing the session cannot see its entries.
  */
class SharedFramesSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  test("a second frame call on a key: same checkpoint plan, no job") {
    val dir = "SharedFramesSpec/frame"
    def ids = spark.range(1000).toDF("id")
    var first, second: DataFrame = null
    assert(jobsOf { first = SharedFrames.frame(spark, dir, "ids")(ids) } > 0,
      "the first call materializes the checkpoint")
    assert(jobsOf { second = SharedFrames.frame(spark, dir, "ids")(ids) } === 0)
    assert(second.queryExecution.analyzed eq first.queryExecution.analyzed)
    assert(second.sparkSession eq spark)
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
    // a build may use other keys
    assert(SharedFrames.value(spark, dir, "outer")(
      SharedFrames.value(spark, dir, "inner")(build(1L)) + 1) === 2L)
  }

  test("concurrent misses on one key run its build once") {
    val dir = "SharedFramesSpec/single-flight"
    val builds = new AtomicInteger
    val release = new CountDownLatch(1)
    def build(): Long = {
      builds.incrementAndGet()
      release.await(10, TimeUnit.SECONDS)
      42L
    }
    val s = spark // start the session first: its lazy init would serialize the threads
    val pool = Executors.newFixedThreadPool(2)
    try {
      val call = new Callable[Long] {
        def call(): Long = SharedFrames.value(s, dir, "n")(build())
      }
      val calls = Seq.fill(2)(pool.submit(call))
      // hold the first build open long enough for a second one to start
      val deadline = System.nanoTime() + TimeUnit.SECONDS.toNanos(2)
      while (builds.get < 2 && System.nanoTime() < deadline) Thread.sleep(10)
      release.countDown()
      assert(calls.map(_.get(30, TimeUnit.SECONDS)) === Seq(42L, 42L))
      assert(builds.get === 1)
    } finally pool.shutdownNow()
  }

  test("partitionedFrame never writes the caller's conf, during or after the build") {
    val aqe = "spark.sql.adaptive.enabled"
    for (prior <- Seq("true", "false")) {
      val dir = s"SharedFramesSpec/partitioned-$prior"
      val caller = spark.newSession()
      caller.conf.set(aqe, prior)
      val before = caller.conf.getAll
      var during = ""
      intercept[IllegalStateException] {
        SharedFrames.partitionedFrame(caller, dir, "f") { s =>
          during = s.conf.get(aqe)
          assert(caller.conf.getAll === before)
          throw new IllegalStateException("build failed")
        }
      }
      assert(during === "false", "the build runs with AQE off")
      assert(caller.conf.getAll === before)
      // a failed build is not memoized: the next call builds
      val df = SharedFrames.partitionedFrame(caller, dir, "f")(_.range(3).toDF("id"))
      assert(df.count() === 3)
      assert(caller.conf.getAll === before)
    }
  }
}
