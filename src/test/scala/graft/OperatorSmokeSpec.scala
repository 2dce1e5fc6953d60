package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{DashboardOps, MultimodalOps}

/** Cross-cutting sanity over the query registry + targeted operator
  * checks that the oracle can't see (plan shape, bucket edges). */
class OperatorSmokeSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  test("entry returns rows (driver t1 smoke)") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every query has an oracle (or is declared oracle-free) and vice versa") {
    val q = SparkEntry.queries.keySet
    val o = SparkEntry.oracleSql.keySet
    assert((o -- q).isEmpty, s"oracles without queries: ${o -- q}")
    assert((q -- o -- SparkEntry.oracleFreeQueries).isEmpty,
      s"queries without oracles: ${q -- o -- SparkEntry.oracleFreeQueries}")
    assert((SparkEntry.oracleFreeQueries -- q).isEmpty, "stale oracle-free entries")
  }

  test("all queries execute and are non-degenerate on sf0.001") {
    val allowedEmpty = Set("q_high_risk", "q_minhash_bands") // legitimately empty on synthetic corpus
    SparkEntry.queries.foreach { case (name, fn) =>
      val n = fn(spark, SparkTestSession.sf0001).count()
      assert(n >= 0, name)
      if (!allowedEmpty(name)) assert(n > 0, s"$name returned 0 rows")
    }
  }

  test("risk histogram bucket edges are left-closed [0,10)[10,20)[20,30)[30,∞)") {
    val df = Seq(0, 9, 10, 19, 20, 29, 30, 100).toDF("risk_score")
    val got = df.select(DashboardOps.riskBucket(df("risk_score")).as("b"))
      .collect().map(_.getString(0)).toSeq
    assert(got === Seq("0-9", "0-9", "10-19", "10-19", "20-29", "20-29", "30+", "30+"))
  }

  test("round_cents rounds the binary double half away from zero, as DuckDB does") {
    import org.apache.spark.sql.functions.{col, round}
    graft.functions.GraftFunctions.register(spark)
    // 305.275 is binary 305.27499999…: Spark's round(x, 2) reads the
    // decimal string and gives 305.28; DuckDB and round_cents give 305.27
    val df = Seq(305275.0 / 1000, 0.125, -0.125, 2.5, 7.0).toDF("x")
    val got = df.select(graft.functions.GraftFunctions.roundCents(col("x")))
      .as[Double].collect().toSeq
    assert(got === Seq(305.27, 0.13, -0.13, 2.5, 7.0))
    assert(df.select(round(col("x"), 2)).as[Double].head() === 305.28)
    // the dashboard shape: a mean of 1000 integers summing to 305275
    val avgChars = "avg(CASE WHEN id < 275 THEN 306 ELSE 305 END)"
    assert(spark.sql(s"SELECT round_cents($avgChars), round($avgChars, 2) FROM range(1000)")
      .as[(Double, Double)].head() === ((305.27, 305.28)))
  }

  test("multimodal feature stub: byte stats of a known payload") {
    val feats = MultimodalOps.features(spark, SparkTestSession.sf0001)
      .filter("doc_id = 0").head()
    val text = spark.read.parquet(s"${SparkTestSession.sf0001}/documents.parquet")
      .filter("doc_id = 0").head().getAs[String]("text")
    val bytes = text.getBytes("UTF-8").map(_ & 0xff)
    assert(feats.getAs[Long]("n_bytes") === bytes.length.toLong)
    assert(feats.getAs[Int]("max_byte") === bytes.max)
    assert(feats.getAs[Int]("min_byte") === bytes.min)
    assert(math.abs(feats.getAs[Double]("mean_byte") - bytes.sum.toDouble / bytes.length) < 1e-5)
  }

  test("byte_stats expression path is bit-identical to the batched-iterator path") {
    val viaExpr = MultimodalOps.extractFeatures(spark, SparkTestSession.sf0001)
      .collect().sortBy(_.doc_id).toSeq
    val viaBatch = MultimodalOps.extractFeaturesBatched(spark, SparkTestSession.sf0001)
      .collect().sortBy(_.doc_id).toSeq
    assert(viaExpr.nonEmpty)
    assert(viaExpr === viaBatch)
  }
}
