package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.expr.RiskScore
import graft.functions.{GraftFunctions, TextFunctions}

/** The custom Catalyst RiskScore expression must agree with the
  * Column-algebra formulation everywhere — interpreted eval, codegen'd
  * plans, and SQL registration. */
class RiskScoreExprSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  test("interpreted eval matches expected scores") {
    def evalOn(s: Any): Any = RiskScore(Literal(s)).eval(null)
    assert(evalOn("i feel depressed and anxious") === 20)
    assert(evalOn("fine") === 0)
    assert(evalOn(null) === 0)
    assert(evalOn("suicide hopeless worthless depressed anxious panic overwhelmed lonely isolated scared die") === 100)
  }

  test("expression (codegen path) hash-matches Column algebra on the corpus") {
    GraftFunctions.register(spark)
    val docs = spark.read.parquet(s"${SparkTestSession.sf0001}/documents.parquet")
    val viaExpr = docs.select(col("doc_id"),
      call_function("risk_score", col("text")).as("r"))
    val viaCols = docs.select(col("doc_id"),
      TextFunctions.riskScore(col("text")).as("r"))
    assert(viaExpr.exceptAll(viaCols).isEmpty && viaCols.exceptAll(viaExpr).isEmpty)
  }

  test("registered function is callable from SQL") {
    GraftFunctions.register(spark)
    val r = spark.sql("SELECT risk_score('i am depressed') AS r").head().getInt(0)
    assert(r === 10)
  }

  test("sql extension class injects the function at session build time") {
    // create(), not getOrCreate(): the latter hands back the running test
    // session, which never sees the extension. No register call either,
    // so only the extension can make risk_score resolve.
    val base = spark
    val s2 = SparkSession.builder()
      .withExtensions(new graft.functions.GraftExtensions)
      .create()
    // create() makes the new session the default and active one
    SparkSession.setDefaultSession(base)
    SparkSession.setActiveSession(base)
    assert(s2 ne base)
    assert(s2.sql("SELECT risk_score('panic and panic') AS r").head().getInt(0) === 10)
  }
}
