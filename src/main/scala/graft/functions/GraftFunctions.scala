package graft.functions

import org.apache.spark.sql.{Column, SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Divide, Expression, ExpressionInfo, Literal, Multiply, Round}
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types.IntegerType

import graft.expr.{ByteStats, ChunkSplit, CountMinAgg, DotProduct, Fingerprint, FreqItemsAgg, IntersectSize, IntersectSizeSorted, NGramPos, RiskScore, TopKValuesAgg}

/** Registration of graft's native expressions into the Catalyst function
  * registry, both per-session (for externally built sessions like the
  * driver's) and via SparkSessionExtensions (for sessions we build).
  */
object GraftFunctions {

  private[functions] val riskScoreBuilder: Seq[Expression] => Expression = { exprs =>
    require(exprs.length == 1, "risk_score expects exactly one argument")
    RiskScore(exprs.head)
  }

  private[functions] val topKBuilder: Seq[Expression] => Expression = { exprs =>
    val k = exprs(1) match {
      case Literal(v: Int, IntegerType) => v
      case other => throw new IllegalArgumentException(
        s"top_k_values k must be an integer literal, got $other")
    }
    TopKValuesAgg(exprs.head, k)
  }

  private[functions] val dotProductBuilder: Seq[Expression] => Expression = { exprs =>
    require(exprs.length == 2, "dot_product expects exactly two arguments")
    DotProduct(exprs.head, exprs(1))
  }

  private[functions] val freqItemsBuilder: Seq[Expression] => Expression = { exprs =>
    require(exprs.length == 2, "freq_items expects exactly two arguments")
    val k = exprs(1) match {
      case Literal(v: Int, IntegerType) => v
      case other => throw new IllegalArgumentException(
        s"freq_items k must be an integer literal, got $other")
    }
    FreqItemsAgg(exprs.head, k)
  }

  private[functions] val cmsBuilder: Seq[Expression] => Expression = { exprs =>
    require(exprs.length == 2, "cms_counts expects (value, array(probe_terms))")
    require(exprs(1).foldable, "cms_counts probe list must be a literal array")
    val probes = exprs(1).eval() match {
      case arr: org.apache.spark.sql.catalyst.util.ArrayData =>
        arr.toObjectArray(org.apache.spark.sql.types.StringType)
          .map(_.asInstanceOf[org.apache.spark.unsafe.types.UTF8String].toString)
          .toSeq
      case other => throw new IllegalArgumentException(
        s"cms_counts probe list must be an array of strings, got $other")
    }
    CountMinAgg(exprs.head, probes)
  }

  private[functions] val intersectSizeBuilder: Seq[Expression] => Expression = { exprs =>
    require(exprs.length == 2, "intersect_size expects exactly two arguments")
    IntersectSize(exprs.head, exprs(1))
  }

  private[functions] val fingerprintBuilder: Seq[Expression] => Expression = { exprs =>
    require(exprs.length == 1, "fingerprint expects exactly one argument")
    Fingerprint(exprs.head)
  }

  private[functions] val intersectSortedBuilder: Seq[Expression] => Expression = { exprs =>
    require(exprs.length == 2, "intersect_size_sorted expects exactly two arguments")
    IntersectSizeSorted(exprs.head, exprs(1))
  }

  private[functions] val chunkSplitBuilder: Seq[Expression] => Expression = { exprs =>
    require(exprs.length == 1, "chunk_split expects exactly one argument")
    ChunkSplit(exprs.head)
  }

  private[functions] val byteStatsBuilder: Seq[Expression] => Expression = { exprs =>
    require(exprs.length == 1, "byte_stats expects exactly one argument")
    ByteStats(exprs.head)
  }

  private[functions] val ngramPosBuilder: Seq[Expression] => Expression = { exprs =>
    require(exprs.length == 2, "ngram_pos expects (tokens, n)")
    val n = exprs(1) match {
      case Literal(v: Int, IntegerType) => v
      case other => throw new IllegalArgumentException(
        s"ngram_pos n must be an integer literal, got $other")
    }
    NGramPos(exprs.head, n)
  }

  // Spark ships BloomFilterAggregate/BloomFilterMightContain for its
  // runtime-filter rewrite but keeps them off the SQL search path;
  // expose both so the Bloom prefilter pattern is writable as plain
  // Column algebra.
  private[functions] val bloomAggBuilder: Seq[Expression] => Expression = { exprs =>
    require(exprs.length == 3,
      "bloom_agg expects (value, estimatedNumItems, numBits)")
    new org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate(
      exprs.head, exprs(1), exprs(2))
  }

  private[functions] val mightContainBuilder: Seq[Expression] => Expression = { exprs =>
    require(exprs.length == 2, "might_contain expects exactly two arguments")
    org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain(exprs.head, exprs(1))
  }

  /** `round_cents(x)` = `round(x * 100, 0) / 100`: `round(x, 2)` as
    * DuckDB (and Python) compute it, half away from zero on the binary
    * value. Spark's `round(double, 2)` rounds `Double.toString(x)`
    * instead, so 305.275 (binary 305.27499999…) becomes 305.28 there and
    * 305.27 in DuckDB. At scale 0 the two agree: a double that prints
    * as k.5 is exactly k.5. */
  private[functions] val roundCentsBuilder: Seq[Expression] => Expression = { exprs =>
    require(exprs.length == 1, "round_cents expects exactly one argument")
    Divide(Round(Multiply(exprs.head, Literal(100.0)), Literal(0)), Literal(100.0))
  }

  /** Column form of `round_cents`; needs [[register]] on the session. */
  def roundCents(x: Column): Column = call_function("round_cents", x)

  /** Make `risk_score(str)`, `top_k_values(double, k)`,
    * `dot_product(arr, arr)`, `intersect_size(arr, arr)`,
    * `freq_items(str, k)` and `fingerprint(str)` callable from SQL /
    * call_function on an existing session. Idempotent. */
  def register(spark: SparkSession): Unit = {
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "risk_score", riskScoreBuilder, "built-in")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "top_k_values", topKBuilder, "built-in")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "dot_product", dotProductBuilder, "built-in")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "intersect_size", intersectSizeBuilder, "built-in")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "freq_items", freqItemsBuilder, "built-in")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "fingerprint", fingerprintBuilder, "built-in")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "intersect_size_sorted", intersectSortedBuilder, "built-in")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "bloom_agg", bloomAggBuilder, "built-in")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "might_contain", mightContainBuilder, "built-in")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "cms_counts", cmsBuilder, "built-in")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "chunk_split", chunkSplitBuilder, "built-in")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "byte_stats", byteStatsBuilder, "built-in")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "ngram_pos", ngramPosBuilder, "built-in")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "round_cents", roundCentsBuilder, "built-in")
  }
}

/** `SparkSession.builder().withExtensions(new GraftExtensions)` — or
  * `spark.sql.extensions=graft.functions.GraftExtensions` — injects the
  * function at session build time.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    // same builders as the session-level path, so a wrong argument count
    // fails the arity require instead of an IndexOutOfBoundsException
    ext.injectFunction((
      FunctionIdentifier("risk_score"),
      new ExpressionInfo(classOf[RiskScore].getName, "risk_score"),
      GraftFunctions.riskScoreBuilder,
    ))
    ext.injectFunction((
      FunctionIdentifier("dot_product"),
      new ExpressionInfo(classOf[DotProduct].getName, "dot_product"),
      GraftFunctions.dotProductBuilder,
    ))
    ext.injectFunction((
      FunctionIdentifier("intersect_size"),
      new ExpressionInfo(classOf[IntersectSize].getName, "intersect_size"),
      GraftFunctions.intersectSizeBuilder,
    ))
    ext.injectFunction((
      FunctionIdentifier("fingerprint"),
      new ExpressionInfo(classOf[Fingerprint].getName, "fingerprint"),
      GraftFunctions.fingerprintBuilder,
    ))
    ext.injectFunction((
      FunctionIdentifier("intersect_size_sorted"),
      new ExpressionInfo(classOf[IntersectSizeSorted].getName, "intersect_size_sorted"),
      GraftFunctions.intersectSortedBuilder,
    ))
    ext.injectFunction((
      FunctionIdentifier("chunk_split"),
      new ExpressionInfo(classOf[ChunkSplit].getName, "chunk_split"),
      GraftFunctions.chunkSplitBuilder,
    ))
    ext.injectFunction((
      FunctionIdentifier("byte_stats"),
      new ExpressionInfo(classOf[ByteStats].getName, "byte_stats"),
      GraftFunctions.byteStatsBuilder,
    ))
    ext.injectFunction((
      FunctionIdentifier("top_k_values"),
      new ExpressionInfo(classOf[TopKValuesAgg].getName, "top_k_values"),
      GraftFunctions.topKBuilder,
    ))
    ext.injectFunction((
      FunctionIdentifier("freq_items"),
      new ExpressionInfo(classOf[FreqItemsAgg].getName, "freq_items"),
      GraftFunctions.freqItemsBuilder,
    ))
    ext.injectFunction((
      FunctionIdentifier("bloom_agg"),
      new ExpressionInfo(
        classOf[org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate].getName,
        "bloom_agg"),
      GraftFunctions.bloomAggBuilder,
    ))
    ext.injectFunction((
      FunctionIdentifier("might_contain"),
      new ExpressionInfo(
        classOf[org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain].getName,
        "might_contain"),
      GraftFunctions.mightContainBuilder,
    ))
    ext.injectFunction((
      FunctionIdentifier("cms_counts"),
      new ExpressionInfo(classOf[CountMinAgg].getName, "cms_counts"),
      GraftFunctions.cmsBuilder,
    ))
    ext.injectFunction((
      FunctionIdentifier("ngram_pos"),
      new ExpressionInfo(classOf[NGramPos].getName, "ngram_pos"),
      GraftFunctions.ngramPosBuilder,
    ))
    // Fold the 16-way Column-algebra risk shape into the native
    // expression wherever user code spelled it out by hand.
    ext.injectOptimizerRule(_ => graft.expr.RiskScoreRewrite)
    // Fold the aggregate(zip_with(...)) dot-product spelling into the
    // native codegen'd kernel.
    ext.injectOptimizerRule(_ => graft.expr.DotProductRewrite)
    // Plan the custom as-of join node (graft.plans.AsOfJoinNode) — the
    // same strategy AsOfOps.asof registers lazily per-session.
    ext.injectPlannerStrategy(_ => graft.plans.AsOfJoinStrategy)
  }
}
