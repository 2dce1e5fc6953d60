package graft.functions

import org.apache.spark.sql.{Column, SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.GraftPlanBuilder.{column, expression}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Divide, Expression, ExpressionInfo, Literal, Multiply, Round}
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateFunction, BloomFilterAggregate}
import org.apache.spark.sql.types.IntegerType

import graft.expr.{ByteStats, ChunkSplit, CountMinAgg, DotProduct, Fingerprint, FreqItemsAgg, IntersectSize, IntersectSizeSorted, NGramPos, RiskScore, TopKValuesAgg}

/** graft's native expressions. Engine code calls the typed Column
  * constructors (`riskScore`, `dotProduct`, …): they build the Catalyst
  * expression directly, so they resolve on any session, with no
  * registration and no by-name lookup. SQL text reaches the same
  * builders by name through [[register]] (an existing session) or
  * [[GraftExtensions]] (a session we build); both loop over [[table]].
  */
object GraftFunctions {

  private[graft] type Builder = Seq[Expression] => Expression

  private def intArg(e: Expression, what: String): Int = e match {
    case Literal(v: Int, IntegerType) => v
    case other => throw new IllegalArgumentException(
      s"$what must be an integer literal, got $other")
  }

  private val riskScoreBuilder: Builder = { exprs =>
    require(exprs.length == 1, "risk_score expects exactly one argument")
    RiskScore(exprs.head)
  }

  private val topKBuilder: Builder = { exprs =>
    TopKValuesAgg(exprs.head, intArg(exprs(1), "top_k_values k"))
  }

  private val dotProductBuilder: Builder = { exprs =>
    require(exprs.length == 2, "dot_product expects exactly two arguments")
    DotProduct(exprs.head, exprs(1))
  }

  private val freqItemsBuilder: Builder = { exprs =>
    require(exprs.length == 2, "freq_items expects exactly two arguments")
    FreqItemsAgg(exprs.head, intArg(exprs(1), "freq_items k"))
  }

  private val cmsBuilder: Builder = { exprs =>
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

  private val intersectSizeBuilder: Builder = { exprs =>
    require(exprs.length == 2, "intersect_size expects exactly two arguments")
    IntersectSize(exprs.head, exprs(1))
  }

  private val fingerprintBuilder: Builder = { exprs =>
    require(exprs.length == 1, "fingerprint expects exactly one argument")
    Fingerprint(exprs.head)
  }

  private val intersectSortedBuilder: Builder = { exprs =>
    require(exprs.length == 2, "intersect_size_sorted expects exactly two arguments")
    IntersectSizeSorted(exprs.head, exprs(1))
  }

  private val chunkSplitBuilder: Builder = { exprs =>
    require(exprs.length == 1, "chunk_split expects exactly one argument")
    ChunkSplit(exprs.head)
  }

  private val byteStatsBuilder: Builder = { exprs =>
    require(exprs.length == 1, "byte_stats expects exactly one argument")
    ByteStats(exprs.head)
  }

  private val ngramPosBuilder: Builder = { exprs =>
    require(exprs.length == 2, "ngram_pos expects (tokens, n)")
    NGramPos(exprs.head, intArg(exprs(1), "ngram_pos n"))
  }

  // Spark ships BloomFilterAggregate/BloomFilterMightContain for its
  // runtime-filter rewrite but keeps them off the SQL search path;
  // expose both so the Bloom prefilter pattern is writable as plain
  // Column algebra.
  private val bloomAggBuilder: Builder = { exprs =>
    require(exprs.length == 3,
      "bloom_agg expects (value, estimatedNumItems, numBits)")
    new BloomFilterAggregate(exprs.head, exprs(1), exprs(2))
  }

  private val mightContainBuilder: Builder = { exprs =>
    require(exprs.length == 2, "might_contain expects exactly two arguments")
    BloomFilterMightContain(exprs.head, exprs(1))
  }

  /** `round_cents(x)` = `round(x * 100, 0) / 100`: `round(x, 2)` as
    * DuckDB (and Python) compute it, half away from zero on the binary
    * value. Spark's `round(double, 2)` rounds `Double.toString(x)`
    * instead, so 305.275 (binary 305.27499999…) becomes 305.28 there and
    * 305.27 in DuckDB. At scale 0 the two agree: a double that prints
    * as k.5 is exactly k.5. */
  private val roundCentsBuilder: Builder = { exprs =>
    require(exprs.length == 1, "round_cents expects exactly one argument")
    Divide(Round(Multiply(exprs.head, Literal(100.0)), Literal(0)), Literal(100.0))
  }

  /** Every SQL name: (name, root expression class, builder). */
  private[graft] val table: Seq[(String, Class[_], Builder)] = Seq(
    ("risk_score", classOf[RiskScore], riskScoreBuilder),
    ("top_k_values", classOf[TopKValuesAgg], topKBuilder),
    ("dot_product", classOf[DotProduct], dotProductBuilder),
    ("intersect_size", classOf[IntersectSize], intersectSizeBuilder),
    ("freq_items", classOf[FreqItemsAgg], freqItemsBuilder),
    ("fingerprint", classOf[Fingerprint], fingerprintBuilder),
    ("intersect_size_sorted", classOf[IntersectSizeSorted], intersectSortedBuilder),
    ("bloom_agg", classOf[BloomFilterAggregate], bloomAggBuilder),
    ("might_contain", classOf[BloomFilterMightContain], mightContainBuilder),
    ("cms_counts", classOf[CountMinAgg], cmsBuilder),
    ("chunk_split", classOf[ChunkSplit], chunkSplitBuilder),
    ("byte_stats", classOf[ByteStats], byteStatsBuilder),
    ("ngram_pos", classOf[NGramPos], ngramPosBuilder),
    ("round_cents", classOf[Divide], roundCentsBuilder),
  )

  /** `builder` over `args` as a Column. A Column argument stays
    * unresolved until analysis; any other argument (an `Int` k, the probe
    * list) becomes the literal the builder checks for. An aggregate
    * function is wrapped as the analyzer wraps a by-name call. */
  private def call(builder: Builder, args: Any*): Column =
    column(builder(args.map {
      case c: Column => expression(c)
      case v => Literal(v)
    }) match {
      case f: AggregateFunction => f.toAggregateExpression()
      case e => e
    })

  def riskScore(text: Column): Column = call(riskScoreBuilder, text)
  def topKValues(x: Column, k: Int): Column = call(topKBuilder, x, k)
  def dotProduct(a: Column, b: Column): Column = call(dotProductBuilder, a, b)
  def intersectSize(a: Column, b: Column): Column = call(intersectSizeBuilder, a, b)
  def freqItems(x: Column, k: Int): Column = call(freqItemsBuilder, x, k)
  def fingerprint(text: Column): Column = call(fingerprintBuilder, text)
  def intersectSizeSorted(a: Column, b: Column): Column = call(intersectSortedBuilder, a, b)
  def bloomAgg(x: Column, numItems: Long, numBits: Long): Column =
    call(bloomAggBuilder, x, numItems, numBits)
  def mightContain(bloom: Array[Byte], x: Column): Column = call(mightContainBuilder, bloom, x)
  def cmsCounts(x: Column, probes: Seq[String]): Column = call(cmsBuilder, x, probes.toArray)
  def chunkSplit(text: Column): Column = call(chunkSplitBuilder, text)
  def byteStats(payload: Column): Column = call(byteStatsBuilder, payload)
  /** A generator: select it with `.as(Seq("pos", "gram"))`. */
  def ngramPos(tokens: Column, n: Int): Column = call(ngramPosBuilder, tokens, n)
  def roundCents(x: Column): Column = call(roundCentsBuilder, x)

  /** Make every [[table]] name callable from SQL on an existing
    * session. Idempotent. */
  def register(spark: SparkSession): Unit =
    table.foreach { case (name, _, builder) =>
      spark.sessionState.functionRegistry.createOrReplaceTempFunction(
        name, builder, "built-in")
    }
}

/** `SparkSession.builder().withExtensions(new GraftExtensions)` — or
  * `spark.sql.extensions=graft.functions.GraftExtensions` — injects the
  * functions, optimizer rules and planner strategy at session build time.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    // same builders as the session-level path, so a wrong argument count
    // fails the arity require instead of an IndexOutOfBoundsException
    GraftFunctions.table.foreach { case (name, cls, builder) =>
      ext.injectFunction(
        (FunctionIdentifier(name), new ExpressionInfo(cls.getName, name), builder))
    }
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
