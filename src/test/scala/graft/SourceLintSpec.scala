package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Source-level invariant lints — structural guards for bug classes
  * that are invisible at one scale factor and fatal at another, so a
  * grep beats re-testing. The round-7 verdict's `q_cohort_ltv` failure
  * is the motivating case: `round(sum(value) * 100)` sums 2-dp doubles
  * BEFORE scaling, so the float partial-aggregation order (32 Spark
  * partitions vs DuckDB's serial sum) decides which side of a half-cent
  * the total lands on. The repo invariant is per-row integer conversion
  * — `sum(round(value * 100, 0).cast("long"))` — whose long addition is
  * order-independent; these lints pin that spelling everywhere, Scala
  * and oracle SQL alike.
  */
class SourceLintSpec extends AnyFunSuite {

  private def mainSources: Seq[(Path, String)] = {
    val root = Paths.get("src/main/scala")
    Files.walk(root).iterator().asScala
      .filter(p => p.toString.endsWith(".scala"))
      .map(p => p -> new String(Files.readAllBytes(p), "UTF-8"))
      .toSeq
  }

  private def offenders(pattern: scala.util.matching.Regex): Seq[String] =
    mainSources.flatMap { case (path, text) =>
      text.linesIterator.zipWithIndex.collect {
        case (line, i) if pattern.findFirstIn(line).isDefined =>
          s"$path:${i + 1}: ${line.trim}"
      }
    }

  /** Whole-file offender scan — matches across line breaks (the per-line
    * variant missed a multi-line spelling of `round(sum(value)\n * 100`)
    * and reports the 1-based line of each match start.
    */
  private def offendersMultiline(pattern: scala.util.matching.Regex): Seq[String] =
    mainSources.flatMap { case (path, text) =>
      pattern.findAllMatchIn(text).map { m =>
        val line = text.substring(0, m.start).count(_ == '\n') + 1
        val snippet = text.substring(m.start, math.min(m.end, m.start + 80))
          .replaceAll("\\s+", " ")
        s"$path:$line: $snippet"
      }
    }

  test("registry and oracle maps carry no duplicate keys, and map 1:1") {
    // A duplicate Map key silently SHADOWS the earlier entry (last one
    // wins) — round 9 shipped a correlated-subquery query that never ran
    // for two rounds this way, and round 10 nearly shadowed a live query
    // with a same-named new one. Runtime can't see this (the Map is
    // legal Scala), so the guard reads the source literal.
    val src = new String(Files.readAllBytes(
      Paths.get("src/main/scala/graft/SparkEntry.scala")), "UTF-8")
    val qBlock = "(?s)def queries: Map.*?=\\s*Map\\((.*?)\\n  \\)".r
      .findFirstMatchIn(src).get.group(1)
    val oBlock = "(?s)def oracleSql: Map.*?=\\s*Map\\((.*)\\n  \\)\\n\\}".r
      .findFirstMatchIn(src).get.group(1)
    val qKeys = "\"(q[^\"]*)\"\\s*->".r.findAllMatchIn(qBlock).map(_.group(1)).toSeq
    val oKeys = "\\n    \"(q[^\"]*)\"\\s*->".r.findAllMatchIn(oBlock).map(_.group(1)).toSeq
    def dups(ks: Seq[String]): Seq[String] =
      ks.groupBy(identity).collect { case (k, vs) if vs.size > 1 => k }.toSeq.sorted
    assert(dups(qKeys).isEmpty, s"duplicate registry keys: ${dups(qKeys)}")
    assert(dups(oKeys).isEmpty, s"duplicate oracle keys: ${dups(oKeys)}")
    val qs = qKeys.toSet
    val os = oKeys.toSet ++ SparkEntry.oracleFreeQueries
    assert((qs -- os).isEmpty, s"queries without an oracle: ${(qs -- os).toSeq.sorted}")
    assert((oKeys.toSet -- qs).isEmpty,
      s"oracles without a query: ${(oKeys.toSet -- qs).toSeq.sorted}")
    // and the parsed keys really are the runtime registry
    assert(qs === SparkEntry.queries.keySet.filter(_.startsWith("q")))
  }

  test("no money sum is scaled to cents AFTER a double aggregate") {
    // forbids `round(sum(<double>) * 100, 0)` (and the `* 100)` shape) in
    // Column algebra and oracle SQL alike — both must convert per row
    // first. Two anchors keep the LEGIT spellings out of scope:
    //  - no `/` between sum( and * 100: a terminal division of an exact
    //    integer-cents sum (`round(sum(cents) / (n * 100.0), 2)`) is
    //    order-independent arithmetic on longs;
    //  - `100` must be immediately followed by `,` or `)` (not `100.0 /`):
    //    percentage math like `round(sum(cnt) * 100.0 / total, 2)` is a
    //    rounded float output, not a cents cast. Only MULTIPLYING a
    //    double sum back to integer cents is the order-dependent bug.
    // The char class [^/] spans newlines (so a line-broken spelling is
    // still caught) while refusing to cross a division — the percentage
    // guard that matters.
    val bad = offendersMultiline("""round\(sum\([^/]{0,200}?\*\s*100\s*[,)]""".r)
    assert(bad.isEmpty,
      s"sum-then-scale-then-round money pattern (convert per row instead):\n${bad.mkString("\n")}")
  }

  test("no oracle SQL casts a rounded double aggregate to BIGINT") {
    // the SQL twin of the lint above: `CAST(round(sum(...)...) AS
    // BIGINT)` makes an order-dependent double sum pose as an exact
    // integer — the oracle must sum per-row BIGINT cents instead.
    val bad = offenders("""CAST\(round\(sum\(""".r)
    assert(bad.isEmpty,
      s"round-after-sum integer cast in oracle SQL:\n${bad.mkString("\n")}")
  }

  test("no ad-hoc session memo in the operators") {
    // session artifacts are memoized in graft.model.SharedFrames, the one
    // registry; a TrieMap or getOrElseUpdate in an operator is a second
    // memo with its own keying, outside the registry's contract
    val bad = offenders("TrieMap|getOrElseUpdate".r)
      .filter(_.startsWith("src/main/scala/graft/operators/"))
    assert(bad.isEmpty,
      s"ad-hoc memo in an operator (use SharedFrames):\n${bad.mkString("\n")}")
  }

  test("no ad-hoc cache in the operators") {
    // a frame several queries share is materialized once in
    // graft.model.SharedFrames; a cache()/persist( in an operator pins
    // blocks per call that the caller must remember to release, and an
    // unpersist of a plan the caller had cached drops the caller's entry
    val bad = offenders("""\.cache\(\)|\.persist\(""".r)
      .filter(_.startsWith("src/main/scala/graft/operators/"))
    assert(bad.isEmpty,
      s"cache()/persist( in an operator (use SharedFrames):\n${bad.mkString("\n")}")
  }

  test("engine code calls graft's native expressions as typed Columns") {
    // a by-name call resolves only on a session that ran register, and a
    // SharedFrames frame is bound to the session that built it; the typed
    // constructors in graft.functions.GraftFunctions need neither
    val bad = offenders("""call_function\(|GraftFunctions\.register""".r)
      .filter(_.startsWith("src/main/scala/graft/"))
      .filterNot(_.startsWith("src/main/scala/graft/functions/"))
    assert(bad.isEmpty,
      s"by-name native function call (use the GraftFunctions constructor):\n" +
        bad.mkString("\n"))
  }

  test("every public lake-layer def has a caller in src/main outside its own file") {
    // the lake layer exists for the registry's lake queries and the
    // streaming source; a public member that only its own file (or a
    // spec) calls is surface nothing reaches. A spec-only accessor is
    // private[graft]. A caller is a member selection `.name` in code —
    // comments are stripped, so a scaladoc link is not a caller.
    val lake = Seq("VersionedTable.scala", "VersionedStream.scala")
      .map(f => s"src/main/scala/graft/sources/$f")
    val code = mainSources.map { case (p, text) =>
      p.toString -> text.replaceAll("(?s)/\\*.*?\\*/", "").replaceAll("//[^\n]*", "")
    }
    val bad = offenders("^  def \\w+".r)
      .filter(o => lake.exists(f => o.startsWith(f + ":")))
      .filterNot { o =>
        val file = o.takeWhile(_ != ':')
        val call = s"\\.${"def (\\w+)".r.findFirstMatchIn(o).get.group(1)}\\b".r
        code.exists { case (p, text) => p != file && call.findFirstIn(text).isDefined }
      }
    assert(bad.isEmpty,
      s"public lake-layer def with no caller outside its file:\n${bad.mkString("\n")}")
  }

  // ---------------------------------------------------------------------
  // Oracle window-sum output-type lint.
  //
  // DuckDB types `sum(BIGINT) OVER (...)` as HUGEINT, which surfaces in
  // Arrow as decimal128(38,0) — while Spark's identical window sum is
  // int64. The driver's hash is type-sensitive, so a window sum whose
  // RAW value reaches the oracle's output column list diverges even when
  // every cell is bit-identical (the exact defect that kept q_cohort_ltv
  // red for two rounds after the values were already right: the inner
  // `rev` sum was dutifully CAST to BIGINT, the cumulative `cum` window
  // sum was not, and its alias flowed bare into the final SELECT).
  //
  // The lint below is paren-aware, not a line grep: it finds every
  // `sum(...) OVER ...` in every registered oracle, decides whether it
  // is wrapped in a type-fixing CAST(...)/round(...) (looking outward
  // through type-transparent coalesce(...) and grouping parens), and
  // flags any unwrapped one that either sits directly in the final
  // SELECT list or whose alias is passed through the final SELECT list
  // bare (with at most a rename).
  // ---------------------------------------------------------------------

  private def matchingParen(s: String, open: Int): Int = {
    var depth = 0
    var i = open
    while (i < s.length) {
      s.charAt(i) match {
        case '(' => depth += 1
        case ')' => depth -= 1; if (depth == 0) return i
        case _ =>
      }
      i += 1
    }
    -1
  }

  private def isIdent(c: Char): Boolean = c.isLetterOrDigit || c == '_'

  /** Offsets of each depth-0 occurrence of a bare keyword (case-insensitive). */
  private def topLevelKeyword(sql: String, kw: String): Seq[Int] = {
    val lower = sql.toLowerCase
    val out = scala.collection.mutable.ArrayBuffer.empty[Int]
    var depth = 0
    var i = 0
    while (i < lower.length) {
      lower.charAt(i) match {
        case '(' => depth += 1; i += 1
        case ')' => depth -= 1; i += 1
        case _ =>
          if (depth == 0 && lower.startsWith(kw, i) &&
              (i == 0 || !isIdent(lower.charAt(i - 1))) &&
              (i + kw.length >= lower.length || !isIdent(lower.charAt(i + kw.length))))
            { out += i; i += kw.length }
          else i += 1
      }
    }
    out.toSeq
  }

  /** Every TOP-LEVEL select-list span in the statement — the final
    * select AND each top-level UNION branch (an inner CTE/subquery
    * select sits inside parens and is excluded). Each branch's list is
    * an output column list: a hazard in ANY of them reaches the
    * driver's hash. */
  private def topSelectSpans(sql: String): Seq[(Int, Int)] = {
    val selects = topLevelKeyword(sql, "select")
    selects.map { sel =>
      val start = sel + "select".length
      val stops = topLevelKeyword(sql, "from").filter(_ > sel) ++
        selects.filter(_ > sel)
      (start, if (stops.isEmpty) sql.length else stops.min)
    }
  }

  /** Column identifiers that pass through ANY top-level select list
    * bare (possibly qualified, possibly renamed — both preserve the
    * type), plus the spans themselves. */
  private def bareFinalSelectIdents(sql: String): (Seq[(Int, Int)], Set[String]) = {
    val spans = topSelectSpans(sql)
    val bare = """(?is)^\s*(?:(\w+)\s*\.\s*)?(\w+)(?:\s+as\s+\w+)?\s*$""".r
    val idents = spans.flatMap { case (s, e) =>
      val span = sql.substring(s, e)
      // split at depth-0 commas within the span
      val items = scala.collection.mutable.ArrayBuffer.empty[String]
      var depth = 0; var start = 0
      for (i <- span.indices) span.charAt(i) match {
        case '(' => depth += 1
        case ')' => depth -= 1
        case ',' if depth == 0 => items += span.substring(start, i); start = i + 1
        case _ =>
      }
      items += span.substring(start)
      items.flatMap {
        case bare(_, col) => Some(col.toLowerCase)
        case _ => None
      }
    }.toSet
    (spans, idents)
  }

  /** True when the window sum starting before `sumIdx` is ultimately
    * enclosed in a CAST( or round( — walking outward through ANY other
    * enclosing call or grouping paren (coalesce/exp/greatest/... — if a
    * call consumes the sum, what reaches the output is that call's
    * result, and the terminating CAST/round is what fixes its type; a
    * chain that never hits one is reported). */
  private def typeWrapped(sql: String, sumIdx: Int): Boolean = {
    var p = sumIdx
    while (true) {
      while (p > 0 && sql.charAt(p - 1).isWhitespace) p -= 1
      if (p == 0 || sql.charAt(p - 1) != '(') return false
      var q = p - 1 // the '('
      while (q > 0 && sql.charAt(q - 1).isWhitespace) q -= 1
      var r = q
      while (r > 0 && isIdent(sql.charAt(r - 1))) r -= 1
      val fn = sql.substring(r, q).toLowerCase
      if (fn == "cast" || fn == "round") return true
      p = r // transparent or unknown call / grouping paren — keep walking out
    }
    false
  }

  /** All `sum(...) OVER ...` occurrences: (startIdx, endIdx, alias, wrapped). */
  private def windowSums(sql: String): Seq[(Int, Int, Option[String], Boolean)] = {
    val lower = sql.toLowerCase
    val out = scala.collection.mutable.ArrayBuffer.empty[(Int, Int, Option[String], Boolean)]
    var i = 0
    while (i >= 0) {
      i = lower.indexOf("sum", i)
      if (i >= 0) {
        val boundary = i == 0 || !isIdent(lower.charAt(i - 1))
        var j = i + 3
        while (j < lower.length && lower.charAt(j).isWhitespace) j += 1
        if (boundary && j < lower.length && lower.charAt(j) == '(') {
          val close = matchingParen(sql, j)
          if (close > 0) {
            var k = close + 1
            while (k < lower.length && lower.charAt(k).isWhitespace) k += 1
            if (lower.startsWith("over", k) &&
                (k + 4 >= lower.length || !isIdent(lower.charAt(k + 4)))) {
              var m = k + 4
              while (m < lower.length && lower.charAt(m).isWhitespace) m += 1
              val end =
                if (m < lower.length && lower.charAt(m) == '(') matchingParen(sql, m) + 1
                else { var e = m; while (e < lower.length && isIdent(lower.charAt(e))) e += 1; e }
              // optional `AS alias` (only a *direct* alias marks output position)
              var a = end
              while (a < lower.length && lower.charAt(a).isWhitespace) a += 1
              val alias =
                if (lower.startsWith("as", a) && a + 2 < lower.length &&
                    lower.charAt(a + 2).isWhitespace) {
                  var s0 = a + 2
                  while (s0 < lower.length && lower.charAt(s0).isWhitespace) s0 += 1
                  var e0 = s0
                  while (e0 < lower.length && isIdent(lower.charAt(e0))) e0 += 1
                  if (e0 > s0) Some(lower.substring(s0, e0)) else None
                } else None
              out += ((i, end, alias, typeWrapped(sql, i)))
            }
          }
        }
        i = i + 3
      }
    }
    out.toSeq
  }

  /** Unwrapped window sums whose raw value becomes an output column:
    * either the sum IS a final-select item (modulo its alias), or its
    * alias flows into the final select list bare AND is never shadowed
    * by a downstream re-definition (`CAST(seq AS BIGINT) AS seq` in a
    * later CTE re-types the name — that shape is legal). */
  private def windowSumOffenders(rawSql: String): Seq[String] = {
    val sql = blankLiterals(rawSql) // a quoted '(' must not skew the walk
    val (spans, bareIdents) = bareFinalSelectIdents(sql)
    windowSums(sql).collect {
      case (start, end, alias, wrapped) if !wrapped =>
        val directOutput = spans.exists { case (s, e) => start >= s && start < e }
        val aliasOutput = alias.exists { a =>
          val defs = s"""(?i)\\bas\\s+$a\\b""".r.findAllMatchIn(sql).size
          bareIdents.contains(a) && defs <= 1
        }
        if (directOutput || aliasOutput)
          Some(sql.substring(start, math.min(end, start + 70)).replaceAll("\\s+", " "))
        else None
    }.flatten
  }

  test("window-sum lint flags the exact pre-fix q_cohort_ltv shape") {
    // self-check on the historical offender: the cumulative window sum is
    // aliased in a CTE and its alias flows bare through the final SELECT.
    val preFix =
      """WITH rev AS (SELECT cd, wk, CAST(sum(x) AS BIGINT) AS cents FROM t GROUP BY 1, 2),
         cum AS (
           SELECT cd, wk, sum(cents) OVER (PARTITION BY cd ORDER BY wk
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_cents
           FROM rev)
         SELECT cd AS cohort_day, wk, cum_cents, round(cum_cents / 100.0, 4) AS ltv
         FROM cum ORDER BY cohort_day, wk"""
    assert(windowSumOffenders(preFix).nonEmpty,
      "lint failed to flag the un-CAST cumulative window sum that kept q_cohort_ltv red")
    // and the one-line fix silences it
    val postFix = preFix.replace(
      "sum(cents) OVER (PARTITION BY cd ORDER BY wk\n             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_cents",
      "CAST(sum(cents) OVER (PARTITION BY cd ORDER BY wk\n             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_cents")
    assert(postFix != preFix, "self-check replacement did not apply")
    assert(windowSumOffenders(postFix).isEmpty,
      s"lint still fires after the CAST fix: ${windowSumOffenders(postFix)}")
  }

  test("no oracle lets a raw window sum reach the output column list") {
    val bad = SparkEntry.oracleSql.toSeq.sortBy(_._1).flatMap { case (name, sql) =>
      windowSumOffenders(sql).map(s => s"$name: $s")
    }
    assert(bad.isEmpty,
      s"un-CAST window sum in output position (DuckDB HUGEINT vs Spark int64):\n${bad.mkString("\n")}")
  }

  // ---------------------------------------------------------------------
  // HUGEINT output-type lint (third type-materialization red: q_cohort_ltv
  // r8, q_simpson r10 — make the class impossible, not remembered).
  //
  // DuckDB HUGEINT has NO parquet logical type: the driver materializes
  // the oracle through `COPY ... TO parquet`, which demotes HUGEINT to
  // double, so a HUGEINT that reaches the oracle's output list can never
  // hash-match ANY Spark type — not even decimal128, which the Arrow
  // fetch path misleadingly reports as equal. The rule here is stricter
  // than strictly necessary and therefore simple: every HUGEINT token
  // anywhere in an oracle — whether created by `CAST(... AS HUGEINT)`,
  // `TRY_CAST(... AS HUGEINT)`, or the `::HUGEINT` suffix shorthand —
  // must be enclosed (walking outward through any call or grouping
  // paren) in a CAST/TRY_CAST/round that re-types the value before it
  // can escape. String literals are blanked (offset-preserving) before
  // the paren walk so a quoted '(' cannot corrupt the ancestor chain. A
  // future predicate-internal HUGEINT that genuinely needs no re-CAST
  // can be allowlisted when it exists; today none does.
  // ---------------------------------------------------------------------

  /** Blank every single-quoted SQL string literal AND every `--`
    * line comment (offset-preserving): a '(' inside a literal must not
    * participate in the paren walk, an apostrophe inside a comment
    * ("-- don't ...") must not invert literal tracking (an odd-count
    * one would silently blank ALL downstream SQL and disable the
    * gates), and the word HUGEINT in a comment must not spuriously
    * trip them. The '' escape toggles twice and stays blanked. */
  private def blankLiterals(sql: String): String = {
    val b = sql.toCharArray
    var inLit = false
    var i = 0
    while (i < b.length) {
      if (inLit) { if (b(i) == '\'') inLit = false else b(i) = ' ' }
      else if (b(i) == '\'') inLit = true
      else if (b(i) == '-' && i + 1 < b.length && b(i + 1) == '-') {
        while (i < b.length && b(i) != '\n') { b(i) = ' '; i += 1 }
        i -= 1
      }
      i += 1
    }
    new String(b)
  }

  /** Function name owning each unmatched '(' enclosing `idx`, inside-out
    * — the call-ancestor chain of the token at `idx`. */
  private def enclosingFns(sql: String, idx: Int): Seq[String] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    var bal = 0
    var p = idx - 1
    while (p >= 0) {
      sql.charAt(p) match {
        case ')' => bal += 1
        case '(' =>
          if (bal == 0) {
            var q = p
            while (q > 0 && sql.charAt(q - 1).isWhitespace) q -= 1
            var r = q
            while (r > 0 && isIdent(sql.charAt(r - 1))) r -= 1
            out += sql.substring(r, q).toLowerCase // "" for a grouping paren
          } else bal -= 1
        case _ =>
      }
      p -= 1
    }
    out.toSeq
  }

  /** HUGEINT tokens with NO re-typing cast/round ancestor: the value
    * escapes un-re-typed. Covers all three creation spellings —
    * `CAST(x AS HUGEINT)` / `TRY_CAST(x AS HUGEINT)` (token preceded by
    * AS, owning call excluded from the ancestor set) and `x::HUGEINT`
    * (no owning call; every enclosing cast counts). Anything else
    * containing the token is flagged conservatively.
    *
    * Known blind spot: DuckDB also creates HUGEINT IMPLICITLY — a plain
    * non-window `sum(bigint_col)` in an output position types as
    * HUGEINT with no token for this lint to see (the `windowSums` lint
    * above covers the window spelling only). That class is caught at
    * verify time by tools/localcheck.py's parquet-path materialization
    * (HUGEINT → double demotion flips the hash), not structurally
    * here. */
  private def hugeintOffenders(rawSql: String): Seq[String] = {
    val sql = blankLiterals(rawSql)
    val lower = sql.toLowerCase
    def isCastFn(f: String) = f == "cast" || f == "try_cast"
    def isRetype(f: String) = isCastFn(f) || f == "round"
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    var i = lower.indexOf("hugeint")
    while (i >= 0) {
      var p = i
      while (p > 0 && sql.charAt(p - 1).isWhitespace) p -= 1
      val afterDoubleColon = p >= 2 && sql.substring(p - 2, p) == "::"
      val afterAs = p >= 2 && lower.substring(p - 2, p) == "as" &&
        (p - 2 == 0 || !isIdent(lower.charAt(p - 3)))
      val fns = enclosingFns(sql, i)
      val retyped =
        if (afterDoubleColon) fns.exists(isRetype)
        else if (afterAs && fns.headOption.exists(isCastFn))
          fns.drop(1).exists(isRetype)
        else false // unknown context: flag conservatively
      if (!retyped) {
        val start = math.max(0, i - 30)
        out += sql.substring(start, math.min(sql.length, i + 40))
          .replaceAll("\\s+", " ")
      }
      i = lower.indexOf("hugeint", i + 7)
    }
    out.toSeq
  }

  test("HUGEINT lint flags the exact pre-fix q_simpson shape") {
    val preFix =
      """SELECT grp, n,
            CAST(n AS HUGEINT) * sxy - CAST(sx AS HUGEINT) * sy AS slope_num,
            CAST(sign(CAST(n AS HUGEINT) * sxy - CAST(sx AS HUGEINT) * sy)
              AS BIGINT) AS slope_sign
          FROM uni ORDER BY grp"""
    val hits = hugeintOffenders(preFix)
    assert(hits.size == 2, // the two bare slope_num casts; the sign() pair is re-CAST
      s"expected exactly the two un-re-CAST slope_num HUGEINTs, got: $hits")
    val postFix =
      """SELECT grp, n,
            CAST(CAST(n AS HUGEINT) * sxy - CAST(sx AS HUGEINT) * sy
              AS VARCHAR) AS slope_num,
            CAST(sign(CAST(n AS HUGEINT) * sxy - CAST(sx AS HUGEINT) * sy)
              AS BIGINT) AS slope_sign
          FROM uni ORDER BY grp"""
    assert(hugeintOffenders(postFix).isEmpty,
      s"lint still fires after the VARCHAR re-CAST: ${hugeintOffenders(postFix)}")
    // the ::HUGEINT suffix shorthand and TRY_CAST are the same type,
    // same parquet demotion — the gate must see through both spellings
    assert(hugeintOffenders("SELECT x::HUGEINT * y AS c FROM t").size == 1,
      "::HUGEINT shorthand must be flagged when un-re-typed")
    assert(hugeintOffenders(
      "SELECT CAST(x::HUGEINT * y AS VARCHAR) AS c FROM t").isEmpty,
      "a re-CAST ::HUGEINT must pass")
    assert(hugeintOffenders("SELECT TRY_CAST(a AS HUGEINT) AS c FROM t").size == 1,
      "TRY_CAST-created HUGEINT must be flagged when un-re-typed")
    assert(hugeintOffenders(
      "SELECT CAST(TRY_CAST(a AS HUGEINT) AS VARCHAR) AS c FROM t").isEmpty,
      "a re-CAST TRY_CAST HUGEINT must pass")
    // a quoted '(' earlier in the statement must not hand the offender a
    // phantom cast ancestor through a corrupted paren walk
    assert(hugeintOffenders(
      "SELECT replace(s, '(', '') AS r, CAST(x AS HUGEINT) AS c FROM t").size == 1,
      "string-literal parens must not mask an offender")
    // an apostrophe in a -- comment must not invert literal tracking
    // (blanking everything after it) and HUGEINT in a comment is inert
    assert(hugeintOffenders(
      "-- don't double count\nSELECT CAST(x AS HUGEINT) AS c FROM t").size == 1,
      "a comment apostrophe must not blank the offender below it")
    assert(hugeintOffenders(
      "-- HUGEINT demotes through parquet\nSELECT CAST(x AS BIGINT) AS c FROM t").isEmpty,
      "HUGEINT in a comment must not trip the gate")
  }

  test("every oracle HUGEINT is re-typed before it can reach an output column") {
    val bad = SparkEntry.oracleSql.toSeq.sortBy(_._1).flatMap { case (name, sql) =>
      hugeintOffenders(sql).map(s => s"$name: $s")
    }
    assert(bad.isEmpty,
      "HUGEINT expression not enclosed in a re-typing CAST/round (HUGEINT " +
        s"demotes to double through DuckDB's parquet writer):\n${bad.mkString("\n")}")
  }

  // ---------------------------------------------------------------------
  // IMPLICIT-HUGEINT sum lint — the blind spot the explicit-HUGEINT lint
  // documents: a plain non-window `sum(bigint_col)` in DuckDB types as
  // HUGEINT with NO token in the SQL for the gates above to see. Until
  // r13 that class was caught only at verify time (localcheck's parquet
  // materialization flips the hash); this closes it structurally. A
  // bare aggregate `sum(...)` that IS a final-select item (modulo
  // alias), or whose alias flows bare through the final select list, is
  // flagged unless enclosed in a CAST/round. Sums consumed by further
  // arithmetic (`sum(x) / count(*)`) are NOT flagged — DuckDB `/` is
  // float division, so what reaches the output is DOUBLE, not HUGEINT.
  // A sum over a provably-double argument would be a false positive
  // under this rule; every such oracle spells the no-op
  // `CAST(... AS DOUBLE)` today, which keeps the rule simple.
  // ---------------------------------------------------------------------

  /** Non-window `sum(...)` occurrences: (start, endAfterParen, alias,
    * wrapped) — the [[windowSums]] walk minus the OVER suffix. */
  private def plainSums(sql: String): Seq[(Int, Int, Option[String], Boolean)] = {
    val lower = sql.toLowerCase
    val out = scala.collection.mutable.ArrayBuffer.empty[(Int, Int, Option[String], Boolean)]
    var i = 0
    while (i >= 0) {
      i = lower.indexOf("sum", i)
      if (i >= 0) {
        val boundary = i == 0 || !isIdent(lower.charAt(i - 1))
        var j = i + 3
        while (j < lower.length && lower.charAt(j).isWhitespace) j += 1
        if (boundary && j < lower.length && lower.charAt(j) == '(') {
          val close = matchingParen(sql, j)
          if (close > 0) {
            var k = close + 1
            while (k < lower.length && lower.charAt(k).isWhitespace) k += 1
            val isWindow = lower.startsWith("over", k) &&
              (k + 4 >= lower.length || !isIdent(lower.charAt(k + 4)))
            if (!isWindow) {
              val end = close + 1
              var a = end
              while (a < lower.length && lower.charAt(a).isWhitespace) a += 1
              val alias =
                if (lower.startsWith("as", a) && a + 2 < lower.length &&
                    lower.charAt(a + 2).isWhitespace) {
                  var s0 = a + 2
                  while (s0 < lower.length && lower.charAt(s0).isWhitespace) s0 += 1
                  var e0 = s0
                  while (e0 < lower.length && isIdent(lower.charAt(e0))) e0 += 1
                  if (e0 > s0) Some(lower.substring(s0, e0)) else None
                } else None
              out += ((i, end, alias, typeWrapped(sql, i)))
            }
          }
        }
        i = i + 3
      }
    }
    out.toSeq
  }

  /** Select-list items of EVERY top-level select (final + union
    * branches) as (absoluteStart, absoluteEnd) spans. */
  private def finalSelectItemSpans(sql: String): Seq[(Int, Int)] =
    topSelectSpans(sql).flatMap { case (base, end) =>
      val span = sql.substring(base, end)
      val spans = scala.collection.mutable.ArrayBuffer.empty[(Int, Int)]
      var depth = 0; var start = 0
      for (i <- span.indices) span.charAt(i) match {
        case '(' => depth += 1
        case ')' => depth -= 1
        case ',' if depth == 0 => spans += ((base + start, base + i)); start = i + 1
        case _ =>
      }
      spans += ((base + start, end))
      spans.toSeq
    }

  /** Unwrapped plain sums whose RAW value becomes an output column:
    * the sum IS an entire final-select item (modulo `AS alias`), or its
    * alias passes through the final select bare and un-shadowed. */
  private def plainSumOffenders(rawSql: String): Seq[String] = {
    val sql = blankLiterals(rawSql)
    val (_, bareIdents) = bareFinalSelectIdents(sql)
    val items = finalSelectItemSpans(sql)
    plainSums(sql).collect {
      case (start, end, alias, wrapped) if !wrapped =>
        val directItem = items.exists { case (s, e) =>
          start >= s && end <= e &&
            sql.substring(s, start).trim.isEmpty && {
              val tail = sql.substring(end, e).trim
              tail.isEmpty || tail.toLowerCase.matches("as\\s+\\w+")
            }
        }
        val aliasOutput = alias.exists { a =>
          val defs = s"""(?i)\\bas\\s+$a\\b""".r.findAllMatchIn(sql).size
          bareIdents.contains(a) && defs <= 1
        }
        if (directItem || aliasOutput)
          Some(sql.substring(start, math.min(end, start + 70)).replaceAll("\\s+", " "))
        else None
    }.flatten
  }

  test("implicit-sum lint flags a bare sum(bigint) in output position") {
    // the blind-spot shape: no HUGEINT token anywhere, yet the output
    // column IS HUGEINT (and demotes to double through parquet)
    assert(plainSumOffenders(
      "SELECT lang, sum(n_chars) AS total FROM documents GROUP BY 1").size == 1,
      "a bare output-position sum must be flagged")
    // the repo-invariant spelling passes
    assert(plainSumOffenders(
      "SELECT lang, CAST(sum(n_chars) AS BIGINT) AS total FROM documents GROUP BY 1").isEmpty)
    // alias flowing bare through a final SELECT is the same hazard
    assert(plainSumOffenders(
      """WITH t AS (SELECT lang, sum(n_chars) AS total FROM documents GROUP BY 1)
         SELECT lang, total FROM t ORDER BY lang""").size == 1,
      "an aliased bare sum passed through the final select must be flagged")
    // a sum consumed by arithmetic is NOT the raw output (float division
    // re-types it) — must not flag
    assert(plainSumOffenders(
      "SELECT lang, round(sum(x) / count(*), 4) AS avg_x FROM t GROUP BY 1").isEmpty)
    assert(plainSumOffenders(
      "SELECT lang, sum(x) / count(*) AS avg_x FROM t GROUP BY 1").isEmpty)
    // a sum inside a WHERE/HAVING never reaches the output list
    assert(plainSumOffenders(
      """SELECT lang, CAST(count(*) AS BIGINT) AS n FROM t GROUP BY 1
         HAVING sum(x) > 10 ORDER BY lang""").isEmpty)
    // a top-level UNION branch's select list is an output list too —
    // the last-select-only blind spot a review pass caught
    assert(plainSumOffenders(
      """SELECT 'a' AS tag, CAST(sum(x) AS BIGINT) AS n FROM t
         UNION ALL SELECT 'b', sum(y) FROM u""").size == 1,
      "a bare sum in a union branch's output list must be flagged")
    assert(plainSumOffenders(
      """SELECT 'a' AS tag, CAST(sum(x) AS BIGINT) AS n FROM t
         UNION ALL SELECT 'b', CAST(sum(y) AS BIGINT) FROM u""").isEmpty)
    // ...and the same widening applies to the window-sum lint
    assert(windowSumOffenders(
      """SELECT id, CAST(sum(x) OVER (ORDER BY id) AS BIGINT) AS c FROM t
         UNION ALL SELECT id, sum(y) OVER (ORDER BY id) FROM u""").nonEmpty,
      "a bare window sum in a union branch's output list must be flagged")
  }

  test("no oracle lets a bare non-window sum reach the output column list") {
    val bad = SparkEntry.oracleSql.toSeq.sortBy(_._1).flatMap { case (name, sql) =>
      plainSumOffenders(sql).map(s => s"$name: $s")
    }
    assert(bad.isEmpty,
      "bare sum(...) in output position (implicit DuckDB HUGEINT if the " +
        s"argument is integer — CAST the sum, or CAST(... AS DOUBLE) for float sums):\n${bad.mkString("\n")}")
  }
}
