package graft.pipeline

import scala.util.matching.Regex

import org.apache.spark.sql.{DataFrame, GraftExpressionBridge, SparkSession}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, AnyValue}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, LogicalPlan}
import org.apache.spark.sql.catalyst.util.DateTimeConstants._
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{DayTimeIntervalType => DT, StringType, YearMonthIntervalType => YM}
import org.apache.spark.unsafe.types.UTF8String

/** A feature of the SQLite pass-through surface that Spark's SQL engine
  * genuinely lacks — raised by the dialect's rewrites and its `strftime`
  * so users get a clear one-line diagnosis instead of a raw Catalyst
  * parse error.
  */
final class UnsupportedSqlFeatureException(val feature: String, detail: String)
  extends IllegalArgumentException(
    s"unsupported: $feature — $detail (see SCALE.md, 'dialect limits')")

/** The SQLite pass-through surface (SURVEY.md §2.C). [[sql]] is the one
  * way SQLite SQL reaches Spark, and every pipeline query takes it.
  *
  * Spark's own front end does what it can: its parser reads `"…"` as an
  * identifier (`spark.sql.ansi.doubleQuotedIdentifiers`) and `''` as a
  * quote inside a literal, `strftime` is a session function built from
  * the analyzer's resolved arguments, and a bare column of an aggregate
  * becomes Spark's `any_value` between resolution and the analysis
  * check. Text is rewritten only where Spark has no syntax: GLOB, GROUPS
  * frames, frame EXCLUDE clauses, and backslashes (ordinary characters
  * in SQLite, escapes to Spark).
  *
  * Reference seam: the reference passes user SQL strings verbatim to
  * SQLite (`query_iterator.py:131`), so any SQLite-only syntax its users
  * rely on arrives here.
  */
object SqliteDialect {

  /** The former switch of the pipeline's SQL path. Nothing here reads
    * it: pipeline SQL is always SQLite SQL. It stays only because the
    * benchmark harness (`perfbench/Work.scala`) still sets it.
    */
  val ConfKey = "spark.graft.sqlite.dialect"

  /** SQLite SQL → DataFrame: [[rewrite]], a parse that reads `"…"` as an
    * identifier, then analysis under the session's own conf, where the
    * `strftime` calls resolve to [[strftime]] and bare columns become
    * `any_value` ([[anyValueBareColumns]]) before the analysis check.
    */
  def sql(spark: SparkSession, sqliteSql: String): DataFrame = {
    registerStrftime(spark)
    val text = rewrite(sqliteSql)
    val plan = SQLConf.withExistingConf(identifierConf(spark))(
      spark.sessionState.sqlParser.parsePlan(text))
    GraftExpressionBridge.dataFrame(spark, plan)(anyValueBareColumns)
  }

  /** SQLite lets an aggregate query select a column that is neither
    * grouped nor aggregated (a "bare column"), taking its value from an
    * arbitrary row of the group; the reference's own example query 1
    * does (`SELECT company, product, COUNT(product) … GROUP BY product`,
    * run_main_example.py:14-18). Spark's `any_value` is that aggregate,
    * so each bare column of a resolved [[Aggregate]] becomes one. A bare
    * output column keeps its expression id, so the HAVING, ORDER BY and
    * outer-query references already resolved to it stay valid.
    */
  private def anyValueBareColumns(plan: LogicalPlan): LogicalPlan =
    plan.transformUpWithSubqueries { case agg: Aggregate =>
      def grouped(e: Expression) = agg.groupingExpressions.exists(_.semanticEquals(e))
      def anyValue(e: Expression): Expression = e match {
        case _: AggregateExpression => e
        case _ if grouped(e) => e
        case a: Attribute => AnyValue(a, ignoreNulls = false).toAggregateExpression()
        case _ => e.mapChildren(anyValue)
      }
      agg.copy(aggregateExpressions = agg.aggregateExpressions.map {
        case a: Attribute if !grouped(a) => Alias(anyValue(a), a.name)(exprId = a.exprId)
        case e => anyValue(e).asInstanceOf[NamedExpression]
      })
    }

  /** A copy of the session conf whose parser reads `"…"` as an
    * identifier. Spark honours `spark.sql.ansi.doubleQuotedIdentifiers`
    * only with ANSI mode on, and the parser builds casts and arithmetic
    * in the ANSI mode of the conf it parses under; so this copy forces
    * the identifier reading alone, and a session with ANSI off keeps its
    * own cast and overflow semantics.
    */
  private def identifierConf(spark: SparkSession): SQLConf = {
    val conf = new SQLConf { override def doubleQuotedIdentifiers: Boolean = true }
    spark.sessionState.conf.getAllConfs.foreach { case (k, v) => conf.setConfString(k, v) }
    conf
  }

  private val StrftimeId = FunctionIdentifier("strftime")

  /** Registers [[strftime]] as the session function `strftime`, once
    * per session (the idempotent setup of Pathling's
    * `SqlStrategy.setup`): no session extension is needed.
    */
  private def registerStrftime(spark: SparkSession): Unit = {
    val registry = spark.sessionState.functionRegistry
    if (!registry.functionExists(StrftimeId))
      registry.registerFunction(StrftimeId,
        new ExpressionInfo(getClass.getName, StrftimeId.funcName), strftime _)
  }

  /** The text half of [[sql]], after [[stripComments]]:
    *   1. frame EXCLUDE clauses → window arithmetic ([[rewriteExclude]]);
    *   2. GROUPS window frames → RANGE (over a hoisted `dense_rank()`
    *      for numeric bounds) — [[rewriteGroups]]; untranslatable
    *      shapes raise a friendly [[UnsupportedSqlFeatureException]];
    *   3. `expr GLOB 'pat'` → `expr LIKE '<translated>'`, or
    *      `expr RLIKE '<anchored regex>'` when the pattern carries
    *      `[...]` character classes ([[globToRegex]]);
    *   4. backslashes made literal for Spark's lexer
    *      ([[transcodeLiterals]]), so the legal SQLite literal `'C:\'`
    *      reaches Spark as `'C:\\'`. All scans before this step lex the
    *      text as SQLite does ([[quoteEnd]]).
    * `"…"` identifiers, `''` quotes and `strftime` calls pass through for
    * [[sql]]'s parse and analysis.
    */
  def rewrite(sql: String): String =
    transcodeLiterals(rewriteGlob(rewriteGroups(rewriteExclude(stripComments(sql)))))

  // ---- the quote-span scanner ------------------------------------------

  private def isQuote(c: Char): Boolean = c == '\'' || c == '"' || c == '`'

  /** Index just past the quoted span opening at `start` — a '…' literal,
    * a "…" or `…` identifier — or -1 if the input ends inside it. A
    * doubled quote character stands for itself and continues the span.
    * Backslash is an ordinary character, as in SQLite.
    */
  private def quoteEnd(sql: String, start: Int): Int = {
    val q = sql.charAt(start)
    var i = start + 1
    while (i < sql.length) {
      val c = sql.charAt(i)
      if (c != q) i += 1
      else if (i + 1 < sql.length && sql.charAt(i + 1) == q) i += 2
      else return i + 1
    }
    -1
  }

  /** SQLite comments (`-- …` to end of line, `/* … */` or to end of
    * input) → one space each, so a quote in a comment cannot open a span
    * for the later scans. Quoted spans are copied whole; `/*+ … */`
    * hints stay verbatim.
    */
  private[pipeline] def stripComments(sql: String): String = {
    val sb = new StringBuilder
    var i = 0
    while (i < sql.length) {
      val c = sql.charAt(i)
      if (isQuote(c)) {
        val end = quoteEnd(sql, i)
        val e = if (end < 0) sql.length else end
        sb.append(sql.substring(i, e)); i = e
      } else if (sql.startsWith("--", i)) {
        val nl = sql.indexOf('\n', i)
        sb.append(' '); i = if (nl < 0) sql.length else nl
      } else if (sql.startsWith("/*", i)) {
        val close = sql.indexOf("*/", i + 2)
        val end = if (close < 0) sql.length else close + 2
        if (sql.startsWith("/*+", i)) sb.append(sql.substring(i, end)) else sb.append(' ')
        i = end
      } else { sb.append(c); i += 1 }
    }
    sb.toString
  }

  /** Positions-preserving mask: the characters inside every quoted span
    * are blanked so regex scans can't match into them; the quote
    * characters that open and close a span survive, keeping offsets
    * aligned with the original. Quoted identifiers are masked too: a
    * column named `"x GROUPS y"` is off-limits to keyword scans.
    */
  private def maskStrings(sql: String): String = {
    val out = sql.toCharArray
    var i = 0
    while (i < out.length) {
      if (isQuote(out(i))) {
        val end = quoteEnd(sql, i)
        val close = if (end < 0) out.length else end - 1
        java.util.Arrays.fill(out, i + 1, close, ' ')
        i = close + 1
      } else i += 1
    }
    new String(out)
  }

  /** Read the single-quoted literal starting at `start` (which must be
    * the opening quote); returns (content with '' unescaped, index past
    * the closing quote).
    */
  private def readLiteral(sql: String, start: Int): (String, Int) = {
    val end = quoteEnd(sql, start)
    if (end < 0) throw new IllegalArgumentException(s"unterminated string literal in: $sql")
    (sql.substring(start + 1, end - 1).replace("''", "'"), end)
  }

  /** Backslashes made literal for Spark's lexer, which reads them as
    * escapes inside '…' and "…" where SQLite reads them as characters:
    * each one in a string literal doubles (`'C:\'` → `'C:\\'`), and a
    * "…" identifier holding one becomes a `…` identifier, which has no
    * escape character. Runs LAST in [[rewrite]], so every earlier scan
    * and emission works on uniformly SQLite-lexed text.
    */
  private[pipeline] def transcodeLiterals(sql: String): String = {
    val sb = new StringBuilder
    var i = 0
    while (i < sql.length) {
      val c = sql.charAt(i)
      if (!isQuote(c)) { sb.append(c); i += 1 }
      else {
        val end = quoteEnd(sql, i)
        if (end < 0) throw new IllegalArgumentException(s"unterminated $c-quoted span in: $sql")
        val body = sql.substring(i + 1, end - 1)
        if (c == '\'') sb.append('\'').append(body.replace("\\", "\\\\")).append('\'')
        else if (c == '"' && body.contains('\\'))
          sb.append('`').append(body.replace("\"\"", "\"").replace("`", "``")).append('`')
        else sb.append(sql.substring(i, end))
        i = end
      }
    }
    sb.toString
  }

  /** Escape a runtime string as a SQLite-lexed single-quoted literal
    * ('' escapes a quote; backslash is an ordinary character).
    */
  private def sqliteLiteral(s: String): String =
    "'" + s.replace("'", "''") + "'"

  // ---- frame patterns -------------------------------------------------

  /** Genuine frame syntax — a frame bound always ends in PRECEDING /
    * FOLLOWING / CURRENT ROW, so a column that happens to be named
    * `groups` in e.g. `groups BETWEEN 1 AND 5` does not match.
    */
  private val FrameBound =
    "(UNBOUNDED\\s+(PRECEDING|FOLLOWING)|CURRENT\\s+ROW|\\d+\\s+(PRECEDING|FOLLOWING))"

  /** Broader frame-INTENT pattern for [[rewriteGroups]]: also catches
    * malformed/non-literal bounds (`GROUPS BETWEEN n PRECEDING …`) so
    * they get the friendly error instead of slipping through to a raw
    * Catalyst parse failure. The BETWEEN arm demands a PRECEDING /
    * FOLLOWING within range, so `CASE WHEN groups BETWEEN 1 AND 5 THEN`
    * inside a window spec still doesn't false-positive.
    */
  private val GroupsIntentPat =
    (s"(?i)\\bGROUPS\\s+(BETWEEN\\s+.{0,60}?\\b(PRECEDING|FOLLOWING)\\b|$FrameBound)").r

  private val ExcludeKinds = "\\bEXCLUDE\\s+(NO\\s+OTHERS|CURRENT\\s+ROW|GROUP|TIES)\\b"

  // ---- GLOB ---------------------------------------------------------------

  /** SQLite GLOB pattern → SQL LIKE pattern. GLOB is case-sensitive with
    * `*`/`?` wildcards (Spark LIKE is case-sensitive already, so only
    * the wildcards and escaping differ). `[...]` character classes have
    * no LIKE equivalent — [[rewriteGlob]] routes class patterns through
    * [[globToRegex]]/RLIKE instead.
    */
  def globToLike(glob: String): String = {
    if (glob.exists(c => c == '[' || c == ']'))
      throw new UnsupportedSqlFeatureException("GLOB character classes",
        s"'$glob' uses [...] which LIKE cannot express (rewriteGlob " +
          "translates these to RLIKE — call that instead)")
    val sb = new StringBuilder
    glob.foreach {
      case '*' => sb.append('%')
      case '?' => sb.append('_')
      case '%' => sb.append("\\%")
      case '_' => sb.append("\\_")
      case '\\' => sb.append("\\\\")
      case c => sb.append(c)
    }
    sb.toString
  }

  /** SQLite GLOB pattern → anchored Java regex (for Spark RLIKE) — the
    * translation used when the pattern carries `[...]` character
    * classes, which LIKE cannot express. GLOB matches the WHOLE string
    * (RLIKE finds substrings), hence the `^…$` anchors. Class contents
    * follow SQLite's rules: leading `^` negates, a `]` first in the
    * class is literal, `a-z` ranges pass through; members that are Java
    * class metacharacters are escaped. An unterminated `[` — which
    * SQLite treats as a never-matching pattern — is rejected loudly
    * instead (silently matching nothing would hide a typo).
    */
  def globToRegex(glob: String): String = {
    val sb = new StringBuilder("^")
    var i = 0
    while (i < glob.length) {
      glob.charAt(i) match {
        case '*' => sb.append(".*"); i += 1
        case '?' => sb.append('.'); i += 1
        case '[' =>
          val close = {
            // leading ] (possibly after ^) is a literal member
            var j = i + 1
            if (j < glob.length && glob.charAt(j) == '^') j += 1
            if (j < glob.length && glob.charAt(j) == ']') j += 1
            while (j < glob.length && glob.charAt(j) != ']') j += 1
            j
          }
          if (close >= glob.length)
            throw new UnsupportedSqlFeatureException("unterminated GLOB class",
              s"'$glob' has an unclosed [ — SQLite would match nothing; " +
                "close the class or escape the bracket")
          sb.append('[')
          var j = i + 1
          if (j < glob.length && glob.charAt(j) == '^') { sb.append('^'); j += 1 }
          while (j < close) {
            val c = glob.charAt(j)
            if (c == '\\' || c == '[' || c == ']' || c == '&' || c == '^')
              sb.append('\\')
            sb.append(c)
            j += 1
          }
          sb.append(']')
          i = close + 1
        case c =>
          if ("\\.[]{}()*+?^$|".indexOf(c) >= 0) sb.append('\\')
          sb.append(c)
          i += 1
      }
    }
    sb.append('$').toString
  }

  /** `expr GLOB 'pattern'` → `expr LIKE '<translated>'`. Only the
    * literal-pattern form is rewritten; a GLOB token NOT followed by a
    * string literal is left untouched — it is usually an identifier
    * named `glob` (legal SQLite), and rewriting or rejecting it would
    * break queries that never use the operator. A genuine
    * computed-pattern GLOB therefore surfaces as Spark's own parse
    * error rather than a silent mistranslation.
    */
  private[pipeline] def rewriteGlob(sql: String): String = {
    def loop(s: String, from: Int): String = {
      "(?i)\\bGLOB\\b".r.findFirstMatchIn(
        maskStrings(s).substring(from)) match {
        case None => s
        case Some(mm) =>
          val kwStart = from + mm.start
          val kwEnd = from + mm.end
          val afterKw = s.indexWhere(!_.isWhitespace, kwEnd)
          if (afterKw < 0 || s.charAt(afterKw) != '\'')
            loop(s, kwEnd) // identifier named glob — skip past it
          else {
            val (glob, next) = readLiteral(s, afterKw)
            // plain wildcards stay LIKE (codegen'd StartsWith/Contains
            // specializations); character classes need RLIKE
            val op =
              if (glob.exists(c => c == '[' || c == ']'))
                "RLIKE " + sqliteLiteral(globToRegex(glob))
              else "LIKE " + sqliteLiteral(globToLike(glob))
            val replaced = s.substring(0, kwStart) + op
            loop(replaced + s.substring(next), replaced.length)
          }
      }
    }
    loop(sql, 0)
  }

  // ---- strftime -----------------------------------------------------------

  /** SQLite strftime format → Spark/Java datetime pattern.
    * Covers the directives SQLite documents; unknown directives error
    * rather than silently passing through.
    */
  def strftimeToSpark(fmt: String): String = {
    val sb = new StringBuilder
    var i = 0
    while (i < fmt.length) {
      val c = fmt.charAt(i)
      if (c == '%' && i + 1 < fmt.length) {
        fmt.charAt(i + 1) match {
          case 'Y' => sb.append("yyyy")
          case 'm' => sb.append("MM")
          case 'd' => sb.append("dd")
          case 'H' => sb.append("HH")
          case 'M' => sb.append("mm")
          case 'S' => sb.append("ss")
          case 'j' => sb.append("DDD")
          case 'W' => sb.append("ww")
          case '%' => sb.append('%')
          case other => throw new UnsupportedSqlFeatureException(
            s"strftime directive %$other",
            "no Spark date_format mapping exists for it")
        }
        i += 2
      } else if (c.isLetter) {
        // quote literal letters so date_format doesn't interpret them —
        // as ONE quoted run per stretch of letters: quoting each letter
        // separately would put '' (an escaped literal apostrophe in
        // Java datetime patterns) between adjacent letters
        val start = i
        while (i < fmt.length && fmt.charAt(i).isLetter) i += 1
        sb.append('\'').append(fmt.substring(start, i)).append('\'')
      } else {
        sb.append(c)
        i += 1
      }
    }
    sb.toString
  }

  /** The session function `strftime(fmt, time, mod, …)`, from resolved
    * arguments: `date_format(<time with the modifiers applied left to
    * right>, <fmt as a Spark pattern>)`. The format and each modifier
    * must be string literals.
    */
  private[pipeline] def strftime(args: Seq[Expression]): Expression = {
    def stringLiteral(e: Expression): Option[String] = e match {
      case Literal(v: UTF8String, _: StringType) => Some(v.toString)
      case _ => None
    }
    if (args.length < 2) throw new IllegalArgumentException(
      s"strftime takes a format and a time value, got ${args.length} argument(s)")
    val fmt = stringLiteral(args.head).getOrElse(throw new UnsupportedSqlFeatureException(
      "strftime with non-literal format",
      "only strftime('<literal>', expr, …) can be translated"))
    val time = args.drop(2).foldLeft(args(1)) { (t, mod) =>
      applyTimeModifier(t, stringLiteral(mod).getOrElse(
        if (mod.foldable && !mod.isInstanceOf[Literal])
          throw new UnsupportedSqlFeatureException("strftime with a computed modifier",
            s"modifier '${mod.sql}' must be a plain string literal")
        else throw new UnsupportedSqlFeatureException("strftime with a non-literal modifier",
          s"modifier '${mod.sql}' must be a string literal")))
    }
    DateFormatClass(time, Literal(strftimeToSpark(fmt)))
  }

  /** One SQLite datetime modifier applied to a time expression — the
    * left-to-right semantics of SQLite's `strftime(fmt, time, mod, …)`.
    * Supported: signed `±N day/hour/minute/second` arithmetic →
    * `t ± INTERVAL N UNIT`; `±N month/year` with SQLite's overflow past
    * a month's end; `start of day/month/year` →
    * `date_trunc`; `utc` → no-op (the engine pins the session to UTC,
    * so times already ARE UTC); `weekday N`; `unixepoch`. Still
    * unsupported, loudly: `localtime` (needs a client zone the engine
    * doesn't model), the `julianday`/`subsec` value reinterpretations,
    * and fractional offsets.
    */
  private def applyTimeModifier(t: Expression, mod: String): Expression = {
    val Offset = """([+-])(\d+) (day|hour|minute|second|month|year)s?""".r
    val StartOf = """start of (day|month|year)""".r
    val Weekday = """weekday ([0-6])""".r
    mod.trim.toLowerCase match {
      // SQLite moves the month and keeps the day, so a day past the
      // target month's end overflows into the next month ('2024-01-31'
      // '+1 month' is 2024-03-02); a Spark month interval would clamp
      // it to the 29th. Step back to the 1st, move the months, then add
      // the days back — the time of day rides along untouched.
      case Offset(sign, n, unit @ ("month" | "year")) =>
        val i = interval(n.toLong, unit)
        val pastFirst = new MakeInterval(Literal(0), Literal(0), Literal(0),
          Subtract(DayOfMonth(t), Literal(1)), Literal(0), Literal(0), Literal(0))
        val first = Subtract(t, pastFirst)
        Add(if (sign == "+") Add(first, i) else Subtract(first, i), pastFirst)
      case Offset(sign, n, unit) =>
        val i = interval(n.toLong, unit)
        if (sign == "+") Add(t, i) else Subtract(t, i)
      case StartOf(unit) => TruncTimestamp(Literal(unit.toUpperCase), t)
      case "utc" => t
      // SQLite: advance to the next date where weekday = N (0 =
      // Sunday), no change if already there. Spark dayofweek is
      // 1-based Sunday, so the forward distance is (N − (dow−1)) mod 7
      // days — added as an interval to preserve the time of day
      // exactly as SQLite does.
      case Weekday(n) =>
        def lit(v: Int) = Literal(v)
        val days = Remainder(Add(Remainder(
          Subtract(lit(n.toInt), Subtract(DayOfWeek(t), lit(1))), lit(7)), lit(7)), lit(7))
        Add(t, new MakeInterval(lit(0), lit(0), lit(0), days, lit(0), lit(0), lit(0)))
      // SQLite: reinterpret the raw value as unix epoch SECONDS
      // (only meaningful as the first modifier over a numeric value;
      // SQLite itself ignores the prior interpretation, so applying
      // it to the original expression is the faithful reading).
      case "unixepoch" => SecondsToTimestamp(t)
      case other => throw new UnsupportedSqlFeatureException(
        s"strftime modifier '$other'",
        "supported modifiers: '±N day/hour/minute/second/month/year', " +
          "'start of day/month/year', 'utc', 'weekday 0-6', 'unixepoch'")
    }
  }

  /** The literal Spark's parser makes of `INTERVAL n <unit>`. */
  private def interval(n: Long, unit: String): Literal = unit match {
    case "year" => Literal(Math.toIntExact(Math.multiplyExact(n, 12L)), YM(YM.YEAR))
    case "month" => Literal(Math.toIntExact(n), YM(YM.MONTH))
    case "day" => Literal(Math.multiplyExact(n, MICROS_PER_DAY), DT(DT.DAY))
    case "hour" => Literal(Math.multiplyExact(n, MICROS_PER_HOUR), DT(DT.HOUR))
    case "minute" => Literal(Math.multiplyExact(n, MICROS_PER_MINUTE), DT(DT.MINUTE))
    case "second" => Literal(Math.multiplyExact(n, MICROS_PER_SECOND), DT(DT.SECOND))
  }

  // ---- window frames: the inline OVER (…) walk ------------------------------

  /** Paren depth before each character, counting only parens OUTSIDE
    * quoted spans (computed over a [[maskStrings]] image).
    */
  private def parenDepths(masked: String): Array[Int] = {
    val depth = new Array[Int](masked.length)
    var d = 0
    var i = 0
    while (i < masked.length) {
      depth(i) = d
      if (masked.charAt(i) == '(') d += 1
      else if (masked.charAt(i) == ')') d -= 1
      i += 1
    }
    depth
  }

  /** One inline window spec: `OVER (` matched at `over`, its parens at
    * `open` and `close`, and `span` the masked text between them.
    */
  private final case class WindowSpec(over: Regex.Match, open: Int, close: Int, span: String) {
    private lazy val depth = parenDepths(span)

    /** First match of `pat` at the spec's own top level — depth 0
      * within the span, so an ORDER BY inside a nested call doesn't
      * count.
      */
    def top(pat: String): Option[Regex.Match] =
      ("(?i)" + pat).r.findAllMatchIn(span).find(mm => depth(mm.start) == 0)
  }

  private final case class Edit(start: Int, end: Int, text: String)

  /** Rewrites the inline `OVER (…)` specs of `sql` (`masked` is its
    * [[maskStrings]] image): `edit` maps each spec to at most one edit
    * of `sql`, and the edits are spliced in.
    *
    *   - Overlapping edits mean a rewritten window inside another one's
    *     text (an excluded aggregate whose ARGUMENT holds its own OVER …
    *     EXCLUDE); splicing both would emit corrupted SQL, so they are
    *     rejected.
    *   - A `frame` match outside every inline spec can only sit in a
    *     named WINDOW clause, which this walk never visits; left alone
    *     it would surface as a raw Catalyst parse error, so it gets the
    *     friendly one.
    */
  private def editWindows(sql: String, masked: String, name: String, feature: String,
      frame: Regex)(edit: WindowSpec => Option[Edit]): String = {
    val outside = masked.toCharArray
    val edits = "(?i)\\bOVER\\s*\\(".r.findAllMatchIn(masked).flatMap { m =>
      val open = m.end - 1
      var i = open + 1
      var d = 1
      while (i < masked.length && d > 0) {
        if (masked.charAt(i) == '(') d += 1
        else if (masked.charAt(i) == ')') d -= 1
        i += 1
      }
      if (d != 0) throw new IllegalArgumentException(
        s"unbalanced window specification in: $sql")
      java.util.Arrays.fill(outside, open + 1, i - 1, ' ')
      edit(WindowSpec(m, open, i - 1, masked.substring(open + 1, i - 1)))
    }.toSeq.sortBy(_.start)
    if (frame.findFirstIn(new String(outside)).isDefined)
      throw new UnsupportedSqlFeatureException(
        s"$feature in a named WINDOW clause",
        s"the $name emulation rewrites frames written inline in an " +
          "OVER (...) spec only; move the frame from the WINDOW " +
          "definition into each OVER clause")
    edits.sliding(2).foreach { w =>
      if (w.size == 2 && w(1).start < w(0).end)
        throw new UnsupportedSqlFeatureException(
          s"nested $name windows",
          s"a window with $name inside another rewritten window cannot " +
            "be rewritten in place; compute the inner window in a " +
            "subquery first")
    }
    edits.reverse.foldLeft(sql) { (s, e) =>
      s.substring(0, e.start) + e.text + s.substring(e.end)
    }
  }

  /** Window-frame EXCLUDE clause emulation (SQLite window grammar,
    * sqlite.org/windowfunctions.html §2.2; Spark has no frame
    * exclusion): for DECOMPOSABLE aggregates the excluded result is
    * arithmetic over two windows — the original frame minus the
    * exclusion, where the exclusion is built from the current row's
    * value and/or the PEER-GROUP window (`RANGE BETWEEN CURRENT ROW
    * AND CURRENT ROW` over the same partition/order):
    *
    *   - `EXCLUDE CURRENT ROW`: subtract the row's own contribution;
    *   - `EXCLUDE GROUP`:      subtract the peer window's aggregate;
    *   - `EXCLUDE TIES`:       subtract peers, add the row back;
    *   - `EXCLUDE NO OTHERS`:  a no-op — the clause is dropped.
    *
    * SUM wraps the subtraction in a CASE so an exclusion that empties
    * the frame of non-null values yields NULL (the SQLite/DuckDB
    * semantic); COUNT yields 0 by the same arithmetic naturally; AVG
    * is the SUM/COUNT composition with one final IEEE division.
    * Exact for integer/decimal columns (integer frame sums subtract
    * losslessly); float columns can differ from a native-EXCLUDE
    * engine by summation-order ULPs.
    *
    * MIN/MAX are not decomposable by subtraction (removing one value
    * can expose any earlier one), but they MERGE: for `EXCLUDE CURRENT
    * ROW` on an explicit literal-bounded ROWS frame, the frame splits
    * into the two contiguous ROWS sub-frames strictly before and
    * strictly after the current row, and LEAST/GREATEST of the two
    * sub-aggregates (null-skipping; NULL only when both sub-frames are
    * empty) is the exact excluded result. MEDIAN rides the same split
    * but merges the sub-frame VALUES instead of sub-aggregates:
    * collect_list over the two ROWS sub-frames, concatenated and
    * sorted, with the exact interpolated median of the result
    * (quantile_cont(0.5): NULLs skipped, even counts average the two
    * middles, DOUBLE, NULL on empty) — still windowed, per-row state
    * bounded by the frame width. Positional splitting needs a ROWS
    * frame, and only EXCLUDE CURRENT ROW has a statically known
    * position — GROUP/TIES depend on runtime peer locations.
    *
    * Split-family aggregates with GROUP/TIES, split-family on RANGE or
    * default frames (value distances cannot be split positionally),
    * other order statistics (arbitrary percentiles — no split rewrite
    * implemented), DISTINCT aggregates, and specs without ORDER BY
    * (every row is a peer — restructure instead) all raise the friendly
    * error. EXCLUDE on a GROUPS frame is left in place for
    * [[rewriteGroups]]' own, more specific rejection.
    *
    * Containment guards (the arithmetic is only exact when the frame
    * provably contains what it subtracts): frames whose literal bounds
    * never span the current row (`ROWS BETWEEN 3 PRECEDING AND 1
    * PRECEDING`), non-literal bounds, GROUP/TIES on a BOUNDED ROWS
    * frame (tied peers can lie outside it and ties are not statically
    * detectable — RANGE/default/whole-partition frames are exempt, as
    * peers always sit at value-distance 0), and nested EXCLUDE windows
    * (overlapping rewrite spans) are all rejected rather than
    * rewritten approximately.
    */
  private[pipeline] def rewriteExclude(sql: String): String = {
    val masked = maskStrings(sql)
    if ("(?i)\\bEXCLUDE\\b".r.findFirstIn(masked).isEmpty) return sql
    editWindows(sql, masked, "EXCLUDE", "EXCLUDE", ("(?i)" + ExcludeKinds).r) { spec =>
      val (open, close, span) = (spec.open, spec.close, spec.span)
      if (spec.top("\\bEXCLUDE\\b").isEmpty || spec.top("\\bGROUPS\\b").isDefined) None
      else {
        val exM = spec.top(ExcludeKinds)
          .getOrElse(throw new UnsupportedSqlFeatureException(
            "window frame EXCLUDE clause",
            s"cannot parse the exclusion in '${sql.substring(open + 1, close)}'"))
        if (span.substring(exM.end).trim.nonEmpty)
          throw new UnsupportedSqlFeatureException(
            "window frame EXCLUDE clause",
            "EXCLUDE must be the final clause of the frame specification")
        val kind = exM.group(1).toUpperCase.replaceAll("\\s+", " ")
        if (kind == "NO OTHERS") Some(Edit(open + 1 + exM.start, open + 1 + exM.end, ""))
        else {
          if (spec.top("\\bORDER\\s+BY\\b").isEmpty)
            throw new UnsupportedSqlFeatureException(
              s"EXCLUDE $kind without ORDER BY",
              "every partition row is a peer of every other; aggregate " +
                "without the window or add an ORDER BY")
          // the aggregate call immediately before OVER
          var p = spec.over.start - 1
          while (p >= 0 && Character.isWhitespace(masked.charAt(p))) p -= 1
          if (p < 0 || masked.charAt(p) != ')')
            throw new UnsupportedSqlFeatureException(
              s"EXCLUDE $kind",
              "the emulation rewrites '<aggregate>(<arg>) OVER (...)' " +
                "shapes; name the aggregate call directly before OVER")
          val argClose = p
          var d2 = 1
          p -= 1
          while (p >= 0 && d2 > 0) {
            if (masked.charAt(p) == ')') d2 += 1
            else if (masked.charAt(p) == '(') d2 -= 1
            p -= 1
          }
          val argOpen = p + 1
          var idStart = argOpen
          while (idStart > 0 && (Character.isLetterOrDigit(masked.charAt(idStart - 1))
            || masked.charAt(idStart - 1) == '_')) idStart -= 1
          val fn = sql.substring(idStart, argOpen).trim.toUpperCase
          val arg = sql.substring(argOpen + 1, argClose).trim
          if ("(?i)^DISTINCT\\b".r.findFirstIn(arg).isDefined)
            throw new UnsupportedSqlFeatureException(
              s"EXCLUDE $kind with DISTINCT",
              "distinct windowed aggregates do not decompose; deduplicate " +
                "in a subquery first")
          val isMedian = fn == "MEDIAN"
          val isSplitFn = fn == "MIN" || fn == "MAX" || isMedian
          if (fn != "SUM" && fn != "COUNT" && fn != "AVG" && !isSplitFn)
            throw new UnsupportedSqlFeatureException(
              s"EXCLUDE $kind with $fn",
              "SUM/COUNT/AVG decompose into frame-minus-exclusion window " +
                "arithmetic and MIN/MAX/MEDIAN split the frame around " +
                "the current row; other aggregates (arbitrary " +
                "percentiles, mode) do neither — restructure with a " +
                "self-join")
          if (isSplitFn && kind != "CURRENT ROW")
            throw new UnsupportedSqlFeatureException(
              s"EXCLUDE $kind with $fn",
              s"$fn is emulated by splitting the ROWS frame around " +
                "the current row, which only EXCLUDE CURRENT ROW " +
                "permits (GROUP/TIES exclusions depend on runtime peer " +
                "positions); restructure with a self-join")
          val star = arg == "*"
          if (star && fn != "COUNT")
            throw new UnsupportedSqlFeatureException(
              s"EXCLUDE $kind with $fn(*)", "only COUNT takes *")
          // Containment guard (translate-exactly-or-throw): the
          // frame-minus-exclusion arithmetic subtracts the exclusion as
          // if the frame wholly contained it, so it is only exact when
          // that provably holds. Every exclusion kind subtracts values
          // anchored at the current row, so the literal bounds must
          // span it; non-literal bounds cannot be verified statically.
          val fM = spec.top("\\b(ROWS|RANGE)\\b")
          val bounds = fM.map { fm =>
            val body = span.substring(fm.end, exM.start).trim
            val Btw = "(?is)^BETWEEN\\s+(.+?)\\s+AND\\s+(.+)$".r
            val (startB, endB) = body match {
              case Btw(s0, e0) => (s0, e0)
              case b => (b, "CURRENT ROW")
            }
            def rel(bound: String): Int = {
              val b = bound.trim.replaceAll("\\s+", " ").toUpperCase
              val Pre = "^(\\d+) PRECEDING$".r
              val Fol = "^(\\d+) FOLLOWING$".r
              b match {
                case "UNBOUNDED PRECEDING" => Int.MinValue
                case "UNBOUNDED FOLLOWING" => Int.MaxValue
                case "CURRENT ROW" => 0
                case Pre(n) => if (BigInt(n) == 0) 0 else -1
                case Fol(n) => if (BigInt(n) == 0) 0 else 1
                case _ => throw new UnsupportedSqlFeatureException(
                  s"EXCLUDE $kind with non-literal frame bound " +
                    s"'${bound.trim}'",
                  "whether the frame contains the exclusion cannot be " +
                    "verified statically; use literal bounds or remove " +
                    "the EXCLUDE clause")
              }
            }
            val (startRel, endRel) = (rel(startB), rel(endB))
            if (startRel > 0 || endRel < 0)
              throw new UnsupportedSqlFeatureException(
                s"EXCLUDE $kind on a frame that never contains the " +
                  "current row",
                s"the frame '$body' excludes the current row" +
                  (if (kind == "TIES") " (which TIES re-adds)" else "") +
                  ", so subtracting its value corrupts the aggregate; " +
                  "restructure with a self-join")
            // GROUP/TIES subtract the WHOLE peer group, so the frame
            // must contain every peer: always true for RANGE frames
            // spanning the current row (peers sit at value-distance 0)
            // and for whole-partition ROWS frames, but any bounded ROWS
            // frame can cut tied peers off — and ties are not
            // statically detectable — so those are rejected
            if ((kind == "GROUP" || kind == "TIES") &&
                fm.group(1).equalsIgnoreCase("ROWS") &&
                !(startRel == Int.MinValue && endRel == Int.MaxValue))
              throw new UnsupportedSqlFeatureException(
                s"EXCLUDE $kind on a bounded ROWS frame",
                "tied peers can lie outside a bounded ROWS frame and " +
                  "ties are not statically detectable, so subtracting " +
                  "the full peer group is not exact; use a RANGE (or " +
                  "default, or ROWS BETWEEN UNBOUNDED PRECEDING AND " +
                  "UNBOUNDED FOLLOWING) frame, or restructure with a " +
                  "self-join")
            (fm, startB.trim, endB.trim, startRel, endRel)
          }
          val replacement = if (isSplitFn) {
            // frame-splitting path: the aggregate over the frame minus
            // the current row, from the two ROWS sub-frames strictly
            // before and strictly after it
            val (fm, startB, endB, startRel, endRel) = bounds.getOrElse(
              throw new UnsupportedSqlFeatureException(
                s"EXCLUDE CURRENT ROW with $fn on the default frame",
                "the default RANGE frame cannot be split at the current " +
                  "row's position; write an explicit ROWS frame"))
            if (!fm.group(1).equalsIgnoreCase("ROWS"))
              throw new UnsupportedSqlFeatureException(
                s"EXCLUDE CURRENT ROW with $fn on a RANGE frame",
                "RANGE bounds are value distances, so the frame cannot " +
                  "be split at the current row's position; use a ROWS " +
                  "frame")
            val prefix = sql.substring(open + 1, open + 1 + fm.start).trim
            def sub(frame: String) = s"($fn($arg) OVER ($prefix $frame))"
            val leftF =
              if (startRel < 0) Some(s"ROWS BETWEEN $startB AND 1 PRECEDING")
              else None
            val rightF =
              if (endRel > 0) Some(s"ROWS BETWEEN 1 FOLLOWING AND $endB")
              else None
            if (isMedian) {
              // collect_list skips NULLs like the aggregate; identical
              // window specs collapse to one Window operator, so the
              // repeated `arr` text is evaluated once per distinct
              // sub-frame
              def lst(frame: String) =
                s"coalesce((collect_list($arg) OVER ($prefix $frame)), array())"
              val arr = (leftF, rightF) match {
                case (Some(lf), Some(rf)) => s"concat(${lst(lf)}, ${lst(rf)})"
                case (Some(lf), None) => lst(lf)
                case (None, Some(rf)) => lst(rf)
                case (None, None) => "array()"
              }
              // element_at takes an INT ordinal; DIV yields BIGINT
              def at(idx: String) =
                s"element_at(array_sort($arr), CAST($idx AS INT))"
              s"(CASE WHEN size($arr) = 0 THEN CAST(NULL AS DOUBLE) " +
                s"WHEN size($arr) % 2 = 1 THEN " +
                s"CAST(${at(s"(size($arr) + 1) DIV 2")} AS DOUBLE) " +
                s"ELSE (CAST(${at(s"size($arr) DIV 2")} AS DOUBLE) + " +
                s"CAST(${at(s"size($arr) DIV 2 + 1")} AS DOUBLE)) / 2 END)"
            } else {
              val combine = if (fn == "MIN") "LEAST" else "GREATEST"
              (leftF, rightF) match {
                case (Some(lf), Some(rf)) => s"$combine(${sub(lf)}, ${sub(rf)})"
                case (Some(lf), None) => sub(lf)
                case (None, Some(rf)) => sub(rf)
                // frame = exactly the current row, which is excluded:
                // NULL with the argument's type
                case (None, None) => s"(CASE WHEN 1=0 THEN ($arg) END)"
              }
            }
          } else {
            // frame spec without the EXCLUDE tail; peers spec = partition
            // + order only, peer-group RANGE frame
            val frameSpec = sql.substring(open + 1, open + 1 + exM.start).trim
            val fIdx = fM.map(_.start).getOrElse(exM.start)
            val peersSpec = sql.substring(open + 1, open + 1 + math.min(fIdx, exM.start)).trim +
              " RANGE BETWEEN CURRENT ROW AND CURRENT ROW"
            val F = s"OVER ($frameSpec)"
            val P = s"OVER ($peersSpec)"
            val curCnt =
              if (star) "1" else s"(CASE WHEN ($arg) IS NULL THEN 0 ELSE 1 END)"
            val cntArg = if (star) "*" else arg
            val (sumX, cntX) = kind match {
              case "CURRENT ROW" =>
                (s"COALESCE(($arg), 0)", curCnt)
              case "GROUP" =>
                (s"COALESCE((SUM($arg) $P), 0)", s"(COUNT($cntArg) $P)")
              case "TIES" =>
                (s"(COALESCE((SUM($arg) $P), 0) - COALESCE(($arg), 0))",
                  s"((COUNT($cntArg) $P) - $curCnt)")
            }
            fn match {
              case "COUNT" => s"((COUNT($cntArg) $F) - $cntX)"
              case "SUM" =>
                s"(CASE WHEN (COUNT($arg) $F) - $cntX = 0 THEN NULL " +
                  s"ELSE (SUM($arg) $F) - $sumX END)"
              case "AVG" =>
                s"(CASE WHEN (COUNT($arg) $F) - $cntX = 0 THEN NULL " +
                  s"ELSE CAST((SUM($arg) $F) - $sumX AS DOUBLE) / " +
                  s"((COUNT($arg) $F) - $cntX) END)"
            }
          }
          Some(Edit(idStart, close + 1, replacement))
        }
      }
    }
  }

  /** One parsed GROUPS frame bound: canonical SQL text + whether it is
    * a numeric `n PRECEDING/FOLLOWING` (the shapes needing dense_rank).
    */
  private case class Bound(text: String, numeric: Boolean)

  /** Parse the frame bound at the start of `s`; returns the bound and
    * the remainder of `s`, or None if `s` starts with no literal bound.
    */
  private def parseBound(s: String): Option[(Bound, String)] = {
    val t = s.dropWhile(_.isWhitespace)
    "(?i)^(UNBOUNDED\\s+(PRECEDING|FOLLOWING)|CURRENT\\s+ROW|(\\d+)\\s+(PRECEDING|FOLLOWING))".r
      .findFirstMatchIn(t)
      .map { m =>
        val canonical = m.group(1).split("\\s+").mkString(" ").toUpperCase
        (Bound(canonical, m.group(3) != null), t.substring(m.end))
      }
  }

  /** GROUPS window frames (SQLite 3.28+): frames counting PEER GROUPS
    * of the ORDER BY key instead of rows. Spark implements ROWS and
    * RANGE only, but GROUPS is expressible:
    *
    *   - bounds using only UNBOUNDED / CURRENT ROW: identical to the
    *     same RANGE frame (both always cover whole peer groups), so the
    *     GROUPS keyword simply becomes RANGE — any query shape;
    *   - numeric bounds (`n PRECEDING/FOLLOWING`): peer-group distance
    *     equals the difference of `dense_rank()` over the same
    *     partition/order, so the frame becomes RANGE with the same
    *     bounds over a hoisted rank column. Spark cannot nest window
    *     functions, so the rank is computed in an injected
    *     `FROM (SELECT *, DENSE_RANK() OVER (…) AS __graft_grankN …)`
    *     subquery — supported when the GROUPS window sits in the
    *     query's outermost SELECT list with no DISTINCT / GROUP BY /
    *     HAVING / set operator at that level (friendly error
    *     otherwise). ORDER BY direction lives inside the rank
    *     definition, so DESC and multi-key orders translate unchanged.
    *
    * EXCLUDE clauses and non-literal bounds are genuinely
    * untranslatable and always rejected.
    */
  private[pipeline] def rewriteGroups(sql: String): String = {
    val masked = maskStrings(sql)
    if (GroupsIntentPat.findFirstIn(masked).isEmpty) return sql
    val depth = parenDepths(masked)
    // (partition-by text, order-by text) -> hoisted rank alias
    val grankDefs = scala.collection.mutable.LinkedHashMap.empty[(String, String), String]

    val edited = editWindows(sql, masked, "GROUPS", "GROUPS frame", GroupsIntentPat) { spec =>
      val (open, close, span) = (spec.open, spec.close, spec.span)
      if (GroupsIntentPat.findFirstIn(span).isEmpty) None
      else {
        if ("(?i)\\bEXCLUDE\\b".r.findFirstIn(span).isDefined)
          throw new UnsupportedSqlFeatureException(
            "GROUPS frame EXCLUDE clause",
            "Spark has no frame exclusion; remove the EXCLUDE clause")
        def topIdx(pat: String): Int = spec.top(pat).map(_.start).getOrElse(-1)
        val gIdx = topIdx("\\bGROUPS\\b")
        val oIdx = topIdx("\\bORDER\\s+BY\\b")
        val pIdx = topIdx("\\bPARTITION\\s+BY\\b")
        if (gIdx < 0 || oIdx < 0 || oIdx > gIdx)
          throw new UnsupportedSqlFeatureException("GROUPS frame",
            s"cannot parse the window specification '${sql.substring(open + 1, close)}'" +
              " — GROUPS requires ORDER BY in the same window")
        // a leading identifier before the first clause keyword is a
        // named base window (`OVER (w ORDER BY … GROUPS …)`). Spark's
        // window grammar cannot extend a named window inside parens,
        // and the numeric-bound rebuild would silently DROP the base
        // window's inherited partitioning — wrong results, not a parse
        // error — so every GROUPS spec over a base window is rejected.
        val firstClause = Seq(pIdx, oIdx, gIdx).filter(_ >= 0).min
        if (span.substring(0, firstClause).trim.nonEmpty)
          throw new UnsupportedSqlFeatureException(
            "GROUPS frame over a named base window",
            "Spark cannot extend a named WINDOW inside an OVER (...) spec; " +
              "inline the base window's PARTITION BY / ORDER BY clauses " +
              "into the OVER clause")
        // parse the frame: GROUPS [BETWEEN b1 AND] b2 — must consume the
        // whole remaining spec, else the bound is an expression
        val frameText = span.substring(gIdx + "GROUPS".length)
        val parsed = "(?i)^\\s*BETWEEN\\b".r.findFirstMatchIn(frameText) match {
          case Some(bm) =>
            for {
              (b1, rest1) <- parseBound(frameText.substring(bm.end))
              rest2 <- "(?i)^\\s*AND\\b".r.findFirstMatchIn(rest1)
                .map(am => rest1.substring(am.end))
              (b2, rest3) <- parseBound(rest2)
              if rest3.trim.isEmpty
            } yield (b1, b2)
          case None =>
            parseBound(frameText).collect {
              case (b1, rest) if rest.trim.isEmpty => (b1, Bound("CURRENT ROW", numeric = false))
            }
        }
        val (b1, b2) = parsed.getOrElse(throw new UnsupportedSqlFeatureException(
          "GROUPS frame with non-literal bounds",
          "only UNBOUNDED/CURRENT ROW/<integer> PRECEDING|FOLLOWING bounds translate"))
        if (!b1.numeric && !b2.numeric) {
          // whole-peer-group bounds: GROUPS ≡ RANGE verbatim
          Some(Edit(open + 1 + gIdx, open + 1 + gIdx + "GROUPS".length, "RANGE"))
        } else {
          if (depth(spec.over.start) != 0)
            throw new UnsupportedSqlFeatureException(
              "GROUPS frame with numeric bounds inside a subquery",
              "the dense_rank hoist supports the outermost SELECT only; " +
                "compute the rank in the subquery manually")
          val partText = if (pIdx >= 0) sql.substring(open + 1 + pIdx, open + 1 + oIdx).trim else ""
          val orderText = sql.substring(open + 1 + oIdx, open + 1 + gIdx).trim
          val alias = grankDefs.getOrElseUpdate((partText, orderText),
            s"__graft_grank${grankDefs.size}")
          val rankSpec = (if (partText.nonEmpty) partText + " " else "") +
            s"ORDER BY $alias RANGE BETWEEN ${b1.text} AND ${b2.text}"
          Some(Edit(open + 1, close, rankSpec))
        }
      }
    }
    if (grankDefs.isEmpty) return edited

    // hoist the rank columns: wrap the outermost FROM in a subquery
    val m2 = maskStrings(edited)
    val d2 = parenDepths(m2)
    val firstUse = edited.indexOf("__graft_grank")
    val sel = "(?i)\\bSELECT\\b".r.findAllMatchIn(m2)
      .filter(mm => d2(mm.start) == 0 && mm.start < firstUse).toSeq.lastOption
      .getOrElse(throw new UnsupportedSqlFeatureException("GROUPS frame",
        "no enclosing SELECT found for the window"))
    if ("(?i)^\\s*DISTINCT\\b".r.findFirstIn(m2.substring(sel.end)).isDefined)
      throw new UnsupportedSqlFeatureException(
        "GROUPS frame with SELECT DISTINCT",
        "hoisting dense_rank under DISTINCT changes semantics; " +
          "deduplicate in a subquery first")
    val fromM = "(?i)\\bFROM\\b".r.findAllMatchIn(m2)
      .find(mm => d2(mm.start) == 0 && mm.start > sel.end)
      .getOrElse(throw new UnsupportedSqlFeatureException("GROUPS frame",
        "the windowed SELECT has no FROM clause to hoist the rank into"))
    val tailMatches = "(?i)\\b(GROUP\\s+BY|HAVING|UNION|INTERSECT|EXCEPT|WINDOW|QUALIFY|ORDER\\s+BY|LIMIT|OFFSET)\\b".r
      .findAllMatchIn(m2).filter(mm => d2(mm.start) == 0 && mm.start > fromM.end).toSeq
    tailMatches
      .find(mm => !"(?i)(ORDER\\s+BY|LIMIT|OFFSET)".r.pattern.matcher(mm.group(1)).matches())
      .foreach { bad =>
        throw new UnsupportedSqlFeatureException(
          s"GROUPS frame combined with ${bad.group(1).toUpperCase}",
          "the dense_rank hoist supports plain SELECT … FROM … WHERE " +
            "shapes; restructure with an explicit subquery")
      }
    val trailingStart = tailMatches.headOption.map(_.start).getOrElse(edited.length)
    val fromPart = edited.substring(fromM.end, trailingStart).trim
    // Table-qualified references in the outer SELECT list (or in a
    // trailing ORDER BY) stop resolving once the FROM clause is wrapped
    // in the rank subquery. When the FROM is a single plain relation
    // the subquery inherits its visible name so `t.x` keeps resolving;
    // any other FROM shape with qualified outer references gets the
    // friendly error instead of Catalyst's unresolved-column failure.
    val whereIdx = "(?i)\\bWHERE\\b".r.findAllMatchIn(m2)
      .find(mm => d2(mm.start) == 0 && mm.start > fromM.end && mm.start < trailingStart)
      .map(_.start).getOrElse(trailingStart)
    val relationText = edited.substring(fromM.end, whereIdx).trim
    val SimpleRel =
      "(?i)^([A-Za-z_][A-Za-z0-9_]*)(?:\\s+(?:AS\\s+)?([A-Za-z_][A-Za-z0-9_]*))?$".r
    val hoistAlias = relationText match {
      case SimpleRel(tab, null) => tab
      case SimpleRel(_, alias) => alias
      case _ =>
        val outer = m2.substring(sel.end, fromM.start) + m2.substring(trailingStart)
        if ("\\b[A-Za-z_][A-Za-z0-9_]*\\s*\\.\\s*[A-Za-z_]".r.findFirstIn(outer).isDefined)
          throw new UnsupportedSqlFeatureException(
            "GROUPS frame with table-qualified outer references",
            "the dense_rank hoist renames the FROM relation; drop the " +
              "qualifiers from the SELECT list / ORDER BY, or compute " +
              "the rank in an explicit subquery")
        "__graft_groups"
    }
    val defs = grankDefs.map { case ((p, o), alias) =>
      val spec = (if (p.nonEmpty) p + " " else "") + o
      s"DENSE_RANK() OVER ($spec) AS $alias"
    }.mkString(", ")
    edited.substring(0, fromM.start) +
      s"FROM (SELECT *, $defs FROM $fromPart) $hoistAlias " +
      edited.substring(trailingStart)
  }
}
