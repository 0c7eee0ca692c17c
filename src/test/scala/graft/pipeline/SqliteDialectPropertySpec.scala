package graft.pipeline

import scala.util.Try

import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.SparkSpec

/** The dialect entry point against the text-only path it replaced: on
  * generated SQLite queries whose literals, identifiers and GLOB
  * patterns hold quotes of all three kinds, doubled quotes, backslashes,
  * comment markers and the `GLOB` / `strftime(` keywords, both give the
  * same columns and rows.
  */
class SqliteDialectPropertySpec extends SparkSpec {

  /** The former text path, kept as the reference: double-quoted
    * identifiers became backtick identifiers, `strftime(…)` became
    * `date_format(…)` text, and every literal was re-escaped for Spark's
    * lexer (`''` → `\'`, `\` → `\\`). GLOB and comment handling are
    * copies of the same era, so the reference shares no scanner with
    * [[SqliteDialect]].
    */
  private object TextPath {
    def rewrite(sql: String): String =
      transcodeLiterals(rewriteStrftime(rewriteGlob(rewriteDoubleQuoted(stripComments(sql)))))

    def stripComments(sql: String): String = {
      val sb = new StringBuilder
      var i = 0
      while (i < sql.length) {
        val c = sql.charAt(i)
        if (c == '\'' || c == '"' || c == '`') {
          val close = sql.indexOf(c.toInt, i + 1)
          val end = if (close < 0) sql.length else close + 1
          sb.append(sql.substring(i, end)); i = end
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

    def maskStrings(sql: String): String = {
      val out = sql.toCharArray
      var inStr = false
      var inTick = false
      var inDq = false
      for (i <- out.indices) {
        if (!inTick && !inDq && out(i) == '\'') inStr = !inStr
        else if (!inStr && !inDq && out(i) == '`') inTick = !inTick
        else if (!inStr && !inTick && out(i) == '"') inDq = !inDq
        else if (inStr || inTick || inDq) out(i) = ' '
      }
      new String(out)
    }

    def rewriteDoubleQuoted(sql: String): String = {
      val sb = new StringBuilder
      var i = 0
      var inStr = false
      var inTick = false
      while (i < sql.length) {
        val c = sql.charAt(i)
        if (c == '\'' && !inTick) { inStr = !inStr; sb.append(c); i += 1 }
        else if (c == '`' && !inStr) { inTick = !inTick; sb.append(c); i += 1 }
        else if (c == '"' && !inStr && !inTick) {
          val ident = new StringBuilder
          i += 1
          var closed = false
          while (i < sql.length && !closed) {
            val d = sql.charAt(i)
            if (d == '"' && i + 1 < sql.length && sql.charAt(i + 1) == '"') {
              ident.append('"'); i += 2
            } else if (d == '"') { closed = true; i += 1 }
            else { ident.append(d); i += 1 }
          }
          require(closed, s"unterminated double-quoted identifier in: $sql")
          sb.append('`').append(ident.toString.replace("`", "``")).append('`')
        } else { sb.append(c); i += 1 }
      }
      sb.toString
    }

    def sqliteLiteral(s: String): String = "'" + s.replace("'", "''") + "'"

    def readLiteral(sql: String, start: Int): (String, Int) = {
      val content = new StringBuilder
      var i = start + 1
      while (i < sql.length) {
        val c = sql.charAt(i)
        if (c == '\'' && i + 1 < sql.length && sql.charAt(i + 1) == '\'') {
          content.append('\''); i += 2
        } else if (c == '\'') return (content.toString, i + 1)
        else { content.append(c); i += 1 }
      }
      throw new IllegalArgumentException(s"unterminated string literal in: $sql")
    }

    def skipWs(sql: String, from: Int): Int = {
      var i = from
      while (i < sql.length && sql.charAt(i).isWhitespace) i += 1
      i
    }

    def rewriteGlob(sql: String): String = {
      def loop(s: String, from: Int): String =
        "(?i)\\bGLOB\\b".r.findFirstMatchIn(maskStrings(s).substring(from)) match {
          case None => s
          case Some(mm) =>
            val afterKw = skipWs(s, from + mm.end)
            if (afterKw >= s.length || s.charAt(afterKw) != '\'') loop(s, from + mm.end)
            else {
              val (glob, next) = readLiteral(s, afterKw)
              val op =
                if (glob.exists(c => c == '[' || c == ']'))
                  "RLIKE " + sqliteLiteral(SqliteDialect.globToRegex(glob))
                else "LIKE " + sqliteLiteral(SqliteDialect.globToLike(glob))
              val replaced = s.substring(0, from + mm.start) + op
              loop(replaced + s.substring(next), replaced.length)
            }
        }
      loop(sql, 0)
    }

    def applyTimeModifier(expr: String, mod: String): String = {
      val Offset = """([+-])(\d+) (day|hour|minute|second|month|year)s?""".r
      val StartOf = """start of (day|month|year)""".r
      val Weekday = """weekday ([0-6])""".r
      mod.trim.toLowerCase match {
        case Offset(sign, n, unit) => s"($expr $sign INTERVAL $n ${unit.toUpperCase})"
        case StartOf(unit) => s"date_trunc('${unit.toUpperCase}', $expr)"
        case "utc" => expr
        case Weekday(n) =>
          s"($expr + make_interval(0, 0, 0, " +
            s"(($n - (dayofweek($expr) - 1)) % 7 + 7) % 7, 0, 0, 0))"
        case "unixepoch" => s"timestamp_seconds($expr)"
        case other => throw new IllegalArgumentException(s"modifier '$other'")
      }
    }

    def rewriteStrftime(sql: String): String =
      "(?i)\\bstrftime\\s*\\(".r.findFirstMatchIn(maskStrings(sql)) match {
        case None => sql
        case Some(mm) =>
          val (fmt, afterFmt) = readLiteral(sql, skipWs(sql, mm.end))
          val comma = skipWs(sql, afterFmt)
          val parts = scala.collection.mutable.ArrayBuffer.empty[String]
          val cur = new StringBuilder
          var i = comma + 1
          var depth = 0
          var inStr = false
          var inTick = false
          var end = -1
          while (i < sql.length && end < 0) {
            val c = sql.charAt(i)
            val quoted = inStr || inTick
            if (c == '\'' && !inTick) { inStr = !inStr; cur.append(c) }
            else if (c == '`' && !inStr) { inTick = !inTick; cur.append(c) }
            else if (!quoted && c == '(') { depth += 1; cur.append(c) }
            else if (!quoted && c == ')') {
              if (depth == 0) end = i else { depth -= 1; cur.append(c) }
            } else if (!quoted && c == ',' && depth == 0) {
              parts += cur.toString; cur.clear()
            } else cur.append(c)
            i += 1
          }
          parts += cur.toString
          val wrapped = parts.tail.foldLeft(rewriteStrftime(parts.head.trim)) { (e, raw) =>
            applyTimeModifier(e, readLiteral(raw.trim, 0)._1)
          }
          sql.substring(0, mm.start) +
            s"date_format($wrapped, ${sqliteLiteral(SqliteDialect.strftimeToSpark(fmt))})" +
            rewriteStrftime(sql.substring(end + 1))
      }

    def transcodeLiterals(sql: String): String = {
      val sb = new StringBuilder
      var i = 0
      var inTick = false
      while (i < sql.length) {
        val c = sql.charAt(i)
        if (c == '`') { inTick = !inTick; sb.append(c); i += 1 }
        else if (c == '\'' && !inTick) {
          val (content, next) = readLiteral(sql, i)
          sb.append("'" + content.replace("\\", "\\\\").replace("'", "\\'") + "'")
          i = next
        } else { sb.append(c); i += 1 }
      }
      sb.toString
    }
  }

  // ---- generated queries ---------------------------------------------------

  private val atom: Gen[String] = Gen.oneOf(
    "'", "''", "\"", "\"\"", "`", "\\", "--", "/*", "*/", " GLOB ", "strftime(",
    "a", "b", " ", ",", ")", "%", "_")

  private val content: Gen[String] = Gen.choose(0, 6).flatMap(Gen.listOfN(_, atom)).map(_.mkString)

  private def literal(s: String) = "'" + s.replace("'", "''") + "'"
  private def ident(s: String) = "\"" + s.replace("\"", "\"\"") + "\""

  /** A GLOB pattern that the literal `s` matches: some characters turned
    * into `?`, a `*` somewhere, or `s` itself.
    */
  private def globOf(s: String): Gen[String] = Gen.oneOf(
    Gen.const(s),
    Gen.choose(0, s.length).map(i => s.substring(0, i) + "*"),
    Gen.choose(0, math.max(0, s.length - 1)).map(i =>
      if (s.isEmpty) "*" else s.substring(0, i) + "?" + s.substring(i + 1)))
    .map(_.flatMap(c => if (c == '[' || c == ']') "?" else c.toString))

  /** Directives apart, so no two merge into one longer Java pattern. */
  private val format: Gen[String] = for {
    ds <- Gen.listOfN(3, Gen.oneOf("%Y", "%m", "%d", "%H", "%M", "%%"))
    ss <- Gen.listOfN(2, Gen.oneOf("-", " ", "/", " at ", ":"))
  } yield ds.head + ss.zip(ds.tail).map { case (s, d) => s + d }.mkString

  private val modifiers: Gen[Seq[String]] = Gen.choose(0, 2).flatMap(Gen.listOfN(_,
    Gen.oneOf("+1 month", "-3 days", "+2 hours", "start of month", "start of year",
      "utc", "weekday 0", "weekday 3")))

  /** One SQLite query: a literal, a quoted column, a GLOB of the literal
    * and a strftime call, each named by a quoted alias, with a comment
    * holding quotes between two of them.
    */
  private val query: Gen[String] = for {
    lit <- content; col <- content; value <- content
    a1 <- content; a2 <- content
    pat <- globOf(lit); fmt <- format; mods <- modifiers
  } yield {
    val column = ident("c" + col)
    val strftime = (literal(fmt) +: "d" +: mods.map(literal)).mkString("strftime(", ", ", ")")
    s"SELECT ${literal(lit)} AS ${ident("a" + a1)}, $column AS ${ident("b" + a2)}, " +
      s"${literal(lit)} GLOB ${literal(pat)} AS g, -- it's a \"comment\n" +
      s"$strftime /* don't */ AS ym " +
      s"FROM VALUES (TIMESTAMP '2024-01-15 10:30:00', ${literal(value)}) AS t(d, $column)"
  }

  /** Hand-picked shapes first: a '' GLOB pattern, a "" identifier with
    * backslashes, a literal ending in a backslash, keywords in literals.
    */
  private val edges = Seq(
    """SELECT 'it''s' GLOB 'it''s*' AS g, "a""b\" AS "x""\y" FROM VALUES (1) AS t("a""b\")""",
    """SELECT 'C:\' AS p, 'x GLOB ''y'' strftime(' GLOB '*strftime(' AS g""",
    """SELECT strftime('%Y-%m', d, '+1 month') AS "strftime(", '--' AS "/*" """ +
      """FROM VALUES (DATE '2024-01-15') AS t(d)""")

  test("sql: the same columns and rows as the former text path on quote-heavy queries") {
    val generated = (0 until 40).map(i => query.pureApply(Gen.Parameters.default, Seed(1019L + i)))
    (edges ++ generated).foreach { q =>
      def result(df: => org.apache.spark.sql.DataFrame) =
        Try { val d = df; (d.columns.toSeq, d.collect().map(_.toSeq).toSeq) }
      val reference = result(spark.sql(TextPath.rewrite(q)))
      assert(reference.isSuccess, s"reference path failed on: $q\n$reference")
      val entry = result(SqliteDialect.sql(spark, q))
      assert(entry == reference, s"on: $q")
    }
  }
}
