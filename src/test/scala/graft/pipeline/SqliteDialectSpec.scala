package graft.pipeline

import org.apache.spark.sql.functions._

import graft.SparkSpec

class SqliteDialectSpec extends SparkSpec {
  import spark.implicits._

  private def dialect(sqliteSql: String) = SqliteDialect.sql(spark, sqliteSql)

  test("globToLike wildcard and escape translation") {
    assert(SqliteDialect.globToLike("*green*") == "%green%")
    assert(SqliteDialect.globToLike("a?c") == "a_c")
    assert(SqliteDialect.globToLike("50%_off*") == "50\\%\\_off%")
    intercept[IllegalArgumentException] {
      SqliteDialect.globToLike("[abc]*")
    }
    // end-to-end: the translated pattern filters like GLOB would
    val df = Seq("forest green", "Forest Green", "green").toDF("s")
    val hits = df.filter(col("s").like(SqliteDialect.globToLike("*green*")))
      .as[String].collect().toSet
    assert(hits == Set("forest green", "green")) // case-sensitive
  }

  test("rewrite: integrated GLOB / strftime / quoted-identifier translation") {
    val in = """SELECT "order id", strftime('%Y-%m', order_ts) AS ym
      FROM sqlite_integrated_t WHERE name GLOB 'A*' AND note GLOB '?_x'"""
    val out = SqliteDialect.rewrite(in)
    assert(out.contains("LIKE 'A%'"))
    assert(out.contains("LIKE '_\\\\_x'")) // _ wildcard + escaped literal _
    assert(!out.toLowerCase.contains("glob"))
    // the quoted identifier and strftime resolve in the entry point's
    // parse and analysis
    val ts = java.sql.Timestamp.valueOf("2024-03-05 07:08:09")
    Seq((1, ts, "Alpha", "a_x"), (2, ts, "Alpha", "abx"), (3, ts, "Beta", "a_x"))
      .toDF("order id", "order_ts", "name", "note")
      .createOrReplaceTempView("sqlite_integrated_t")
    try assert(dialect(in).as[(Int, String)].collect().toSeq == Seq((1, "2024-03")))
    finally spark.catalog.dropTempView("sqlite_integrated_t")
  }

  test("rewrite: literals untouched, nested strftime, runnable end-to-end") {
    // 'GLOB' and 'strftime(' inside string literals must survive verbatim
    val lit = "SELECT 'uses GLOB and strftime(x) inside' AS s FROM t"
    assert(SqliteDialect.rewrite(lit) == lit)
    Seq(("Alpha", java.sql.Timestamp.valueOf("2024-03-05 07:08:09")))
      .toDF("name", "order_ts").createOrReplaceTempView("sqlite_dialect_t")
    // nested call in the expression argument
    val nested = dialect(
      "SELECT strftime('%Y', strftime('%Y-%m-%d', order_ts)) AS y FROM sqlite_dialect_t")
    assert(nested.as[String].collect().toSeq == Seq("2024"))
    // end-to-end through the entry point
    val row = dialect(
      """SELECT "name", strftime('%Y-%m', order_ts) AS ym
         FROM sqlite_dialect_t WHERE name GLOB 'Al*'""")
      .collect()
    assert(row.length == 1 && row(0).getString(1) == "2024-03")
  }

  test("sql: friendly errors for GROUPS frames and dialect edges") {
    // a GROUPS frame runs, emulated (the rewriteGroups tests pin its text)
    val vals = " FROM VALUES (1, 1), (1, 2), (2, 4) AS t(x, v)"
    val frame = "sum(v) OVER (ORDER BY x GROUPS BETWEEN 1 PRECEDING AND CURRENT ROW)"
    assert(dialect(s"SELECT $frame AS s" + vals).as[Long].collect().sorted.toSeq ==
      Seq(3L, 3L, 7L))
    // GROUPS as an identifier is neither rewritten nor rejected
    val ident = "SELECT groups FROM VALUES (4), (2) AS t(groups) WHERE groups > 3"
    assert(SqliteDialect.rewrite(ident) == ident)
    assert(dialect(ident).as[Int].collect().toSeq == Seq(4))
    // and frame text inside a literal stays text
    val inLiteral = "SELECT 'GROUPS BETWEEN 1 PRECEDING AND CURRENT ROW' AS s"
    assert(SqliteDialect.rewrite(inLiteral) == inLiteral)
    assert(dialect(inLiteral).as[String].head() ==
      "GROUPS BETWEEN 1 PRECEDING AND CURRENT ROW")
    // SQLite's quote escapes do not invert the mask state: frame text in
    // a literal holding '' stays text, and a real frame after a literal
    // ending in a backslash is still rewritten
    val quoted = "SELECT 'it''s GROUPS UNBOUNDED PRECEDING' AS s, 'C:\\' AS p, " +
      frame + " AS f" + vals
    val out = SqliteDialect.rewrite(quoted)
    assert(out.contains("'it''s GROUPS UNBOUNDED PRECEDING'"))
    assert(!out.contains("ORDER BY x GROUPS"))
    assert(dialect(quoted).as[(String, String, Long)].collect().sortBy(_._3).toSeq ==
      Seq(3L, 3L, 7L).map(("it's GROUPS UNBOUNDED PRECEDING", "C:\\", _)))
    // round 7: GLOB classes and common strftime modifiers now TRANSLATE
    // (formerly friendly errors); only the genuinely unmappable
    // modifiers still error
    val from = " FROM VALUES (TIMESTAMP '2024-01-03 10:30:00', 1092941466, '+1 day') AS t(ts, v, x)"
    val m = intercept[UnsupportedSqlFeatureException] {
      dialect("SELECT strftime('%Y', ts, 'localtime')" + from)
    }
    assert(m.getMessage.startsWith("unsupported: strftime modifier 'localtime'"))
    // round 9: 'weekday N' and 'unixepoch' now TRANSLATE (no throw)
    dialect("SELECT strftime('%Y', ts, 'weekday 1')" + from)
    dialect("SELECT strftime('%Y', v, 'unixepoch')" + from)
    intercept[UnsupportedSqlFeatureException] {
      dialect("SELECT strftime('%Y', ts, 'julianday')" + from)
    }
    val nonLiteral = intercept[UnsupportedSqlFeatureException] {
      dialect("SELECT strftime('%Y', ts, x)" + from)
    }
    assert(nonLiteral.getMessage.startsWith("unsupported: strftime with a non-literal modifier"))
    val format = intercept[UnsupportedSqlFeatureException] {
      dialect("SELECT strftime(x, ts)" + from)
    }
    assert(format.getMessage.startsWith("unsupported: strftime with non-literal format"))
  }

  test("globToRegex: classes, negation, anchoring, metachar escaping") {
    assert(SqliteDialect.globToRegex("[12]-*") == "^[12]\\-.*$" ||
      SqliteDialect.globToRegex("[12]-*") == "^[12]-.*$")
    assert(SqliteDialect.globToRegex("a[^xy]?b.c") == "^a[^xy].b\\.c$")
    assert(SqliteDialect.globToRegex("[]x]z") == "^[\\]x]z$")
    assert(SqliteDialect.globToRegex("[a-f]*") == "^[a-f].*$")
    intercept[UnsupportedSqlFeatureException] {
      SqliteDialect.globToRegex("ab[cd")
    }
    // integrated: class pattern becomes RLIKE, plain pattern stays LIKE
    assert(SqliteDialect.rewrite("SELECT * FROM t WHERE s GLOB '[ab]*'")
      .contains("RLIKE '^[ab].*$'"))
    assert(SqliteDialect.rewrite("SELECT * FROM t WHERE s GLOB 'ab*'")
      .contains("LIKE 'ab%'"))
  }

  test("strftime modifiers: interval arithmetic, start-of, utc, left-to-right") {
    def one(select: String, ts: String): String =
      dialect(s"SELECT $select FROM VALUES (TIMESTAMP '$ts') AS t(ts)").as[String].head()
    assert(one("strftime('%Y-%m-%d', ts, '+1 month', 'start of month')",
      "2024-01-15 10:00:00") == "2024-02-01")
    assert(one("strftime('%Y-%m-%d %H', ts, '+1 month')", "2024-01-15 10:00:00") ==
      "2024-02-15 10")
    assert(one("strftime('%Y-%m-%d', ts, '-3 days', 'utc')", "2024-01-02 10:00:00") ==
      "2023-12-30")
    assert(one("strftime('%Y %H:%M:%S', ts, '+2 years', '-5 hours', '+7 minutes', '+9 seconds')",
      "2024-01-02 10:00:00") == "2026 05:07:09")
    // modifier order matters (SQLite applies left to right): start of
    // month THEN +1 day lands on the 2nd; reversed lands on the 1st
    assert(one("strftime('%d', ts, 'start of month', '+1 day')", "2024-01-31 10:00:00") == "02")
    assert(one("strftime('%d', ts, '+1 day', 'start of month')", "2024-01-31 10:00:00") == "01")
  }

  test("strftime 'weekday N' / 'unixepoch' modifiers run with SQLite " +
      "semantics (round-9 residuals, formerly documented limits)") {
    // 2024-01-03 is a Wednesday: weekday 0 -> next Sunday 2024-01-07;
    // a date already on the target weekday stays put
    val rows = dialect(
      "SELECT strftime('%Y-%m-%d', d, 'weekday 0') AS wd" +
        " FROM VALUES (TIMESTAMP '2024-01-03 10:30:00')," +
        " (TIMESTAMP '2024-01-07 00:00:00') AS t(d) ORDER BY d")
      .collect().map(_.getString(0)).toSeq
    assert(rows == Seq("2024-01-07", "2024-01-07"))
    // time of day is preserved across the jump (SQLite keeps it)
    val tod = dialect(
      "SELECT strftime('%H', d, 'weekday 0') AS h" +
        " FROM VALUES (TIMESTAMP '2024-01-03 10:30:00') AS t(d)")
      .collect().head.getString(0)
    assert(tod == "10")
    // unixepoch reinterprets a numeric value as epoch seconds (UTC
    // session): 1092941466 = 2004-08-19 (sqlite.org's own example)
    val ue = dialect(
      "SELECT strftime('%Y-%m-%d', v, 'unixepoch') AS e" +
        " FROM VALUES (1092941466) AS t(v)")
      .collect().head.getString(0)
    assert(ue == "2004-08-19")
  }

  test("rewriteExclude: SUM/COUNT semantics match the SQLite spec on a " +
      "crafted ties dataset, empty exclusion gives NULL/0") {
    val from = " FROM VALUES (1,10,'a'),(2,20,'a'),(3,30,'b') AS t(i,v,k) "
    val rows = spark.sql(SqliteDialect.rewrite(
      "SELECT i," +
        " sum(v) OVER (ORDER BY i ROWS BETWEEN 1 PRECEDING AND 1 FOLLOWING EXCLUDE CURRENT ROW) AS s1," +
        " sum(v) OVER (ORDER BY k ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING EXCLUDE GROUP) AS s2," +
        " sum(v) OVER (ORDER BY k ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING EXCLUDE TIES) AS s3," +
        " count(*) OVER (ORDER BY k EXCLUDE GROUP) AS c1," +
        " sum(v) OVER (ORDER BY k ROWS 1 PRECEDING EXCLUDE NO OTHERS) AS s4" +
        from + "ORDER BY i"))
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5))).toSeq
    // hand-checked against DuckDB's native EXCLUDE on the same data
    assert(rows == Seq((1, 20L, 30L, 40L, 0L, 10L),
      (2, 40L, 30L, 50L, 0L, 30L), (3, 20L, 30L, 60L, 2L, 50L)))
    // exclusion that empties the frame: SUM -> NULL, COUNT -> 0
    val edge = spark.sql(SqliteDialect.rewrite(
      "SELECT i," +
        " sum(v) OVER (ORDER BY k RANGE BETWEEN CURRENT ROW AND CURRENT ROW EXCLUDE GROUP) AS es," +
        " count(v) OVER (ORDER BY k RANGE BETWEEN CURRENT ROW AND CURRENT ROW EXCLUDE GROUP) AS ec" +
        from + "WHERE i <= 2 ORDER BY i")).collect()
    assert(edge.forall(r => r.isNullAt(1) && r.getLong(2) == 0L))
  }

  test("rewriteExclude: MEDIAN splits the ROWS frame and interpolates exactly") {
    val from = " FROM VALUES (1,10),(2,20),(3,30),(4,40),(5,CAST(NULL AS INT)) AS t(i,v) "
    val rows = spark.sql(SqliteDialect.rewrite(
      "SELECT i," +
        " median(v) OVER (ORDER BY i ROWS BETWEEN 2 PRECEDING AND 2 FOLLOWING EXCLUDE CURRENT ROW) AS md," +
        " median(v) OVER (ORDER BY i ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW EXCLUDE CURRENT ROW) AS mr" +
        from + "ORDER BY i")).collect()
      .map(r => (r.getInt(0),
        if (r.isNullAt(1)) null else r.getDouble(1),
        if (r.isNullAt(2)) null else r.getDouble(2))).toSeq
    // hand-checked against DuckDB's native EXCLUDE median on the same
    // data: NULL value skipped, even counts interpolate, empty -> NULL
    assert(rows == Seq((1, 25.0, null), (2, 30.0, 10.0),
      (3, 20.0, 15.0), (4, 25.0, 20.0), (5, 35.0, 25.0)))

    def err(sql: String): String =
      intercept[UnsupportedSqlFeatureException] {
        SqliteDialect.rewriteExclude(sql)
      }.getMessage
    // the split needs a statically known exclusion position and a
    // positionally splittable frame
    assert(err("SELECT median(v) OVER (ORDER BY k EXCLUDE GROUP) FROM t")
      .contains("MEDIAN"))
    assert(err("SELECT median(v) OVER (ORDER BY i RANGE BETWEEN 5 PRECEDING " +
      "AND CURRENT ROW EXCLUDE CURRENT ROW) FROM t")
      .contains("RANGE"))
    assert(err("SELECT median(v) OVER (ORDER BY i EXCLUDE CURRENT ROW) FROM t")
      .contains("default frame"))
    // other order statistics still refuse with the precise shape list
    assert(err("SELECT mode(v) OVER (ORDER BY i ROWS BETWEEN 1 PRECEDING " +
      "AND 1 FOLLOWING EXCLUDE CURRENT ROW) FROM t")
      .contains("self-join"))
  }

  test("rewriteExclude: friendly errors for the undecomposable shapes") {
    def err(sql: String): String =
      intercept[UnsupportedSqlFeatureException] {
        SqliteDialect.rewriteExclude(sql)
      }.getMessage
    assert(err("SELECT min(v) OVER (ORDER BY k EXCLUDE GROUP) FROM t")
      .contains("MIN"))
    assert(err("SELECT sum(DISTINCT v) OVER (ORDER BY k EXCLUDE TIES) FROM t")
      .contains("DISTINCT"))
    assert(err("SELECT sum(v) OVER (PARTITION BY p EXCLUDE GROUP) FROM t")
      .contains("ORDER BY"))
    assert(err("SELECT sum(v) OVER w FROM t WINDOW w AS (ORDER BY k EXCLUDE GROUP)")
      .contains("WINDOW"))
    // EXCLUDE on a GROUPS frame is left for rewriteGroups' own error
    val g = "SELECT sum(v) OVER (ORDER BY k GROUPS UNBOUNDED PRECEDING EXCLUDE GROUP) FROM t"
    assert(SqliteDialect.rewriteExclude(g) == g)
    assert(intercept[UnsupportedSqlFeatureException] {
      SqliteDialect.rewrite(g)
    }.getMessage.contains("GROUPS"))
  }

  test("rewriteExclude: containment guards reject frames that do not " +
      "provably contain the exclusion") {
    def err(sql: String): String =
      intercept[UnsupportedSqlFeatureException] {
        SqliteDialect.rewriteExclude(sql)
      }.getMessage
    // a frame whose bounds never span the current row: subtracting the
    // current row's value (or re-adding it, for TIES) would corrupt it
    assert(err("SELECT sum(v) OVER (ORDER BY i ROWS BETWEEN 3 PRECEDING " +
      "AND 1 PRECEDING EXCLUDE CURRENT ROW) FROM t")
      .contains("never contains"))
    assert(err("SELECT sum(v) OVER (ORDER BY i ROWS BETWEEN 1 FOLLOWING " +
      "AND 3 FOLLOWING EXCLUDE GROUP) FROM t")
      .contains("never contains"))
    assert(err("SELECT sum(v) OVER (ORDER BY i RANGE BETWEEN 5 PRECEDING " +
      "AND 2 PRECEDING EXCLUDE CURRENT ROW) FROM t")
      .contains("never contains"))
    // bounded ROWS frames with GROUP/TIES: tied peers can lie outside
    // the frame and ties are not statically detectable
    assert(err("SELECT sum(v) OVER (ORDER BY k ROWS BETWEEN UNBOUNDED " +
      "PRECEDING AND CURRENT ROW EXCLUDE GROUP) FROM t")
      .contains("bounded ROWS"))
    assert(err("SELECT sum(v) OVER (ORDER BY k ROWS BETWEEN 2 PRECEDING " +
      "AND 2 FOLLOWING EXCLUDE TIES) FROM t")
      .contains("bounded ROWS"))
    // non-literal bounds cannot be verified statically
    assert(err("SELECT sum(v) OVER (ORDER BY i ROWS BETWEEN n PRECEDING " +
      "AND CURRENT ROW EXCLUDE CURRENT ROW) FROM t")
      .contains("non-literal"))
    // nested EXCLUDE windows would produce overlapping rewrite spans
    assert(err("SELECT sum(v + sum(v) OVER (ORDER BY k EXCLUDE GROUP)) " +
      "OVER (ORDER BY k EXCLUDE GROUP) FROM t")
      .contains("nested"))
    // still-allowed shapes: spanning ROWS with CURRENT ROW, whole-
    // partition ROWS with GROUP/TIES, zero-width literals, RANGE frames
    SqliteDialect.rewriteExclude("SELECT sum(v) OVER (ORDER BY i ROWS " +
      "BETWEEN 2 PRECEDING AND 0 FOLLOWING EXCLUDE CURRENT ROW) FROM t")
    SqliteDialect.rewriteExclude("SELECT sum(v) OVER (ORDER BY k ROWS " +
      "BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING EXCLUDE TIES) FROM t")
    SqliteDialect.rewriteExclude("SELECT sum(v) OVER (ORDER BY k RANGE " +
      "BETWEEN 5 PRECEDING AND CURRENT ROW EXCLUDE GROUP) FROM t")
  }

  test("rewriteExclude: MIN/MAX split the ROWS frame around the current row") {
    val from = " FROM VALUES (1,30),(2,10),(3,20),(4,5) AS t(i,v) "
    val rows = spark.sql(SqliteDialect.rewrite(
      "SELECT i," +
        " min(v) OVER (ORDER BY i ROWS BETWEEN 1 PRECEDING AND 1 FOLLOWING EXCLUDE CURRENT ROW) AS mn," +
        " max(v) OVER (ORDER BY i ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW EXCLUDE CURRENT ROW) AS mxr," +
        " min(v) OVER (ORDER BY i ROWS BETWEEN CURRENT ROW AND 2 FOLLOWING EXCLUDE CURRENT ROW) AS mnf," +
        " min(v) OVER (ORDER BY i ROWS BETWEEN CURRENT ROW AND CURRENT ROW EXCLUDE CURRENT ROW) AS mz" +
        from + "ORDER BY i")).collect()
    def cell(r: Int, c: Int): Option[Int] =
      if (rows(r).isNullAt(c)) None else Some(rows(r).getInt(c))
    // hand-checked against DuckDB's native EXCLUDE on the same data:
    // both-sides split, left-only (running max, NULL at the head),
    // right-only, and the emptied single-row frame
    assert((0 until 4).map(r => (cell(r, 1), cell(r, 2), cell(r, 3), cell(r, 4))) ==
      Seq((Some(10), None, Some(10), None),
        (Some(20), Some(30), Some(5), None),
        (Some(5), Some(30), Some(5), None),
        (Some(20), Some(30), None, None)))
  }

  test("rewriteExclude: MIN/MAX split-path rejections stay friendly") {
    def err(sql: String): String =
      intercept[UnsupportedSqlFeatureException] {
        SqliteDialect.rewriteExclude(sql)
      }.getMessage
    // RANGE bounds are value distances — no positional split
    assert(err("SELECT min(v) OVER (ORDER BY i RANGE BETWEEN 5 PRECEDING " +
      "AND CURRENT ROW EXCLUDE CURRENT ROW) FROM t")
      .contains("RANGE"))
    // the default frame is RANGE too
    assert(err("SELECT max(v) OVER (ORDER BY i EXCLUDE CURRENT ROW) FROM t")
      .contains("default frame"))
    // peer positions are runtime data: GROUP/TIES never split
    assert(err("SELECT max(v) OVER (ORDER BY k ROWS BETWEEN UNBOUNDED " +
      "PRECEDING AND UNBOUNDED FOLLOWING EXCLUDE TIES) FROM t")
      .contains("MAX"))
    // order statistics neither subtract nor merge
    // round 11: this shape graduated from refusal to the value-merge
    // split (see the MEDIAN test above) — it must rewrite cleanly now
    val md = SqliteDialect.rewriteExclude(
      "SELECT median(v) OVER (ORDER BY i ROWS BETWEEN 2 PRECEDING " +
        "AND 2 FOLLOWING EXCLUDE CURRENT ROW) FROM t")
    assert(md.contains("collect_list") && !md.toUpperCase.contains("EXCLUDE"))
  }

  test("rewriteGroups: whole-peer-group bounds become RANGE verbatim") {
    val out = SqliteDialect.rewriteGroups(
      "SELECT sum(x) OVER (ORDER BY k GROUPS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) FROM t")
    assert(out ==
      "SELECT sum(x) OVER (ORDER BY k RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) FROM t")
    // shorthand spelling, same rule; no subquery hoist for these shapes
    val sh = SqliteDialect.rewriteGroups(
      "SELECT sum(x) OVER (ORDER BY k GROUPS UNBOUNDED PRECEDING) FROM t")
    assert(sh.contains("RANGE UNBOUNDED PRECEDING") && !sh.contains("__graft"))
  }

  test("rewriteGroups: numeric bounds hoist a dense_rank subquery") {
    val out = SqliteDialect.rewriteGroups(
      """SELECT k, sum(x) OVER (PARTITION BY p ORDER BY k DESC GROUPS BETWEEN 1 PRECEDING AND 2 FOLLOWING) AS s
         FROM t WHERE x > 0 ORDER BY k""")
    assert(out.contains(
      "OVER (PARTITION BY p ORDER BY __graft_grank0 RANGE BETWEEN 1 PRECEDING AND 2 FOLLOWING)"))
    // the hoisted subquery inherits the plain relation's name so
    // table-qualified outer references keep resolving
    assert(out.contains(
      "FROM (SELECT *, DENSE_RANK() OVER (PARTITION BY p ORDER BY k DESC) AS __graft_grank0 FROM t WHERE x > 0) t "))
    assert(out.trim.endsWith("ORDER BY k"))
    // two windows over the same partition/order share one rank column
    val shared = SqliteDialect.rewriteGroups(
      """SELECT sum(x) OVER (ORDER BY k GROUPS 1 PRECEDING) AS a,
                min(x) OVER (ORDER BY k GROUPS 2 PRECEDING) AS b FROM t""")
    assert(shared.split("__graft_grank0", -1).length - 1 == 3
      && !shared.contains("__graft_grank1"))
  }

  test("rewriteGroups: numeric GROUPS emulation matches hand-ranked query") {
    // ties in the ORDER BY key make GROUPS differ from ROWS: frame
    // counts PEER GROUPS (g=10 and g=20 are adjacent groups)
    Seq((1, 10, 1.0), (2, 10, 2.0), (3, 20, 4.0), (4, 20, 8.0), (5, 30, 16.0))
      .toDF("id", "g", "x").createOrReplaceTempView("groups_t")
    val emulated = spark.sql(SqliteDialect.rewrite(
      """SELECT id, sum(x) OVER (ORDER BY g GROUPS BETWEEN 1 PRECEDING AND CURRENT ROW) AS s
         FROM groups_t ORDER BY id"""))
      .select("id", "s").as[(Int, Double)].collect().toSeq
    // expected: group 10 -> 1+2; group 20 -> 1+2+4+8; group 30 -> 4+8+16
    assert(emulated == Seq((1, 3.0), (2, 3.0), (3, 15.0), (4, 15.0), (5, 28.0)))
  }

  test("rewriteGroups: friendly errors for the untranslatable shapes") {
    def bad(sql: String): String =
      intercept[UnsupportedSqlFeatureException] {
        SqliteDialect.rewriteGroups(sql)
      }.getMessage
    assert(bad("SELECT sum(x) OVER (ORDER BY k GROUPS BETWEEN 1 PRECEDING AND CURRENT ROW EXCLUDE TIES) FROM t")
      .contains("EXCLUDE"))
    assert(bad("SELECT sum(x) OVER (ORDER BY k GROUPS BETWEEN n PRECEDING AND 1 FOLLOWING) FROM t")
      .contains("non-literal"))
    assert(bad("SELECT * FROM (SELECT sum(x) OVER (ORDER BY k GROUPS 1 PRECEDING) AS s FROM t) q")
      .contains("subquery"))
    assert(bad("SELECT sum(x) OVER (ORDER BY g GROUPS 1 PRECEDING) FROM t GROUP BY g")
      .contains("GROUP BY"))
    assert(bad("SELECT DISTINCT sum(x) OVER (ORDER BY k GROUPS 1 PRECEDING) FROM t")
      .contains("DISTINCT"))
    // a named base window would silently lose its inherited
    // partitioning in the numeric rebuild — rejected for every bound
    // shape (Spark's grammar cannot extend a named window anyway)
    assert(bad("SELECT sum(x) OVER (w ORDER BY k GROUPS 1 PRECEDING) FROM t WINDOW w AS (PARTITION BY p)")
      .contains("named base window"))
    assert(bad("SELECT sum(x) OVER (w ORDER BY k GROUPS UNBOUNDED PRECEDING) FROM t WINDOW w AS (PARTITION BY p)")
      .contains("named base window"))
    // a GROUPS frame declared inside the WINDOW clause itself is never
    // visited by the OVER scan — friendly error, not a Catalyst one
    assert(bad("SELECT sum(x) OVER w FROM t WINDOW w AS (ORDER BY k GROUPS 1 PRECEDING)")
      .contains("WINDOW clause"))
    // qualified outer references over a non-simple FROM cannot survive
    // the hoist
    assert(bad("SELECT a.x, sum(a.x) OVER (ORDER BY a.k GROUPS 1 PRECEDING) FROM t a JOIN u b ON a.id = b.id")
      .contains("table-qualified"))
  }

  test("rewriteGroups: qualified references survive the hoist for plain relations") {
    Seq((1, 10, 1.0), (2, 10, 2.0), (3, 20, 4.0), (4, 20, 8.0), (5, 30, 16.0))
      .toDF("id", "g", "x").createOrReplaceTempView("groups_q_t")
    val got = spark.sql(SqliteDialect.rewrite(
      """SELECT t.id, sum(t.x) OVER (ORDER BY t.g GROUPS BETWEEN 1 PRECEDING AND CURRENT ROW) AS s
         FROM groups_q_t t ORDER BY t.id"""))
      .select("id", "s").as[(Int, Double)].collect().toSeq
    assert(got == Seq((1, 3.0), (2, 3.0), (3, 15.0), (4, 15.0), (5, 28.0)))
  }

  test("rewrite: SQLite literal lexing — trailing backslash and '' quotes") {
    // 'C:\' is a complete SQLite literal (backslash is ordinary there);
    // it must not corrupt later scans, and it must reach Spark as '\\'
    val out = SqliteDialect.rewrite(
      """SELECT x FROM t WHERE p = 'C:\' AND s GLOB 'a*'""")
    assert(out == """SELECT x FROM t WHERE p = 'C:\\' AND s LIKE 'a%'""")
    // '' is the SQLite quote escape, and Spark's lexer reads it the
    // same way: end-to-end, both literals mean what the SQLite ones did
    val r = dialect("""SELECT 'C:\' AS p, 'it''s' AS s, "it""s" FROM VALUES (1) AS t("it""s")""")
      .head()
    assert((r.getString(0), r.getString(1), r.getInt(2)) == ("C:\\", "it's", 1))
  }

  test("review regressions: literal letter runs, groups column, glob identifier") {
    // consecutive literal letters quote as ONE run ('' between letters
    // would render a spurious apostrophe in Java datetime patterns)
    assert(SqliteDialect.strftimeToSpark("%Y ab") == "yyyy 'ab'")
    val out = Seq(java.sql.Timestamp.valueOf("2024-03-05 07:08:09")).toDF("ts")
      .select(date_format(col("ts"),
        SqliteDialect.strftimeToSpark("%d days")).as("f"))
      .as[String].head()
    assert(out == "05 days")
    // a column named groups in a plain BETWEEN predicate is NOT a frame
    val between = "SELECT * FROM VALUES (3), (7) AS t(groups) WHERE groups BETWEEN 1 AND 5"
    assert(SqliteDialect.rewrite(between) == between)
    assert(dialect(between).as[Int].collect().toSeq == Seq(3))
    // …but every real frame spelling still is
    Seq("GROUPS BETWEEN 1 PRECEDING AND CURRENT ROW",
      "GROUPS UNBOUNDED PRECEDING", "GROUPS CURRENT ROW").foreach { fr =>
      val out = SqliteDialect.rewrite(s"SELECT sum(x) OVER (ORDER BY x $fr) FROM t")
      assert(!out.contains("GROUPS") && out.contains("RANGE"), out)
    }
    // identifiers named/containing glob survive the rewrite untouched
    assert(SqliteDialect.rewrite("SELECT glob FROM t WHERE glob = 3") ==
      "SELECT glob FROM t WHERE glob = 3")
    assert(dialect("""SELECT "my GLOB col" FROM VALUES (5) AS t("my GLOB col")""")
      .as[Int].head() == 5)
    // and a real GLOB after a glob-ish identifier still rewrites
    assert(SqliteDialect.rewrite("SELECT glob FROM t WHERE s GLOB 'a*'") ==
      "SELECT glob FROM t WHERE s LIKE 'a%'")
  }

  test("rewrite: comments are removed before the scans, hints kept") {
    Seq(("Acme", "Alpha", 1), ("Bolt", "Beta", 2))
      .toDF("company", "name", "a").createOrReplaceTempView("t")
    try {
      val withApostrophe = Seq(
        "SELECT \"company\" -- the bank's name\nFROM t WHERE name GLOB 'A*'",
        "SELECT company /* don't */ FROM t WHERE name GLOB 'A*'")
      withApostrophe.foreach { in =>
        val out = SqliteDialect.rewrite(in)
        assert(!out.contains("--") && !out.contains("/*"), out)
        assert(dialect(in).as[String].collect().toSeq === Seq("Acme"))
      }
      assert(SqliteDialect.rewrite("SELECT a FROM t -- it's") === "SELECT a FROM t  ")
      assert(spark.sql(SqliteDialect.rewrite("SELECT a FROM t -- it's"))
        .as[Int].collect().sorted.toSeq === Seq(1, 2))
    } finally spark.catalog.dropTempView("t")
    // comment markers inside the three quote forms are text, not comments
    val quoted = "SELECT '--x', \"a/*b\", `c--d` FROM u WHERE s = 'it''s /* no */'"
    assert(SqliteDialect.stripComments(quoted) === quoted)
    // optimizer hints pass through verbatim
    assert(SqliteDialect.stripComments("SELECT /*+ BROADCAST(d) */ * FROM f /* x */") ===
      "SELECT /*+ BROADCAST(d) */ * FROM f  ")
  }

  test("rewrite: backtick identifiers pass through the quote and strftime scans") {
    val tick = "SELECT `a\"b` FROM bt"
    assert(SqliteDialect.rewrite(tick) === tick)
    Seq(7).toDF("a\"b").createOrReplaceTempView("bt")
    try assert(spark.sql(SqliteDialect.rewrite(tick)).as[Int].head() === 7)
    finally spark.catalog.dropTempView("bt")

    val ship = """SELECT strftime('%Y-%m', "ship,date") AS ym FROM st"""
    Seq(java.sql.Timestamp.valueOf("2024-03-05 07:08:09")).toDF("ship,date")
      .createOrReplaceTempView("st")
    try assert(dialect(ship).as[String].head() === "2024-03")
    finally spark.catalog.dropTempView("st")
  }

  test("sql: strftime is registered on a session's first dialect query, once") {
    val fresh = spark.newSession()
    val registry = fresh.sessionState.functionRegistry
    val id = org.apache.spark.sql.catalyst.FunctionIdentifier("strftime")
    assert(!registry.functionExists(id))
    val q = "SELECT strftime('%Y-%m', d) FROM VALUES (DATE '2024-03-05') AS t(d)"
    assert(SqliteDialect.sql(fresh, q).as[String](org.apache.spark.sql.Encoders.STRING)
      .collect().toSeq == Seq("2024-03"))
    assert(registry.functionExists(id))
    assert(SqliteDialect.sql(fresh, q).collect().length == 1)
  }

  test("sql: double-quoted identifiers parse with ANSI off, and the session keeps its semantics") {
    val lenient = spark.newSession()
    lenient.conf.set("spark.sql.ansi.enabled", "false")
    val r = SqliteDialect.sql(lenient,
      """SELECT "v w" AS "out", CAST('abc' AS INT) AS c FROM VALUES (7) AS t("v w")""").head()
    // the identifier read; the cast is the session's non-ANSI one (NULL,
    // not an error): only the parse saw the identifier setting
    assert(r.getInt(0) == 7 && r.isNullAt(1))
    assert(lenient.conf.get("spark.sql.ansi.enabled") == "false")
    assert(lenient.sql("SELECT \"x\"").head.getString(0) == "x")
  }

  /** One company per product, so each bare `company` has one value. */
  private def complaints(): Unit =
    Seq(("Bank of America", "Mortgage"), ("Bank of America", "Mortgage"),
      ("Bank of America", "Credit reporting"), ("Wells Fargo & Company", "Credit card"))
      .toDF("company", "product").createOrReplaceTempView("complaints")

  test("sql: a bare column resolves to the group's value, as any_value") {
    complaints()
    // the reference's query-1 shape (run_main_example.py:14-18):
    // `company` is selected but only `product` is grouped
    val out = dialect(
      """SELECT company, product, COUNT(product) AS number_of_complaints
         FROM complaints WHERE company = 'Bank of America'
         GROUP BY product ORDER BY product""").collect()
    assert(out.map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSeq == Seq(
      ("Bank of America", "Credit reporting", 1L), ("Bank of America", "Mortgage", 2L)))
    // inside an expression, next to a grouped column and an aggregate
    assert(dialect("SELECT upper(company) || product AS c, max(company) FROM complaints " +
      "WHERE product = 'Credit card' GROUP BY product").head().toSeq ==
      Seq("WELLS FARGO & COMPANYCredit card", "Wells Fargo & Company"))
  }

  test("spark.sql still rejects a bare column") {
    complaints()
    val e = intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql("SELECT company, COUNT(product) FROM complaints GROUP BY product")
    }
    assert(e.getCondition == "MISSING_AGGREGATION", e.getMessage)
  }

  test("sql: bare columns in HAVING, ORDER BY and an outer query") {
    complaints()
    def rows(q: String) = dialect(q).collect().map(_.toSeq.mkString("|")).toSeq
    assert(rows("""SELECT company, product, COUNT(*) AS n FROM complaints
         GROUP BY product HAVING company <> 'Bank of America'""") ==
      Seq("Wells Fargo & Company|Credit card|1"))
    assert(rows("SELECT company, product FROM complaints GROUP BY product " +
      "ORDER BY company DESC, product") == Seq("Wells Fargo & Company|Credit card",
      "Bank of America|Credit reporting", "Bank of America|Mortgage"))
    assert(rows("""SELECT company, n FROM
         (SELECT company, COUNT(*) AS n FROM complaints GROUP BY product) q
         WHERE n > 1""") == Seq("Bank of America|2"))
  }

  test("strftime directives map to Spark date_format patterns") {
    assert(SqliteDialect.strftimeToSpark("%Y-%m-%d") == "yyyy-MM-dd")
    assert(SqliteDialect.strftimeToSpark("%H:%M:%S") == "HH:mm:ss")
    intercept[IllegalArgumentException] {
      SqliteDialect.strftimeToSpark("%s") // epoch-seconds directive
    }
    val out = Seq(java.sql.Timestamp.valueOf("2024-03-05 07:08:09"))
      .toDF("ts")
      .select(date_format(col("ts"),
        SqliteDialect.strftimeToSpark("%Y/%m/%d %H:%M")).as("f"))
      .as[String].head()
    assert(out == "2024/03/05 07:08")
  }
}
