package graft.operators

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions.col

import graft.SparkSpec
import org.apache.spark.sql.types._

class CombinatorsSpec extends SparkSpec {
  import spark.implicits._

  test("prefixColumns renames every column (A10)") {
    val df = Seq((1, "a")).toDF("x", "y")
    val out = Combinators.prefixColumns(df, "m.xlsx")
    assert(out.columns.toSeq == Seq("m.xlsx_x", "m.xlsx_y"))
    assert(out.collect() === Array(Row(1, "a")))
  }

  test("pivotStack: provenance column + union; count invariant") {
    val a = Seq(("p1", 2L), ("p2", 3L)).toDF("k", "n")
    val b = Seq(("p1", 5L)).toDF("k", "n")
    val out = Combinators.pivotStack(Seq("fileA" -> a, "fileB" -> b))
    assert(out.columns.toSeq == Seq("index", "k", "n"))
    assert(out.count() == a.count() + b.count())
    assert(out.filter(col("index") === "fileB").collect() ===
      Array(Row("fileB", "p1", 5L)))
  }

  test("pivotStack: strict schema mismatch error (Q12)") {
    val a = Seq((1, "x")).toDF("k", "v")
    val b = Seq((1, "x")).toDF("k", "other")
    val e = intercept[IllegalArgumentException] {
      Combinators.pivotStack(Seq("a" -> a, "b" -> b))
    }
    assert(e.getMessage.contains("schema mismatch"))
    assert(e.getMessage.contains("'b'"))
  }

  test("positionalConcat: ragged lengths NULL-pad; width invariant (Q6)") {
    val a = Seq(("r1", 1L), ("r2", 2L), ("r3", 3L)).toDF("k", "n")
    val b = Seq(("s1", 10L)).toDF("k", "n")
    val out = Combinators.positionalConcat(Seq(
      ("a", a, Seq(col("k"))), ("b", b, Seq(col("k")))))
    assert(out.columns.toSeq == Seq("row_id", "a_k", "a_n", "b_k", "b_n"))
    val rows = out.collect()
    assert(rows.length == 3)
    assert(rows(0) == Row(1, "r1", 1L, "s1", 10L))
    // rows beyond b's length are null-padded, types unchanged (no
    // pandas int→float flip — divergence documented in SURVEY.md Q6)
    assert(rows(2) == Row(3, "r3", 3L, null, null))
    assert(out.schema("b_n").dataType == LongType)
  }

  test("positionalConcat: misuse guard fails loudly past maxRowsPerPart") {
    val big = spark.range(10).toDF("n")
    val e = intercept[Exception] {
      Combinators.positionalConcat(
        Seq(("a", big, Seq(col("n")))), maxRowsPerPart = 5).collect()
    }
    // assert_true raises through Spark's task failure wrapper — the
    // operator's message must survive to the caller
    val messages = Iterator.iterate[Throwable](e)(_.getCause)
      .takeWhile(_ != null).flatMap(t => Option(t.getMessage)).mkString("\n")
    assert(messages.contains("single-tasks each part"))
    // at/below the ceiling: untouched output
    val ok = Combinators.positionalConcat(
      Seq(("a", big, Seq(col("n")))), maxRowsPerPart = 10)
    assert(ok.count() == 10)
  }
}
