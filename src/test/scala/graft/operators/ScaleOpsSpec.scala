package graft.operators

import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.functions._

import graft.{SparkSpec, Tables}

/** Skew salting and bucketing: results must equal the naive plans, and
  * the bucketed join must actually drop its shuffles.
  */
class ScaleOpsSpec extends SparkSpec {

  test("saltedJoin equals the plain join on a skewed key") {
    val li = Tables.df(spark, sf(), "lineitem")
    // l_suppkey is 10-valued at sf0.001 — every key is "hot"
    val sup = Tables.df(spark, sf(), "supplier")
    val plain = li.join(sup, li("l_suppkey") === sup("s_suppkey"))
      .groupBy(col("s_name")).agg(count(lit(1)).as("n"))
      .orderBy("s_name").collect()
    val salted = Skew.saltedJoin(li, sup, li("l_suppkey"), sup("s_suppkey"), 8)
      .groupBy(col("s_name")).agg(count(lit(1)).as("n"))
      .orderBy("s_name").collect()
    assert(salted === plain)
  }

  test("twoPhaseCountSum equals direct groupBy") {
    val o = Tables.df(spark, sf(), "orders")
    val direct = o.groupBy(col("o_orderstatus").as("__k"))
      .agg(count(lit(1)).as("n"), sum(col("o_totalprice")).as("total"))
      .orderBy("__k").collect()
    val twoPhase = Skew.twoPhaseCountSum(o, col("o_orderstatus"), 16,
        Seq(col("o_totalprice") -> "total"))
      .orderBy("__k").collect()
    assert(twoPhase.length == direct.length)
    twoPhase.zip(direct).foreach { case (a, b) =>
      assert(a.getString(0) == b.getString(0))
      assert(a.getLong(1) == b.getLong(1))
      assert(math.abs(a.getDouble(2) - b.getDouble(2)) < 1e-6)
    }
  }

  test("bucketed tables join without an exchange") {
    // warehouse dir is a static conf, set by SparkSpec at session build
    val c = Tables.df(spark, sf(), "customer")
    val o = Tables.df(spark, sf(), "orders")
    // bucket metadata lives in the catalog, so bucketing needs
    // saveAsTable, and the read goes through spark.table
    def writeBucketed(df: DataFrame, table: String): Unit =
      df.write.mode(SaveMode.Overwrite).bucketBy(4, "c_custkey")
        .sortBy("c_custkey").format("parquet").saveAsTable(table)
    writeBucketed(c.select("c_custkey", "c_mktsegment"), "c_bucketed")
    writeBucketed(o.select("o_custkey", "o_totalprice")
      .withColumnRenamed("o_custkey", "c_custkey"), "o_bucketed")
    val joined = spark.table("c_bucketed")
      .join(spark.table("o_bucketed"), "c_custkey")
    joined.collect() // materialize through AQE
    val p = joined.queryExecution.executedPlan.toString
    assert(!p.contains("Exchange hashpartitioning"),
      s"bucketed join still shuffles:\n$p")
    // and it is still correct
    assert(joined.count() ==
      c.join(o, c("c_custkey") === o("o_custkey")).count())
  }
}
