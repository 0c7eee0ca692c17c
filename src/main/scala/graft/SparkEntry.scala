package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.operators.Combinators

/** Driver contract — see SURVEY.md §7 + the builder prompt.
  *
  * Each entry in [[queries]] is a self-contained Spark job over the
  * testdata tables; [[oracleSql]] carries a DuckDB-runnable ANSI SQL
  * equivalent with identical column names, types, and row order.
  *
  * Determinism rules used throughout (so Spark and the DuckDB oracle
  * hash-match bit-for-bit):
  *   - floating-point SUMs go through an exact DECIMAL cast and come back
  *     as DOUBLE (addition order then cannot change the result);
  *   - AVG is expressed as exact-decimal SUM cast to double, divided by a
  *     COUNT — a single IEEE division, identical in both engines;
  *   - every result is fully ordered by a unique key combination;
  *   - integer COUNT/SUM results are cast to BIGINT (DuckDB's native
  *     HUGEINT for SUM(int) would diverge from Spark's BIGINT).
  */
object SparkEntry {

  /** Exact-arithmetic SUM of a double column/expression: round to cents,
    * then sum exactly. Scale MUST stay small (2): the coarser the decimal
    * grid, the lower the odds that Spark's shortest-string double→decimal
    * rounding and DuckDB's exact-binary-expansion rounding disagree near a
    * grid midpoint (measured: scale 10 diverges on this data, scale 2 is
    * ~1e-11/row).
    */
  private def dsum(c: Column): Column =
    sum(c.cast(DecimalType(18, 2))).cast(DoubleType)

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.df(s, dir, name)

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * Mirrors the reference's committed example (run_main_example.py:14-23):
    * filter + group + count + having, but over the star schema with a
    * broadcast dimension join.
    */
  def entry(spark: SparkSession): DataFrame = {
    val dir = "/root/testdata/sf0.001"
    val orders = t(spark, dir, "orders")
    val customer = t(spark, dir, "customer")
    orders
      .join(broadcast(customer), orders("o_custkey") === customer("c_custkey"))
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n_orders"), dsum(col("o_totalprice")).as("total"))
      .filter(col("n_orders") > 10)
      .orderBy(col("c_mktsegment"))
  }

  // ---------------------------------------------------------------------
  // Query inventory. One entry per implemented operator (SURVEY.md §2).
  // ---------------------------------------------------------------------

  def queries: Map[String, (SparkSession, String) => DataFrame] =
    ExtensionQueries.queries ++ relationalQueries

  private def relationalQueries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // B1+B3: projection + filter; predicate/column pushdown reach the scan.
    // (Bound is 1996: the generated l_shipdate range starts 1995-01-02,
    // so the gate compares ~1.7% of lineitem, not an empty set.)
    "q01_filter_project" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .filter(col("l_shipdate") < lit("1996-01-01").cast(TimestampType)
          && col("l_quantity") > 45)
        .select("l_orderkey", "l_linenumber", "l_quantity",
          "l_extendedprice", "l_returnflag")
        .orderBy(col("l_orderkey"), col("l_linenumber"))
    }),

    // B4+B5+B6: grouped count + HAVING (the reference's flagship shape,
    // run_main_example.py:20-23).
    "q02_agg_having" -> ((s, dir) => {
      t(s, dir, "orders")
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n_orders"))
        .filter(col("n_orders") > 100)
        .orderBy(col("o_orderpriority"))
    }),

    // TPC-H Q1 shape: multi-key group, exact-decimal sums, derived avg.
    "q03_group_multi" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
      li.groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          dsum(col("l_quantity")).as("sum_qty"),
          dsum(col("l_extendedprice")).as("sum_base_price"),
          // exact decimal product: operands are clean 2-dec values, so
          // cast BEFORE multiplying — rounding a computed double product
          // hits .xx5 ties where Spark and DuckDB round differently.
          sum(col("l_extendedprice").cast(DecimalType(18, 2))
              * (lit(1) - col("l_discount").cast(DecimalType(4, 2))))
            .cast(DoubleType).as("sum_disc_price"),
          count(lit(1)).as("count_order"))
        .withColumn("avg_qty", col("sum_qty") / col("count_order"))
        .select("l_returnflag", "l_linestatus", "sum_qty", "sum_base_price",
          "sum_disc_price", "avg_qty", "count_order")
        .orderBy(col("l_returnflag"), col("l_linestatus"))
    }),

    // Broadcast dimension joins: customer ⋈ nation ⋈ region (both dims
    // broadcast — no shuffle of the fact side beyond the final agg).
    "q04_join_broadcast" -> ((s, dir) => {
      val c = t(s, dir, "customer")
      val n = t(s, dir, "nation")
      val r = t(s, dir, "region")
      c.join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
        .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
        .groupBy(col("r_name"))
        .agg(count(lit(1)).as("n_cust"), dsum(col("c_acctbal")).as("total_bal"))
        .orderBy(col("r_name"))
    }),

    // Left outer join preserving customers without orders.
    "q05_join_left" -> ((s, dir) => {
      val c = t(s, dir, "customer")
      val o = t(s, dir, "orders")
      c.join(o, c("c_custkey") === o("o_custkey"), "left")
        .groupBy(col("c_custkey"))
        .agg(count(col("o_orderkey")).as("n_orders"),
          dsum(col("o_totalprice")).as("total_spent"))
        .orderBy(col("c_custkey"))
    }),

    // Semi join (EXISTS).
    "q06_join_semi" -> ((s, dir) => {
      val c = t(s, dir, "customer")
      val big = t(s, dir, "orders").filter(col("o_totalprice") > 400000)
      c.join(big, c("c_custkey") === big("o_custkey"), "left_semi")
        .select("c_custkey", "c_name")
        .orderBy(col("c_custkey"))
    }),

    // Anti join (NOT EXISTS): customers with no high-value order. (Every
    // generated customer has SOME order, so the unfiltered anti-join is
    // empty at every SF; the price filter keeps the gate non-vacuous.)
    "q07_join_anti" -> ((s, dir) => {
      val c = t(s, dir, "customer")
      val big = t(s, dir, "orders").filter(col("o_totalprice") > 450000)
      c.join(big, c("c_custkey") === big("o_custkey"), "left_anti")
        .select("c_custkey", "c_name", "c_mktsegment")
        .orderBy(col("c_custkey"))
    }),

    // DISTINCT aggregate alongside plain aggregates.
    "q08_distinct_agg" -> ((s, dir) => {
      t(s, dir, "orders")
        .groupBy(col("o_orderstatus"))
        .agg(countDistinct(col("o_custkey")).as("n_cust"),
          countDistinct(col("o_orderpriority")).as("n_prio"),
          count(lit(1)).as("n_orders"))
        .orderBy(col("o_orderstatus"))
    }),

    // GROUP_CONCAT parity: ordered string aggregation (SQLite
    // group_concat → sorted array_join for determinism).
    "q09_string_agg" -> ((s, dir) => {
      val sup = t(s, dir, "supplier")
      val n = t(s, dir, "nation")
      sup.join(broadcast(n), sup("s_nationkey") === n("n_nationkey"))
        .groupBy(col("n_name"))
        .agg(array_join(array_sort(collect_list(col("s_name"))), ",")
          .as("suppliers"),
          count(lit(1)).as("n_supp"))
        .orderBy(col("n_name"))
    }),

    // Window: top-3 per group via row_number, deterministic tie-break.
    "q10_window_topk" -> ((s, dir) => {
      val w = Window.partitionBy(col("c_mktsegment"))
        .orderBy(col("c_acctbal").desc, col("c_custkey"))
      t(s, dir, "customer")
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 3)
        .select("c_mktsegment", "rn", "c_custkey", "c_acctbal")
        .orderBy(col("c_mktsegment"), col("rn"))
    }),

    // Window: lag — days between consecutive orders per customer.
    "q11_window_lag" -> ((s, dir) => {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate"), col("o_orderkey"))
      t(s, dir, "orders")
        .withColumn("prev_date",
          lag(col("o_orderdate").cast(DateType), 1).over(w))
        .withColumn("gap_days",
          datediff(col("o_orderdate").cast(DateType), col("prev_date")))
        .select("o_custkey", "o_orderkey", "gap_days")
        .orderBy(col("o_custkey"), col("o_orderkey"))
    }),

    // Window: running frame sum (ROWS UNBOUNDED PRECEDING..CURRENT ROW).
    "q12_window_running" -> ((s, dir) => {
      val w = Window.partitionBy(col("l_suppkey"))
        .orderBy(col("l_shipdate"), col("l_orderkey"), col("l_linenumber"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      t(s, dir, "lineitem")
        .filter(col("l_suppkey") <= 10)
        .withColumn("run_qty",
          sum(col("l_quantity").cast(DecimalType(18, 2))).over(w)
            .cast(DoubleType))
        .select("l_suppkey", "l_orderkey", "l_linenumber", "run_qty")
        .orderBy(col("l_suppkey"), col("l_orderkey"), col("l_linenumber"))
    }),

    // Global top-k: ORDER BY ... LIMIT (TakeOrderedAndProject).
    "q13_topk_global" -> ((s, dir) => {
      t(s, dir, "orders")
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        .select("o_orderkey", "o_custkey", "o_totalprice")
        .limit(10)
    }),

    // Set op: EXCEPT — customers with finished orders but no open ones
    // (the complement of q15's INTERSECT; non-empty at every SF, unlike
    // the old nationkey EXCEPT where all 25 nations appear in every
    // segment).
    "q14_except" -> ((s, dir) => {
      val o = t(s, dir, "orders")
      val f = o.filter(col("o_orderstatus") === "F").select("o_custkey")
      val oo = o.filter(col("o_orderstatus") === "O").select("o_custkey")
      f.except(oo).orderBy(col("o_custkey"))
    }),

    // Set op: INTERSECT.
    "q15_intersect" -> ((s, dir) => {
      val o = t(s, dir, "orders")
      val f = o.filter(col("o_orderstatus") === "F").select("o_custkey")
      val oo = o.filter(col("o_orderstatus") === "O").select("o_custkey")
      f.intersect(oo).orderBy(col("o_custkey"))
    }),

    // Scalar subquery via the SQL pass-through surface (SURVEY.md §2.C).
    // 1.8× the mean selects ~4% of orders (2× selected none: generated
    // prices cap at ~2× the mean). The mean is computed as an EXACT
    // decimal sum divided by the count — a plain double avg() depends on
    // summation order, so Spark and DuckDB could disagree by an ULP and
    // flip boundary rows.
    "q16_scalar_subquery" -> ((s, dir) => {
      Tables.registerAll(s, dir)
      s.sql("""
        SELECT o_orderkey, o_totalprice
        FROM orders
        WHERE o_totalprice > 1.8 * (
          SELECT CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) / count(*)
          FROM orders)
        ORDER BY o_orderkey""")
    }),

    // CTE + join + agg via SQL pass-through (TPC-H Q15 shape).
    "q17_cte_revenue" -> ((s, dir) => {
      Tables.registerAll(s, dir)
      s.sql("""
        WITH revenue AS (
          SELECT l_suppkey,
                 CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                   * (1 - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS total_revenue
          FROM lineitem GROUP BY l_suppkey)
        SELECT s_suppkey, s_name, total_revenue
        FROM supplier JOIN revenue ON s_suppkey = l_suppkey
        ORDER BY total_revenue DESC, s_suppkey
        LIMIT 10""")
    }),

    // CASE WHEN / COALESCE / NULLIF / CAST.
    "q18_case_null" -> ((s, dir) => {
      t(s, dir, "orders")
        .withColumn("bucket",
          when(col("o_totalprice") > 300000, "big")
            .when(col("o_totalprice") > 150000, "mid")
            .otherwise("small"))
        .withColumn("status_or_open",
          coalesce(nullif(col("o_orderstatus"), lit("O")), lit("open")))
        .groupBy(col("bucket"), col("status_or_open"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("bucket"), col("status_or_open"))
    }),

    // String function battery.
    "q19_string_funcs" -> ((s, dir) => {
      t(s, dir, "part")
        .filter(col("p_name").like("%a%"))
        .select(
          col("p_partkey"),
          upper(col("p_brand")).as("brand_up"),
          lower(col("p_type")).as("type_lo"),
          length(col("p_name")).as("name_len"),
          substring(col("p_name"), 1, 5).as("name_pre"),
          regexp_replace(col("p_type"), " ", "_").as("type_us"),
          instr(col("p_type"), "BRASS").as("brass_pos"),
          trim(concat(lit("  "), col("p_brand"), lit(" "))).as("brand_trim"))
        .orderBy(col("p_partkey"))
    }),

    // Date/time function battery.
    "q20_date_funcs" -> ((s, dir) => {
      t(s, dir, "orders")
        .groupBy(year(col("o_orderdate")).as("yr"),
          month(col("o_orderdate")).as("mo"))
        .agg(count(lit(1)).as("n"),
          min(col("o_orderdate").cast(DateType)).as("first_day"),
          max(col("o_orderdate").cast(DateType)).as("last_day"))
        .orderBy(col("yr"), col("mo"))
    }),

    // Math battery — integer-exact arithmetic.
    "q21_math_funcs" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .filter(col("l_orderkey") <= 500)
        .select(
          col("l_orderkey"), col("l_linenumber"),
          (col("l_orderkey") % 7).as("mod7"),
          abs(col("l_partkey") - col("l_suppkey")).as("absdiff"),
          least(col("l_partkey"), col("l_suppkey")).as("lo"),
          greatest(col("l_partkey"), col("l_suppkey")).as("hi"),
          (col("l_quantity").cast(DecimalType(18, 2)) * 3)
            .cast(DoubleType).as("qty3"))
        .orderBy(col("l_orderkey"), col("l_linenumber"))
    }),

    // ROLLUP (Spark-native superset of the SQLite surface).
    "q22_rollup" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n"))
        .orderBy(asc_nulls_first("l_returnflag"),
          asc_nulls_first("l_linestatus"))
    }),

    // A11 pivot stack: union per-source results + `index` provenance col
    // (reference query_iterator.py:141-158), via Combinators.pivotStack.
    "q23_pivot_stack" -> ((s, dir) => {
      val o = t(s, dir, "orders")
      def counts(status: String): DataFrame =
        o.filter(col("o_orderstatus") === status)
          .groupBy(col("o_orderpriority"))
          .agg(count(lit(1)).as("n"))
      Combinators
        .pivotStack(Seq("orders_F" -> counts("F"), "orders_O" -> counts("O")))
        .orderBy(col("index"), col("o_orderpriority"))
    }),

    // A12 positional concat: align two results by row position, NULL-pad
    // ragged lengths (reference query_iterator.py:180-181), via
    // Combinators.positionalConcat.
    "q24_positional_concat" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
      val a = li.groupBy(col("l_returnflag")).agg(count(lit(1)).as("n"))
      val b = li.groupBy(col("l_linestatus")).agg(count(lit(1)).as("n"))
      Combinators.positionalConcat(Seq(
        ("a", a, Seq(col("l_returnflag"))),
        ("b", b, Seq(col("l_linestatus")))))
    }),

    // A10 prefix rename over a query result
    // (reference query_iterator.py:111-119).
    "q25_prefix_rename" -> ((s, dir) => {
      val base = t(s, dir, "orders")
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n_orders"))
      Combinators.prefixColumns(base, "orders.xlsx")
        .orderBy(col("`orders.xlsx_o_orderpriority`"))
    }),

    // LIMIT + OFFSET pagination.
    "q26_limit_offset" -> ((s, dir) => {
      t(s, dir, "orders")
        .orderBy(col("o_orderkey"))
        .select("o_orderkey", "o_orderstatus")
        .offset(10)
        .limit(20)
    }),

    // DISTINCT.
    "q27_distinct" -> ((s, dir) => {
      t(s, dir, "orders")
        .select("o_orderstatus", "o_orderpriority")
        .distinct()
        .orderBy(col("o_orderstatus"), col("o_orderpriority"))
    }),

    // Full window-function suite: rank/dense_rank/percent_rank/cume_dist/
    // ntile/lead/first_value/nth_value over a tie-rich bucket ordering.
    "q28_window_suite" -> ((s, dir) => {
      val base = t(s, dir, "orders").filter(col("o_custkey") < 100)
        .withColumn("bucket", floor(col("o_totalprice") / 50000).cast(IntegerType))
      val w = Window.partitionBy(col("o_orderstatus"))
        .orderBy(col("bucket"), col("o_orderkey"))
      val wTies = Window.partitionBy(col("o_orderstatus")).orderBy(col("bucket"))
      base.select(
          col("o_orderstatus"), col("o_orderkey"), col("bucket"),
          rank().over(wTies).as("rnk"),
          dense_rank().over(wTies).as("drnk"),
          percent_rank().over(wTies).as("prnk"),
          cume_dist().over(wTies).as("cdist"),
          ntile(4).over(w).as("quartile"),
          lead(col("o_orderkey"), 1).over(w).as("next_key"),
          first_value(col("o_orderkey")).over(w).as("first_key"),
          nth_value(col("o_orderkey"), 2).over(w).as("second_key"))
        .orderBy(col("o_orderstatus"), col("bucket"), col("o_orderkey"))
    }),

    // CUBE (strict superset of the SQLite surface, like ROLLUP).
    "q29_cube" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .cube(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n"))
        .orderBy(asc_nulls_first("l_returnflag"),
          asc_nulls_first("l_linestatus"))
    }),

    // GROUPING SETS via the SQL surface.
    "q30_grouping_sets" -> ((s, dir) => {
      Tables.registerAll(s, dir)
      s.sql("""
        SELECT o_orderstatus, o_orderpriority, count(*) AS n
        FROM orders
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
        ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST""")
    }),

    // Explicit CROSS JOIN.
    "q31_cross_join" -> ((s, dir) => {
      val r = t(s, dir, "region")
      val n = t(s, dir, "nation")
      r.crossJoin(n).select(col("r_name"), col("n_name"))
        .orderBy(col("r_name"), col("n_name"))
    }),

    // UNION (distinct) vs UNION ALL (q23 covers ALL).
    "q32_union_distinct" -> ((s, dir) => {
      val c = t(s, dir, "customer")
      c.filter(col("c_mktsegment") === "BUILDING").select("c_nationkey")
        .union(c.filter(col("c_mktsegment") === "MACHINERY").select("c_nationkey"))
        .distinct()
        .orderBy(col("c_nationkey"))
    }),

    // Multiset set ops: EXCEPT ALL / INTERSECT ALL.
    "q33_except_all" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
      val a = li.filter(col("l_returnflag") === "A").select("l_suppkey")
      val n = li.filter(col("l_returnflag") === "N").select("l_suppkey")
      a.exceptAll(n).orderBy(col("l_suppkey"))
    }),

    // IN (subquery) — decorrelated into a semi join by Catalyst.
    "q34_in_subquery" -> ((s, dir) => {
      Tables.registerAll(s, dir)
      s.sql("""
        SELECT o_orderkey, o_custkey FROM orders
        WHERE o_custkey IN (SELECT c_custkey FROM customer WHERE c_acctbal < 0)
        ORDER BY o_orderkey""")
    }),

    // Correlated scalar subquery in the select list.
    "q35_correlated_scalar" -> ((s, dir) => {
      Tables.registerAll(s, dir)
      s.sql("""
        SELECT c_custkey,
          (SELECT count(*) FROM orders o WHERE o.o_custkey = c.c_custkey) AS n_orders
        FROM customer c
        ORDER BY c_custkey""")
    }),

    // Date arithmetic battery: day offsets, quarter, day-of-year, last_day.
    "q36_date_arith" -> ((s, dir) => {
      t(s, dir, "orders")
        .filter(col("o_orderkey") <= 1000)
        .select(
          col("o_orderkey"),
          date_add(col("o_orderdate").cast(DateType), 30).as("plus30"),
          quarter(col("o_orderdate")).as("qtr"),
          dayofyear(col("o_orderdate")).as("doy"),
          last_day(col("o_orderdate").cast(DateType)).as("month_end"))
        .orderBy(col("o_orderkey"))
    }),

    // String-function battery 2: printf/pad/reverse/repeat/translate/
    // split_part/left/right (SQLite printf + common scalar surface).
    "q37_string_funcs2" -> ((s, dir) => {
      t(s, dir, "supplier")
        .select(
          col("s_suppkey"),
          format_string("%s-%03d", col("s_name"), col("s_nationkey")).as("tagged"),
          lpad(col("s_name"), 25, "*").as("padded_l"),
          rpad(substring(col("s_name"), 1, 10), 12, ".").as("padded_r"),
          reverse(col("s_name")).as("rev"),
          repeat(lit("ab"), 3).as("rep"),
          translate(col("s_name"), "S#", "s_").as("trans"),
          split_part(col("s_name"), lit("#"), lit(2)).as("num_part"),
          substring(col("s_name"), 1, 3).as("left3"),
          col("s_name").substr(length(col("s_name")) - 2, lit(3)).as("right3"))
        .orderBy(col("s_suppkey"))
    }),

    // RANGE window frames (value-based, tie-stable) + ILIKE, via the SQL
    // surface.
    "q38_range_frame" -> ((s, dir) => {
      Tables.registerAll(s, dir)
      s.sql("""
        SELECT o_orderkey, o_orderstatus, price_bucket,
          CAST(count(*) OVER (
            PARTITION BY o_orderstatus ORDER BY price_bucket
            RANGE BETWEEN 10000 PRECEDING AND CURRENT ROW) AS BIGINT)
            AS n_in_band
        FROM (SELECT o_orderkey, o_orderstatus,
                CAST(floor(o_totalprice) AS BIGINT) AS price_bucket
              FROM orders
              WHERE o_orderpriority ILIKE '%urgent%' AND o_orderkey <= 3000) t
        ORDER BY o_orderstatus, price_bucket, o_orderkey""")
    }),

    // Exact interpolated percentiles (over an integer-valued measure, so
    // linear interpolation is float-exact in any engine).
    "q39_percentile" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(
          expr("percentile(l_quantity, 0.25)").as("p25"),
          expr("percentile(l_quantity, 0.5)").as("median"),
          expr("percentile(l_quantity, 0.75)").as("p75"),
          count(lit(1)).as("n"))
        .orderBy(col("l_returnflag"))
    }),

    // Raw SQLite-dialect SQL through the dialect's entry point
    // (pipeline.SqliteDialect.sql): GLOB → LIKE, strftime → the session
    // function building date_format (argument swap), and the
    // double-quoted identifier read by Spark's own parser.
    // This is the reference's pass-through contract end to end
    // (reference query.py:13-27 / query_iterator.py:131): the string
    // below is exactly what a SQLite user would have written.
    "q40_sqlite_dialect" -> ((s, dir) => {
      Tables.registerAll(s, dir)
      val sqliteSql = """
        SELECT o_orderkey, strftime('%Y-%m', o_orderdate) AS ym,
               "o_totalprice" AS price
        FROM orders
        WHERE o_orderpriority GLOB '*URGENT*' AND o_orderkey <= 2000
        ORDER BY o_orderkey"""
      pipeline.SqliteDialect.sql(s, sqliteSql)
    }),

    // SQLite GROUPS window frames through the dialect rewrite: numeric
    // bounds become RANGE over a hoisted dense_rank() subquery (Spark
    // can't nest window functions); UNBOUNDED/CURRENT ROW bounds become
    // RANGE verbatim (identical semantics — whole peer groups either
    // way). The ORDER BY key (order year) is deliberately coarse so
    // peer groups have many members and GROUPS visibly differs from
    // ROWS. DuckDB supports GROUPS natively, so the oracle runs the
    // same frames unemulated — a true semantics check.
    "q42_groups_frames" -> ((s, dir) => {
      Tables.registerAll(s, dir)
      val sqliteSql = """
        SELECT o_custkey, o_orderkey,
               count(*) OVER (PARTITION BY o_custkey
                              ORDER BY strftime('%Y', o_orderdate)
                              GROUPS BETWEEN 1 PRECEDING AND CURRENT ROW) AS w2,
               count(*) OVER (PARTITION BY o_custkey
                              ORDER BY strftime('%Y', o_orderdate)
                              GROUPS UNBOUNDED PRECEDING) AS wcum
        FROM orders WHERE o_orderkey <= 4000
        ORDER BY o_custkey, o_orderkey"""
      pipeline.SqliteDialect.sql(s, sqliteSql)
    }),

    // Round-7 dialect residuals, both formerly documented limits:
    // GLOB character classes (→ anchored RLIKE regex — LIKE can't
    // express [..]) and strftime datetime modifiers ('+1 month',
    // 'start of month' → interval arithmetic + date_trunc, applied
    // left-to-right as SQLite does before formatting).
    "q43_dialect_glob_strftime" -> ((s, dir) => {
      Tables.registerAll(s, dir)
      val sqliteSql = """
        SELECT o_orderkey,
               strftime('%Y-%m', o_orderdate, '+1 month', 'start of month') AS next_month,
               o_orderpriority AS prio
        FROM orders
        WHERE o_orderpriority GLOB '[12]-*' AND o_orderkey <= 3000
        ORDER BY o_orderkey"""
      pipeline.SqliteDialect.sql(s, sqliteSql)
    }),

    // Round-9 dialect residual (formerly a documented "genuinely
    // untranslatable" limit): window-frame EXCLUDE clauses, emulated
    // for decomposable aggregates as frame-minus-exclusion window
    // arithmetic (SqliteDialect.rewriteExclude). All three exclusion
    // kinds over real peer groups (coarse year key ⇒ ties), plus a
    // well-ordered ROWS frame for CURRENT ROW; the oracle runs DuckDB's
    // NATIVE EXCLUDE — a true semantics check, not a mirrored unroll.
    "q44_window_exclude" -> ((s, dir) => {
      Tables.registerAll(s, dir)
      val sqliteSql = """
        SELECT o_custkey, o_orderkey,
               sum(o_orderkey % 100) OVER (PARTITION BY o_custkey ORDER BY o_orderkey
                 ROWS BETWEEN 2 PRECEDING AND 2 FOLLOWING EXCLUDE CURRENT ROW) AS s_cur,
               sum(o_orderkey % 100) OVER (PARTITION BY o_custkey
                 ORDER BY strftime('%Y', o_orderdate) EXCLUDE GROUP) AS s_grp,
               sum(o_orderkey % 100) OVER (PARTITION BY o_custkey
                 ORDER BY strftime('%Y', o_orderdate) EXCLUDE TIES) AS s_ties,
               count(*) OVER (PARTITION BY o_custkey
                 ORDER BY strftime('%Y', o_orderdate) EXCLUDE GROUP) AS c_grp
        FROM orders WHERE o_orderkey <= 4000
        ORDER BY o_custkey, o_orderkey"""
      pipeline.SqliteDialect.sql(s, sqliteSql)
    }),

    // Round-10 widening of the EXCLUDE emulation: MIN/MAX under
    // EXCLUDE CURRENT ROW on ROWS frames via frame-splitting
    // (LEAST/GREATEST over the sub-frames strictly before/after the
    // current row). Three frame shapes exercise both-sides, left-only
    // (running max: NULL at each partition head), and right-only
    // splits. The oracle runs DuckDB's NATIVE EXCLUDE again.
    "q45_window_exclude_minmax" -> ((s, dir) => {
      Tables.registerAll(s, dir)
      val sqliteSql = """
        SELECT o_custkey, o_orderkey,
               min(o_orderkey % 100) OVER (PARTITION BY o_custkey ORDER BY o_orderkey
                 ROWS BETWEEN 2 PRECEDING AND 2 FOLLOWING EXCLUDE CURRENT ROW) AS mn,
               max(o_orderkey % 100) OVER (PARTITION BY o_custkey ORDER BY o_orderkey
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW EXCLUDE CURRENT ROW) AS mx_run,
               min(o_orderkey % 100) OVER (PARTITION BY o_custkey ORDER BY o_orderkey
                 ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING EXCLUDE CURRENT ROW) AS mn_fwd
        FROM orders WHERE o_orderkey <= 4000
        ORDER BY o_custkey, o_orderkey"""
      pipeline.SqliteDialect.sql(s, sqliteSql)
    }),

    // Round-11 widening of the EXCLUDE emulation (VERDICT r10 "What's
    // missing" #2): MEDIAN under EXCLUDE CURRENT ROW on ROWS frames by
    // frame-splitting + VALUE merge — collect_list over the sub-frames
    // strictly before/after the current row, exact interpolated median
    // of the sorted concatenation. Same three frame shapes as q45
    // (both-sides, left-only with NULL at each partition head,
    // right-only); the oracle runs DuckDB's NATIVE EXCLUDE median — a
    // true semantics check including NULL-on-empty and even-count
    // interpolation.
    "q46_window_exclude_median" -> ((s, dir) => {
      Tables.registerAll(s, dir)
      val sqliteSql = """
        SELECT o_custkey, o_orderkey,
               median(o_orderkey % 100) OVER (PARTITION BY o_custkey ORDER BY o_orderkey
                 ROWS BETWEEN 2 PRECEDING AND 2 FOLLOWING EXCLUDE CURRENT ROW) AS md,
               median(o_orderkey % 100) OVER (PARTITION BY o_custkey ORDER BY o_orderkey
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW EXCLUDE CURRENT ROW) AS md_run,
               median(o_orderkey % 100) OVER (PARTITION BY o_custkey ORDER BY o_orderkey
                 ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING EXCLUDE CURRENT ROW) AS md_fwd
        FROM orders WHERE o_orderkey <= 4000
        ORDER BY o_custkey, o_orderkey"""
      pipeline.SqliteDialect.sql(s, sqliteSql)
    }),

    // Native recursive CTE (Spark 4.1 WITH RECURSIVE — formerly listed
    // as a dialect gap; it is fully supported): month generator joined
    // against orders.
    "q41_recursive_cte" -> ((s, dir) => {
      Tables.registerAll(s, dir)
      s.sql("""
        WITH RECURSIVE months(m) AS (
          SELECT 1 UNION ALL SELECT m + 1 FROM months WHERE m < 12)
        SELECT m, count(o_orderkey) AS n
        FROM months LEFT JOIN orders ON month(o_orderdate) = m
        GROUP BY m ORDER BY m""")
    }),

    // A1 end-to-end against the oracle: write the nation/region dims to
    // a real xlsx via XlsxWriter, read them back through the `excel`
    // DSv2 source (StAX parse + schema inference — the reference's core
    // ingest path, fsheet.py:33-36), and join. The oracle reads the same
    // parquet directly, so a hash match proves the Excel writer+reader
    // round-trip the data exactly. Integral columns infer as BIGINT from
    // Excel numeric cells; cast back to INT to match the parquet schema.
    "x03_excel_roundtrip" -> ((s, dir) => {
      // per-PROCESS unique path: two JVMs running the same SF
      // concurrently (correctness gate + bench) must not race a shared
      // file — a reader of a half-written zip sees a corrupt xlsx
      val xlsx = java.nio.file.Paths.get(
        System.getProperty("java.io.tmpdir"),
        s"graft_x03_${java.nio.file.Paths.get(dir).getFileName}_" +
          s"${ProcessHandle.current().pid()}.xlsx").toString
      sources.excel.XlsxWriter.write(xlsx, Seq(
        "nation" -> t(s, dir, "nation"),
        "region" -> t(s, dir, "region")))
      new java.io.File(xlsx).deleteOnExit()
      val n = s.read.format("excel").option("sheet", "nation").load(xlsx)
      val r = s.read.format("excel").option("sheet", "region").load(xlsx)
      n.join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
        .select(col("n_nationkey").cast(IntegerType).as("n_nationkey"),
          col("n_name"), col("r_name"))
        .orderBy(col("n_nationkey"))
    }),

    // A1+A13 date parity (round 7): timestamps written to xlsx the way
    // Excel actually stores dates — serial number + date-format style —
    // and read back through the DSv2 source's style-aware inference as
    // TIMESTAMP (pandas datetime64 parity, SURVEY.md §1.2 row 3). The
    // oracle reads the same rows from parquet, so a hash match proves
    // serial↔timestamp conversion is exact both directions.
    "x06_excel_dates" -> ((s, dir) => {
      val xlsx = java.nio.file.Paths.get(
        System.getProperty("java.io.tmpdir"),
        s"graft_x06_${java.nio.file.Paths.get(dir).getFileName}_" +
          s"${ProcessHandle.current().pid()}.xlsx").toString
      sources.excel.XlsxWriter.write(xlsx, Seq(
        "orders" -> t(s, dir, "orders")
          .filter(col("o_orderkey") <= 1500)
          .select(col("o_orderkey"), col("o_orderdate"), col("o_totalprice"))))
      new java.io.File(xlsx).deleteOnExit()
      s.read.format("excel").option("sheet", "orders").load(xlsx)
        .select(col("o_orderkey"), col("o_orderdate"), col("o_totalprice"))
        .orderBy(col("o_orderkey"))
    })
  )

  // ---------------------------------------------------------------------
  // DuckDB oracle SQL — identical column names & ordering per query.
  // ---------------------------------------------------------------------

  def oracleSql: Map[String, String] =
    ExtensionQueries.oracleSql ++ relationalOracleSql

  private def relationalOracleSql: Map[String, String] = Map(
    "q01_filter_project" ->
      """SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice, l_returnflag
         FROM lineitem
         WHERE l_shipdate < TIMESTAMP '1996-01-01' AND l_quantity > 45
         ORDER BY l_orderkey, l_linenumber""",

    "q02_agg_having" ->
      """SELECT o_orderpriority, count(*) AS n_orders
         FROM orders GROUP BY o_orderpriority
         HAVING count(*) > 100
         ORDER BY o_orderpriority""",

    "q03_group_multi" ->
      """SELECT l_returnflag, l_linestatus,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS sum_disc_price,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS avg_qty,
           count(*) AS count_order
         FROM lineitem
         GROUP BY l_returnflag, l_linestatus
         ORDER BY l_returnflag, l_linestatus""",

    "q04_join_broadcast" ->
      """SELECT r_name, count(*) AS n_cust,
           CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_bal
         FROM customer
         JOIN nation ON c_nationkey = n_nationkey
         JOIN region ON n_regionkey = r_regionkey
         GROUP BY r_name ORDER BY r_name""",

    "q05_join_left" ->
      """SELECT c_custkey, count(o_orderkey) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_spent
         FROM customer LEFT JOIN orders ON c_custkey = o_custkey
         GROUP BY c_custkey ORDER BY c_custkey""",

    "q06_join_semi" ->
      """SELECT c_custkey, c_name FROM customer c
         WHERE EXISTS (SELECT 1 FROM orders o
                       WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 400000)
         ORDER BY c_custkey""",

    "q07_join_anti" ->
      """SELECT c_custkey, c_name, c_mktsegment FROM customer c
         WHERE NOT EXISTS (SELECT 1 FROM orders o
                           WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 450000)
         ORDER BY c_custkey""",

    "q08_distinct_agg" ->
      """SELECT o_orderstatus,
           count(DISTINCT o_custkey) AS n_cust,
           count(DISTINCT o_orderpriority) AS n_prio,
           count(*) AS n_orders
         FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""",

    "q09_string_agg" ->
      """SELECT n_name,
           string_agg(s_name, ',' ORDER BY s_name) AS suppliers,
           count(*) AS n_supp
         FROM supplier JOIN nation ON s_nationkey = n_nationkey
         GROUP BY n_name ORDER BY n_name""",

    "q10_window_topk" ->
      """SELECT c_mktsegment, CAST(rn AS INT) AS rn, c_custkey, c_acctbal FROM (
           SELECT c_mktsegment, c_custkey, c_acctbal,
             row_number() OVER (PARTITION BY c_mktsegment
                                ORDER BY c_acctbal DESC, c_custkey) AS rn
           FROM customer) t
         WHERE rn <= 3 ORDER BY c_mktsegment, rn""",

    "q11_window_lag" ->
      """SELECT o_custkey, o_orderkey,
           CAST(date_diff('day',
             lag(CAST(o_orderdate AS DATE)) OVER (PARTITION BY o_custkey
               ORDER BY o_orderdate, o_orderkey),
             CAST(o_orderdate AS DATE)) AS INT) AS gap_days
         FROM orders
         ORDER BY o_custkey, o_orderkey""",

    "q12_window_running" ->
      """SELECT l_suppkey, l_orderkey, l_linenumber,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2)))
             OVER (PARTITION BY l_suppkey
                   ORDER BY l_shipdate, l_orderkey, l_linenumber
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             AS DOUBLE) AS run_qty
         FROM lineitem WHERE l_suppkey <= 10
         ORDER BY l_suppkey, l_orderkey, l_linenumber""",

    "q13_topk_global" ->
      """SELECT o_orderkey, o_custkey, o_totalprice
         FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 10""",

    "q14_except" ->
      """SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
         EXCEPT
         SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
         ORDER BY o_custkey""",

    "q15_intersect" ->
      """SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
         INTERSECT
         SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
         ORDER BY o_custkey""",

    "q16_scalar_subquery" ->
      """SELECT o_orderkey, o_totalprice
         FROM orders
         WHERE o_totalprice > 1.8 * (
           SELECT CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) / count(*)
           FROM orders)
         ORDER BY o_orderkey""",

    "q17_cte_revenue" ->
      """WITH revenue AS (
           SELECT l_suppkey,
                  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                    * (1 - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS total_revenue
           FROM lineitem GROUP BY l_suppkey)
         SELECT s_suppkey, s_name, total_revenue
         FROM supplier JOIN revenue ON s_suppkey = l_suppkey
         ORDER BY total_revenue DESC, s_suppkey
         LIMIT 10""",

    "q18_case_null" ->
      """SELECT
           CASE WHEN o_totalprice > 300000 THEN 'big'
                WHEN o_totalprice > 150000 THEN 'mid'
                ELSE 'small' END AS bucket,
           coalesce(nullif(o_orderstatus, 'O'), 'open') AS status_or_open,
           count(*) AS n
         FROM orders
         GROUP BY 1, 2 ORDER BY bucket, status_or_open""",

    "q19_string_funcs" ->
      """SELECT p_partkey,
           upper(p_brand) AS brand_up,
           lower(p_type) AS type_lo,
           CAST(length(p_name) AS INT) AS name_len,
           substr(p_name, 1, 5) AS name_pre,
           replace(p_type, ' ', '_') AS type_us,
           CAST(instr(p_type, 'BRASS') AS INT) AS brass_pos,
           trim('  ' || p_brand || ' ') AS brand_trim
         FROM part WHERE p_name LIKE '%a%'
         ORDER BY p_partkey""",

    "q20_date_funcs" ->
      """SELECT CAST(year(o_orderdate) AS INT) AS yr,
           CAST(month(o_orderdate) AS INT) AS mo,
           count(*) AS n,
           min(CAST(o_orderdate AS DATE)) AS first_day,
           max(CAST(o_orderdate AS DATE)) AS last_day
         FROM orders GROUP BY 1, 2 ORDER BY yr, mo""",

    "q21_math_funcs" ->
      """SELECT l_orderkey, l_linenumber,
           l_orderkey % 7 AS mod7,
           abs(l_partkey - l_suppkey) AS absdiff,
           least(l_partkey, l_suppkey) AS lo,
           greatest(l_partkey, l_suppkey) AS hi,
           CAST(CAST(l_quantity AS DECIMAL(18,2)) * 3 AS DOUBLE) AS qty3
         FROM lineitem WHERE l_orderkey <= 500
         ORDER BY l_orderkey, l_linenumber""",

    "q22_rollup" ->
      """SELECT l_returnflag, l_linestatus, count(*) AS n
         FROM lineitem
         GROUP BY ROLLUP(l_returnflag, l_linestatus)
         ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""",

    "q23_pivot_stack" ->
      """SELECT 'orders_F' AS "index", o_orderpriority, count(*) AS n
         FROM orders WHERE o_orderstatus = 'F' GROUP BY o_orderpriority
         UNION ALL
         SELECT 'orders_O' AS "index", o_orderpriority, count(*) AS n
         FROM orders WHERE o_orderstatus = 'O' GROUP BY o_orderpriority
         ORDER BY "index", o_orderpriority""",

    "q24_positional_concat" ->
      """WITH a AS (
           SELECT row_number() OVER (ORDER BY l_returnflag) AS row_id,
                  l_returnflag AS a_l_returnflag, n AS a_n
           FROM (SELECT l_returnflag, count(*) AS n FROM lineitem
                 GROUP BY l_returnflag)),
         b AS (
           SELECT row_number() OVER (ORDER BY l_linestatus) AS row_id,
                  l_linestatus AS b_l_linestatus, n AS b_n
           FROM (SELECT l_linestatus, count(*) AS n FROM lineitem
                 GROUP BY l_linestatus))
         SELECT CAST(coalesce(a.row_id, b.row_id) AS INT) AS row_id,
                a_l_returnflag, a_n, b_l_linestatus, b_n
         FROM a FULL OUTER JOIN b ON a.row_id = b.row_id
         ORDER BY row_id""",

    "q25_prefix_rename" ->
      """SELECT o_orderpriority AS "orders.xlsx_o_orderpriority",
                count(*) AS "orders.xlsx_n_orders"
         FROM orders GROUP BY o_orderpriority
         ORDER BY "orders.xlsx_o_orderpriority"""",

    "q26_limit_offset" ->
      """SELECT o_orderkey, o_orderstatus FROM orders
         ORDER BY o_orderkey LIMIT 20 OFFSET 10""",

    "q27_distinct" ->
      """SELECT DISTINCT o_orderstatus, o_orderpriority FROM orders
         ORDER BY o_orderstatus, o_orderpriority""",

    "q28_window_suite" ->
      """SELECT o_orderstatus, o_orderkey, bucket,
           CAST(rank() OVER wt AS INT) AS rnk,
           CAST(dense_rank() OVER wt AS INT) AS drnk,
           percent_rank() OVER wt AS prnk,
           cume_dist() OVER wt AS cdist,
           CAST(ntile(4) OVER w AS INT) AS quartile,
           lead(o_orderkey, 1) OVER w AS next_key,
           first_value(o_orderkey) OVER w AS first_key,
           nth_value(o_orderkey, 2) OVER w AS second_key
         FROM (SELECT o_orderstatus, o_orderkey,
                 CAST(floor(o_totalprice / 50000) AS INT) AS bucket
               FROM orders WHERE o_custkey < 100) t
         WINDOW
           wt AS (PARTITION BY o_orderstatus ORDER BY bucket),
           w AS (PARTITION BY o_orderstatus ORDER BY bucket, o_orderkey)
         ORDER BY o_orderstatus, bucket, o_orderkey""",

    "q29_cube" ->
      """SELECT l_returnflag, l_linestatus, count(*) AS n
         FROM lineitem
         GROUP BY CUBE(l_returnflag, l_linestatus)
         ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""",

    "q30_grouping_sets" ->
      """SELECT o_orderstatus, o_orderpriority, count(*) AS n
         FROM orders
         GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
         ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST""",

    "q31_cross_join" ->
      """SELECT r_name, n_name FROM region CROSS JOIN nation
         ORDER BY r_name, n_name""",

    "q32_union_distinct" ->
      """SELECT c_nationkey FROM customer WHERE c_mktsegment = 'BUILDING'
         UNION
         SELECT c_nationkey FROM customer WHERE c_mktsegment = 'MACHINERY'
         ORDER BY c_nationkey""",

    "q33_except_all" ->
      """SELECT l_suppkey FROM lineitem WHERE l_returnflag = 'A'
         EXCEPT ALL
         SELECT l_suppkey FROM lineitem WHERE l_returnflag = 'N'
         ORDER BY l_suppkey""",

    "q34_in_subquery" ->
      """SELECT o_orderkey, o_custkey FROM orders
         WHERE o_custkey IN (SELECT c_custkey FROM customer WHERE c_acctbal < 0)
         ORDER BY o_orderkey""",

    "q35_correlated_scalar" ->
      """SELECT c_custkey,
           (SELECT count(*) FROM orders o WHERE o.o_custkey = c.c_custkey) AS n_orders
         FROM customer c
         ORDER BY c_custkey""",

    "q36_date_arith" ->
      """SELECT o_orderkey,
           CAST(o_orderdate AS DATE) + 30 AS plus30,
           CAST(quarter(o_orderdate) AS INT) AS qtr,
           CAST(dayofyear(o_orderdate) AS INT) AS doy,
           last_day(CAST(o_orderdate AS DATE)) AS month_end
         FROM orders WHERE o_orderkey <= 1000
         ORDER BY o_orderkey""",

    "q37_string_funcs2" ->
      """SELECT s_suppkey,
           printf('%s-%03d', s_name, s_nationkey) AS tagged,
           lpad(s_name, 25, '*') AS padded_l,
           rpad(substr(s_name, 1, 10), 12, '.') AS padded_r,
           reverse(s_name) AS rev,
           repeat('ab', 3) AS rep,
           translate(s_name, 'S#', 's_') AS trans,
           split_part(s_name, '#', 2) AS num_part,
           left(s_name, 3) AS left3,
           right(s_name, 3) AS right3
         FROM supplier ORDER BY s_suppkey""",

    "q38_range_frame" ->
      """SELECT o_orderkey, o_orderstatus, price_bucket,
           CAST(count(*) OVER (
             PARTITION BY o_orderstatus ORDER BY price_bucket
             RANGE BETWEEN 10000 PRECEDING AND CURRENT ROW) AS BIGINT)
             AS n_in_band
         FROM (SELECT o_orderkey, o_orderstatus,
                 CAST(floor(o_totalprice) AS BIGINT) AS price_bucket
               FROM orders
               WHERE o_orderpriority ILIKE '%urgent%' AND o_orderkey <= 3000) t
         ORDER BY o_orderstatus, price_bucket, o_orderkey""",

    "q39_percentile" ->
      """SELECT l_returnflag,
           quantile_cont(l_quantity, 0.25) AS p25,
           quantile_cont(l_quantity, 0.5) AS median,
           quantile_cont(l_quantity, 0.75) AS p75,
           count(*) AS n
         FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""",

    "q40_sqlite_dialect" ->
      """SELECT o_orderkey, strftime(o_orderdate, '%Y-%m') AS ym,
           o_totalprice AS price
         FROM orders
         WHERE o_orderpriority LIKE '%URGENT%' AND o_orderkey <= 2000
         ORDER BY o_orderkey""",

    // same modifier arithmetic unrolled (DuckDB's strftime takes
    // (value, fmt) — reversed args, same directives). DuckDB's month
    // interval clamps at a month's end, SQLite's '+1 month' overflows
    // into the next month (01-31 → 03-02), so the oracle moves the 1st
    // of the month and adds the days back, as SQLite does.
    "q43_dialect_glob_strftime" ->
      """SELECT o_orderkey,
           strftime(date_trunc('month', date_trunc('month', o_orderdate) + INTERVAL 1 MONTH
             + (day(o_orderdate) - 1) * INTERVAL 1 DAY), '%Y-%m') AS next_month,
           o_orderpriority AS prio
         FROM orders
         WHERE regexp_matches(o_orderpriority, '^[12]-.*$')
           AND o_orderkey <= 3000
         ORDER BY o_orderkey""",

    // DuckDB runs the EXCLUDE clauses natively (verified: sum -> NULL /
    // count -> 0 on emptied frames) — the emulation is checked against
    // real engine semantics, not a mirror of itself
    "q44_window_exclude" ->
      """SELECT o_custkey, o_orderkey,
           CAST(sum(o_orderkey % 100) OVER (PARTITION BY o_custkey ORDER BY o_orderkey
             ROWS BETWEEN 2 PRECEDING AND 2 FOLLOWING EXCLUDE CURRENT ROW) AS BIGINT) AS s_cur,
           CAST(sum(o_orderkey % 100) OVER (PARTITION BY o_custkey
             ORDER BY strftime(o_orderdate, '%Y')
             RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW EXCLUDE GROUP) AS BIGINT) AS s_grp,
           CAST(sum(o_orderkey % 100) OVER (PARTITION BY o_custkey
             ORDER BY strftime(o_orderdate, '%Y')
             RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW EXCLUDE TIES) AS BIGINT) AS s_ties,
           count(*) OVER (PARTITION BY o_custkey
             ORDER BY strftime(o_orderdate, '%Y')
             RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW EXCLUDE GROUP) AS c_grp
         FROM orders WHERE o_orderkey <= 4000
         ORDER BY o_custkey, o_orderkey""",

    "q45_window_exclude_minmax" ->
      """SELECT o_custkey, o_orderkey,
           min(o_orderkey % 100) OVER (PARTITION BY o_custkey ORDER BY o_orderkey
             ROWS BETWEEN 2 PRECEDING AND 2 FOLLOWING EXCLUDE CURRENT ROW) AS mn,
           max(o_orderkey % 100) OVER (PARTITION BY o_custkey ORDER BY o_orderkey
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW EXCLUDE CURRENT ROW) AS mx_run,
           min(o_orderkey % 100) OVER (PARTITION BY o_custkey ORDER BY o_orderkey
             ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING EXCLUDE CURRENT ROW) AS mn_fwd
         FROM orders WHERE o_orderkey <= 4000
         ORDER BY o_custkey, o_orderkey""",

    "q46_window_exclude_median" ->
      """SELECT o_custkey, o_orderkey,
           median(o_orderkey % 100) OVER (PARTITION BY o_custkey ORDER BY o_orderkey
             ROWS BETWEEN 2 PRECEDING AND 2 FOLLOWING EXCLUDE CURRENT ROW) AS md,
           median(o_orderkey % 100) OVER (PARTITION BY o_custkey ORDER BY o_orderkey
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW EXCLUDE CURRENT ROW) AS md_run,
           median(o_orderkey % 100) OVER (PARTITION BY o_custkey ORDER BY o_orderkey
             ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING EXCLUDE CURRENT ROW) AS md_fwd
         FROM orders WHERE o_orderkey <= 4000
         ORDER BY o_custkey, o_orderkey""",

    "q41_recursive_cte" ->
      """WITH RECURSIVE months(m) AS (
           SELECT 1 UNION ALL SELECT m + 1 FROM months WHERE m < 12)
         SELECT m, count(o_orderkey) AS n
         FROM months LEFT JOIN orders ON month(o_orderdate) = m
         GROUP BY m ORDER BY m""",

    // The installed DuckDB predates GROUPS-frame support ("GROUPS mode
    // … not implemented yet"), so the oracle hand-unrolls the same
    // dense_rank emulation (precedent: e03 unrolls the k-means sweeps).
    // TRUE GROUPS semantics are pinned by the hand-computed expected
    // values in SqliteDialectSpec's ties-dataset test.
    "q42_groups_frames" ->
      """SELECT o_custkey, o_orderkey,
           count(*) OVER (PARTITION BY o_custkey ORDER BY gr
                          RANGE BETWEEN 1 PRECEDING AND CURRENT ROW) AS w2,
           count(*) OVER (PARTITION BY o_custkey
                          ORDER BY strftime(o_orderdate, '%Y')
                          RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS wcum
         FROM (SELECT *, DENSE_RANK() OVER (PARTITION BY o_custkey
                 ORDER BY strftime(o_orderdate, '%Y')) AS gr
               FROM orders WHERE o_orderkey <= 4000) g
         ORDER BY o_custkey, o_orderkey""",

    // x03's Spark side reads nation/region through an xlsx round-trip;
    // the oracle reads the parquet directly — a hash match proves the
    // Excel write→parse→infer path preserves the data exactly.
    "x03_excel_roundtrip" ->
      """SELECT n_nationkey, n_name, r_name
         FROM nation JOIN region ON n_regionkey = r_regionkey
         ORDER BY n_nationkey""",

    "x06_excel_dates" ->
      """SELECT o_orderkey, o_orderdate, o_totalprice
         FROM orders WHERE o_orderkey <= 1500
         ORDER BY o_orderkey"""
  )
}
