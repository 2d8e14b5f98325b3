package graft.queries

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import Q.{cents, unc}

/** SURVEY §2.2 relational-operator coverage: projection/filter, joins of
  * every shape, aggregation (plain, distinct, rollup), windows, sort/limit,
  * set ops, subqueries, CTEs. Spark side is the DataFrame API (Catalyst
  * plans it: broadcast joins for dims, partial aggregation, TakeOrdered);
  * oracle side is DuckDB SQL over the same parquet.
  */
object Relational {

  private def lineitem(s: SparkSession, d: String) = Tables.t(s, d, "lineitem")
  private def orders(s: SparkSession, d: String)   = Tables.t(s, d, "orders")
  private def customer(s: SparkSession, d: String) = Tables.t(s, d, "customer")
  private def supplier(s: SparkSession, d: String) = Tables.t(s, d, "supplier")
  private def nation(s: SparkSession, d: String)   = Tables.t(s, d, "nation")
  private def region(s: SparkSession, d: String)   = Tables.t(s, d, "region")

  val defs: Seq[Q] = Seq(

    // ---- TPC-H Q1 flavor: scan → partial/final hash aggregate. The sums
    // are exact integer-cents so they hash-match DuckDB bit-for-bit.
    Q("q1_agg",
      (s, d) => {
        import s.implicits._
        lineitem(s, d)
          .filter($"l_shipdate" <= lit("1999-12-31").cast("timestamp"))
          .groupBy($"l_returnflag", $"l_linestatus")
          .agg(
            sum($"l_quantity".cast("long")).as("sum_qty"),
            unc(sum(cents($"l_extendedprice"))).as("sum_base_price"),
            (sum(cents($"l_extendedprice") * (lit(100L) - cents($"l_discount")))
              .cast("double") / 10000.0).as("sum_disc_price"),
            (sum(cents($"l_extendedprice") * (lit(100L) - cents($"l_discount"))
              * (lit(100L) + cents($"l_tax"))).cast("double") / 1000000.0)
              .as("sum_charge"),
            (sum($"l_quantity".cast("long")).cast("double") / count(lit(1)))
              .as("avg_qty"),
            (sum(cents($"l_extendedprice")).cast("double") / 100.0
              / count(lit(1))).as("avg_price"),
            count(lit(1)).as("count_order"))
          .orderBy($"l_returnflag", $"l_linestatus")
      },
      Some("""
        SELECT l_returnflag, l_linestatus,
          CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
          CAST(SUM(CAST(ROUND(l_extendedprice*100) AS BIGINT)) AS DOUBLE)/100.0 AS sum_base_price,
          CAST(SUM(CAST(ROUND(l_extendedprice*100) AS BIGINT) * (100 - CAST(ROUND(l_discount*100) AS BIGINT))) AS DOUBLE)/10000.0 AS sum_disc_price,
          CAST(SUM(CAST(ROUND(l_extendedprice*100) AS BIGINT) * (100 - CAST(ROUND(l_discount*100) AS BIGINT)) * (100 + CAST(ROUND(l_tax*100) AS BIGINT))) AS DOUBLE)/1000000.0 AS sum_charge,
          CAST(SUM(CAST(l_quantity AS BIGINT)) AS DOUBLE)/COUNT(*) AS avg_qty,
          CAST(SUM(CAST(ROUND(l_extendedprice*100) AS BIGINT)) AS DOUBLE)/100.0/COUNT(*) AS avg_price,
          COUNT(*) AS count_order
        FROM lineitem
        WHERE l_shipdate <= TIMESTAMP '1999-12-31 00:00:00'
        GROUP BY l_returnflag, l_linestatus
        ORDER BY l_returnflag, l_linestatus""")),

    // ---- Projection + filter: BETWEEN / IN / LIKE / boolean mix; filters
    // all push to the parquet scan (PushedFilters in .explain).
    Q("q2_filter",
      (s, d) => {
        import s.implicits._
        orders(s, d)
          .filter($"o_totalprice".between(1000.0, 200000.0) &&
            $"o_orderpriority".isin("1-URGENT", "2-HIGH") &&
            $"o_orderstatus" =!= "P" &&
            $"o_orderdate" >= lit("1996-01-01").cast("timestamp"))
          .select($"o_orderkey", $"o_custkey", $"o_totalprice",
            $"o_orderpriority")
          .orderBy($"o_orderkey")
      },
      Some("""
        SELECT o_orderkey, o_custkey, o_totalprice, o_orderpriority
        FROM orders
        WHERE o_totalprice BETWEEN 1000.0 AND 200000.0
          AND o_orderpriority IN ('1-URGENT','2-HIGH')
          AND o_orderstatus <> 'P'
          AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        ORDER BY o_orderkey""")),

    // ---- 3-way equi join (fact ⋈ fact ⋈ broadcast dim) + aggregation.
    // customer is a dim → explicit broadcast; orders⋈lineitem co-shuffles
    // on the join key (AQE may still broadcast orders at small SF).
    Q("q3_join",
      (s, d) => {
        import s.implicits._
        val l = lineitem(s, d)
        val o = orders(s, d)
        val c = customer(s, d)
        l.join(o, $"l_orderkey" === $"o_orderkey")
          .join(broadcast(c), $"o_custkey" === $"c_custkey")
          .groupBy($"c_mktsegment")
          .agg(
            (sum(cents($"l_extendedprice") * (lit(100L) - cents($"l_discount")))
              .cast("double") / 10000.0).as("revenue"),
            count(lit(1)).as("n"))
          .orderBy($"c_mktsegment")
      },
      Some("""
        SELECT c_mktsegment,
          CAST(SUM(CAST(ROUND(l_extendedprice*100) AS BIGINT) * (100 - CAST(ROUND(l_discount*100) AS BIGINT))) AS DOUBLE)/10000.0 AS revenue,
          COUNT(*) AS n
        FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        GROUP BY c_mktsegment
        ORDER BY c_mktsegment""")),

    // ---- Left-semi join (EXISTS).
    Q("q4_semi_join",
      (s, d) => {
        import s.implicits._
        val big = lineitem(s, d).filter($"l_quantity" >= 45)
        orders(s, d)
          .join(big, $"o_orderkey" === $"l_orderkey", "left_semi")
          .groupBy($"o_orderpriority")
          .agg(count(lit(1)).as("n"))
          .orderBy($"o_orderpriority")
      },
      Some("""
        SELECT o_orderpriority, COUNT(*) AS n
        FROM orders
        WHERE EXISTS (SELECT 1 FROM lineitem
                      WHERE l_orderkey = o_orderkey AND l_quantity >= 45)
        GROUP BY o_orderpriority
        ORDER BY o_orderpriority""")),

    // ---- Left-anti join (NOT EXISTS).
    Q("q5_anti_join",
      (s, d) => {
        import s.implicits._
        val urgent = orders(s, d).filter($"o_orderpriority" === "1-URGENT")
        customer(s, d)
          .join(urgent, $"c_custkey" === $"o_custkey", "left_anti")
          .groupBy($"c_mktsegment")
          .agg(count(lit(1)).as("n"))
          .orderBy($"c_mktsegment")
      },
      Some("""
        SELECT c_mktsegment, COUNT(*) AS n
        FROM customer
        WHERE NOT EXISTS (SELECT 1 FROM orders
                          WHERE o_custkey = c_custkey
                            AND o_orderpriority = '1-URGENT')
        GROUP BY c_mktsegment
        ORDER BY c_mktsegment""")),

    // ---- Left outer join preserving unmatched left rows.
    Q("q6_left_join",
      (s, d) => {
        import s.implicits._
        customer(s, d)
          .join(orders(s, d), $"c_custkey" === $"o_custkey", "left")
          .groupBy($"c_custkey")
          .agg(count($"o_orderkey").as("n_orders"),
            unc(sum(cents($"o_totalprice"))).as("total_spend"))
          .orderBy($"c_custkey")
      },
      Some("""
        SELECT c_custkey, COUNT(o_orderkey) AS n_orders,
          CAST(SUM(CAST(ROUND(o_totalprice*100) AS BIGINT)) AS DOUBLE)/100.0 AS total_spend
        FROM customer LEFT JOIN orders ON c_custkey = o_custkey
        GROUP BY c_custkey
        ORDER BY c_custkey""")),

    // ---- Full outer join with unmatched rows on both sides.
    Q("q7_full_join",
      (s, d) => {
        import s.implicits._
        val ls = lineitem(s, d).filter($"l_returnflag" === "R")
          .groupBy($"l_suppkey").agg(count(lit(1)).as("n_returned"))
        val sup = supplier(s, d).filter($"s_acctbal" > 0)
          .select($"s_suppkey", $"s_name")
        ls.join(sup, $"l_suppkey" === $"s_suppkey", "full_outer")
          .select(
            coalesce($"l_suppkey", $"s_suppkey").as("suppkey"),
            $"n_returned", $"s_name")
          .orderBy($"suppkey")
      },
      Some("""
        SELECT COALESCE(l_suppkey, s_suppkey) AS suppkey, n_returned, s_name
        FROM (SELECT l_suppkey, COUNT(*) AS n_returned FROM lineitem
              WHERE l_returnflag = 'R' GROUP BY l_suppkey) ls
        FULL OUTER JOIN (SELECT s_suppkey, s_name FROM supplier
                         WHERE s_acctbal > 0) sup
          ON l_suppkey = s_suppkey
        ORDER BY suppkey""")),

    // ---- Cross join (cartesian of two tiny dims).
    Q("q8_cross_join",
      (s, d) => {
        import s.implicits._
        region(s, d).crossJoin(nation(s, d))
          .select($"r_name", $"n_name")
          .orderBy($"r_name", $"n_name")
      },
      Some("""
        SELECT r_name, n_name FROM region CROSS JOIN nation
        ORDER BY r_name, n_name""")),

    // ---- Non-equi (theta) join: nested-loop band join on tiny inputs.
    Q("q9_theta_join",
      (s, d) => {
        import s.implicits._
        val n1 = nation(s, d).select($"n_nationkey".as("a"))
        val n2 = nation(s, d).select($"n_nationkey".as("b"))
        n1.join(n2, $"a" < $"b" && $"b" - $"a" <= 3)
          .groupBy($"a").agg(count(lit(1)).as("n"), max($"b").as("max_b"))
          .orderBy($"a")
      },
      Some("""
        SELECT a, COUNT(*) AS n, MAX(b) AS max_b
        FROM (SELECT n_nationkey AS a FROM nation) n1
        JOIN (SELECT n_nationkey AS b FROM nation) n2
          ON a < b AND b - a <= 3
        GROUP BY a
        ORDER BY a""")),

    // ---- Window ranking family: row_number/rank/dense_rank/percent_rank/
    // cume_dist/ntile, top-3 per partition.
    Q("q10_window_rank",
      (s, d) => {
        import s.implicits._
        val w = Window.partitionBy($"o_orderpriority")
          .orderBy(cents($"o_totalprice").desc, $"o_orderkey".asc)
        orders(s, d)
          .withColumn("rn", row_number().over(w))
          .withColumn("rk", rank().over(w))
          .withColumn("drk", dense_rank().over(w))
          .withColumn("pr", percent_rank().over(w))
          .withColumn("cd", cume_dist().over(w))
          .withColumn("nt", ntile(4).over(w))
          .filter($"rn" <= 3)
          .select($"o_orderpriority", $"o_orderkey", $"o_totalprice",
            $"rn", $"rk", $"drk", $"pr", $"cd", $"nt")
          .orderBy($"o_orderpriority", $"rn")
      },
      Some("""
        SELECT o_orderpriority, o_orderkey, o_totalprice, rn, rk, drk, pr, cd, nt
        FROM (SELECT o_orderpriority, o_orderkey, o_totalprice,
                CAST(ROW_NUMBER() OVER w AS INT) AS rn, CAST(RANK() OVER w AS INT) AS rk,
                CAST(DENSE_RANK() OVER w AS INT) AS drk, PERCENT_RANK() OVER w AS pr,
                CUME_DIST() OVER w AS cd, CAST(NTILE(4) OVER w AS INT) AS nt
              FROM orders
              WINDOW w AS (PARTITION BY o_orderpriority
                ORDER BY CAST(ROUND(o_totalprice*100) AS BIGINT) DESC, o_orderkey ASC))
        WHERE rn <= 3
        ORDER BY o_orderpriority, rn""")),

    // ---- Window analytics: running sum (ROWS frame), lag/lead over a
    // total per-partition order.
    Q("q11_window_agg",
      (s, d) => {
        import s.implicits._
        val ord = Seq($"l_shipdate".asc, $"l_orderkey".asc, $"l_linenumber".asc)
        val w = Window.partitionBy($"l_suppkey").orderBy(ord: _*)
        val wf = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        lineitem(s, d).filter($"l_suppkey" <= 3)
          .withColumn("running_qty",
            sum($"l_quantity".cast("long")).over(wf))
          .withColumn("prev_qty",
            lag($"l_quantity".cast("long"), 1).over(w))
          .withColumn("next_qty",
            lead($"l_quantity".cast("long"), 1).over(w))
          .withColumn("first_qty",
            first($"l_quantity".cast("long")).over(wf))
          .select($"l_suppkey", $"l_orderkey", $"l_linenumber",
            $"running_qty", $"prev_qty", $"next_qty", $"first_qty")
          .orderBy($"l_suppkey", $"l_orderkey", $"l_linenumber")
      },
      Some("""
        SELECT l_suppkey, l_orderkey, l_linenumber,
          CAST(SUM(CAST(l_quantity AS BIGINT)) OVER wf AS BIGINT) AS running_qty,
          LAG(CAST(l_quantity AS BIGINT), 1) OVER w AS prev_qty,
          LEAD(CAST(l_quantity AS BIGINT), 1) OVER w AS next_qty,
          FIRST_VALUE(CAST(l_quantity AS BIGINT)) OVER wf AS first_qty
        FROM lineitem
        WHERE l_suppkey <= 3
        WINDOW
          w AS (PARTITION BY l_suppkey
                ORDER BY l_shipdate ASC, l_orderkey ASC, l_linenumber ASC),
          wf AS (PARTITION BY l_suppkey
                 ORDER BY l_shipdate ASC, l_orderkey ASC, l_linenumber ASC
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        ORDER BY l_suppkey, l_orderkey, l_linenumber""")),

    // ---- RANGE frame with numeric offsets.
    Q("q12_window_range",
      (s, d) => {
        import s.implicits._
        val w = Window.partitionBy($"o_orderpriority")
          .orderBy(cents($"o_totalprice"))
          .rangeBetween(-100000L, 100000L)
        orders(s, d).filter($"o_custkey" <= 20)
          .withColumn("n_near", count(lit(1)).over(w))
          .select($"o_orderkey", $"o_orderpriority", $"o_totalprice", $"n_near")
          .orderBy($"o_orderkey")
      },
      Some("""
        SELECT o_orderkey, o_orderpriority, o_totalprice,
          COUNT(*) OVER (PARTITION BY o_orderpriority
            ORDER BY CAST(ROUND(o_totalprice*100) AS BIGINT)
            RANGE BETWEEN 100000 PRECEDING AND 100000 FOLLOWING) AS n_near
        FROM orders
        WHERE o_custkey <= 20
        ORDER BY o_orderkey""")),

    // ---- ROLLUP + GROUPING() flags (null-producing group sets).
    Q("q13_rollup",
      (s, d) => Tables.sql(s, d, """
        SELECT l_returnflag, l_linestatus,
          CAST(GROUPING(l_returnflag) AS INT) AS g1, CAST(GROUPING(l_linestatus) AS INT) AS g2,
          CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty, COUNT(*) AS n
        FROM lineitem
        GROUP BY ROLLUP(l_returnflag, l_linestatus)
        ORDER BY g1, g2, l_returnflag NULLS FIRST, l_linestatus NULLS FIRST"""),
      Some("""
        SELECT l_returnflag, l_linestatus,
          CAST(GROUPING(l_returnflag) AS INT) AS g1, CAST(GROUPING(l_linestatus) AS INT) AS g2,
          CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty, COUNT(*) AS n
        FROM lineitem
        GROUP BY ROLLUP(l_returnflag, l_linestatus)
        ORDER BY g1, g2, l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""")),

    // ---- CUBE over two dims.
    Q("q14_cube",
      (s, d) => Tables.sql(s, d, """
        SELECT o_orderstatus, o_orderpriority,
          CAST(GROUPING(o_orderstatus) AS INT) AS g1, CAST(GROUPING(o_orderpriority) AS INT) AS g2,
          COUNT(*) AS n
        FROM orders
        GROUP BY CUBE(o_orderstatus, o_orderpriority)
        ORDER BY g1, g2, o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST"""),
      Some("""
        SELECT o_orderstatus, o_orderpriority,
          CAST(GROUPING(o_orderstatus) AS INT) AS g1, CAST(GROUPING(o_orderpriority) AS INT) AS g2,
          COUNT(*) AS n
        FROM orders
        GROUP BY CUBE(o_orderstatus, o_orderpriority)
        ORDER BY g1, g2, o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST""")),

    // ---- DISTINCT aggregates (multiple rewrites to Expand).
    Q("q15_distinct_agg",
      (s, d) => {
        import s.implicits._
        lineitem(s, d)
          .groupBy($"l_returnflag")
          .agg(
            countDistinct($"l_partkey").as("d_parts"),
            countDistinct($"l_suppkey").as("d_supps"),
            countDistinct($"l_orderkey", $"l_linenumber").as("d_lines"),
            count(lit(1)).as("n"))
          .orderBy($"l_returnflag")
      },
      Some("""
        SELECT l_returnflag,
          COUNT(DISTINCT l_partkey) AS d_parts,
          COUNT(DISTINCT l_suppkey) AS d_supps,
          COUNT(DISTINCT (l_orderkey, l_linenumber)) AS d_lines,
          COUNT(*) AS n
        FROM lineitem
        GROUP BY l_returnflag
        ORDER BY l_returnflag""")),

    // ---- FILTER (WHERE …) clause on aggregates.
    Q("q16_agg_filter",
      (s, d) => Tables.sql(s, d, """
        SELECT l_returnflag,
          COUNT(*) FILTER (WHERE l_quantity >= 25) AS n_big,
          COUNT(*) FILTER (WHERE l_quantity < 25) AS n_small,
          CAST(SUM(CAST(l_quantity AS BIGINT)) FILTER (WHERE l_linestatus = 'F') AS BIGINT) AS qty_f
        FROM lineitem
        GROUP BY l_returnflag
        ORDER BY l_returnflag"""),
      Some("""
        SELECT l_returnflag,
          COUNT(*) FILTER (WHERE l_quantity >= 25) AS n_big,
          COUNT(*) FILTER (WHERE l_quantity < 25) AS n_small,
          CAST(SUM(CAST(l_quantity AS BIGINT)) FILTER (WHERE l_linestatus = 'F') AS BIGINT) AS qty_f
        FROM lineitem
        GROUP BY l_returnflag
        ORDER BY l_returnflag""")),

    // ---- min/max/min_by/max_by + bool aggregates.
    Q("q17_minmax_agg",
      (s, d) => {
        import s.implicits._
        orders(s, d)
          .groupBy($"o_orderpriority")
          .agg(
            min(cents($"o_totalprice")).as("min_price_c"),
            max(cents($"o_totalprice")).as("max_price_c"),
            min($"o_orderdate".cast("date")).as("first_date"),
            max($"o_orderdate".cast("date")).as("last_date"),
            // unique scalar orderer (cents * 1e7 + key) so min_by/max_by are
            // deterministic and portable (no struct comparators needed)
            min_by($"o_orderkey", cents($"o_totalprice") * 10000000L + $"o_orderkey")
              .as("cheapest_key"),
            max_by($"o_orderkey", cents($"o_totalprice") * 10000000L - $"o_orderkey")
              .as("priciest_key"),
            bool_and($"o_totalprice" > 0).as("all_pos"),
            bool_or($"o_orderstatus" === "P").as("any_pending"))
          .orderBy($"o_orderpriority")
      },
      Some("""
        SELECT o_orderpriority,
          MIN(CAST(ROUND(o_totalprice*100) AS BIGINT)) AS min_price_c,
          MAX(CAST(ROUND(o_totalprice*100) AS BIGINT)) AS max_price_c,
          MIN(CAST(o_orderdate AS DATE)) AS first_date,
          MAX(CAST(o_orderdate AS DATE)) AS last_date,
          MIN_BY(o_orderkey, CAST(ROUND(o_totalprice*100) AS BIGINT) * 10000000 + o_orderkey) AS cheapest_key,
          MAX_BY(o_orderkey, CAST(ROUND(o_totalprice*100) AS BIGINT) * 10000000 - o_orderkey) AS priciest_key,
          BOOL_AND(o_totalprice > 0) AS all_pos,
          BOOL_OR(o_orderstatus = 'P') AS any_pending
        FROM orders
        GROUP BY o_orderpriority
        ORDER BY o_orderpriority""")),

    // ---- Sort + limit fused to TakeOrderedAndProject (top-K).
    Q("q18_topk",
      (s, d) => {
        import s.implicits._
        orders(s, d)
          .select($"o_orderkey", $"o_totalprice",
            $"o_orderdate".cast("date").as("o_day"))
          .orderBy($"o_totalprice".desc, $"o_orderkey".asc)
          .limit(10)
      },
      Some("""
        SELECT o_orderkey, o_totalprice, CAST(o_orderdate AS DATE) AS o_day
        FROM orders
        ORDER BY o_totalprice DESC, o_orderkey ASC
        LIMIT 10""")),

    // ---- ORDER BY with NULLS FIRST/LAST control + OFFSET.
    Q("q19_sort_nulls",
      (s, d) => Tables.sql(s, d, """
        SELECT suppkey, n_returned FROM (
          SELECT COALESCE(l_suppkey, s_suppkey) AS suppkey, n_returned
          FROM (SELECT l_suppkey, COUNT(*) AS n_returned FROM lineitem
                WHERE l_returnflag = 'R' AND l_suppkey <= 5 GROUP BY l_suppkey) ls
          FULL OUTER JOIN (SELECT s_suppkey FROM supplier) sup
            ON l_suppkey = s_suppkey)
        ORDER BY n_returned DESC NULLS LAST, suppkey
        LIMIT 8 OFFSET 2"""),
      Some("""
        SELECT suppkey, n_returned FROM (
          SELECT COALESCE(l_suppkey, s_suppkey) AS suppkey, n_returned
          FROM (SELECT l_suppkey, COUNT(*) AS n_returned FROM lineitem
                WHERE l_returnflag = 'R' AND l_suppkey <= 5 GROUP BY l_suppkey) ls
          FULL OUTER JOIN (SELECT s_suppkey FROM supplier) sup
            ON l_suppkey = s_suppkey) t
        ORDER BY n_returned DESC NULLS LAST, suppkey
        LIMIT 8 OFFSET 2""")),

    // ---- UNION / INTERSECT / EXCEPT (distinct forms) + UNION ALL shell.
    Q("q20_setops",
      (s, d) => Tables.sql(s, d, """
        SELECT 'except' AS op, COUNT(*) AS n FROM (
          SELECT c_custkey AS k FROM customer WHERE c_mktsegment = 'BUILDING'
          EXCEPT
          SELECT o_custkey AS k FROM orders WHERE o_orderpriority = '1-URGENT')
        UNION ALL
        SELECT 'intersect' AS op, COUNT(*) AS n FROM (
          SELECT c_custkey AS k FROM customer WHERE c_mktsegment = 'BUILDING'
          INTERSECT
          SELECT o_custkey AS k FROM orders WHERE o_orderpriority = '1-URGENT')
        UNION ALL
        SELECT 'union' AS op, COUNT(*) AS n FROM (
          SELECT c_custkey AS k FROM customer WHERE c_mktsegment = 'BUILDING'
          UNION
          SELECT o_custkey AS k FROM orders WHERE o_orderpriority = '1-URGENT')
        ORDER BY op"""),
      Some("""
        SELECT 'except' AS op, COUNT(*) AS n FROM (
          SELECT c_custkey AS k FROM customer WHERE c_mktsegment = 'BUILDING'
          EXCEPT
          SELECT o_custkey AS k FROM orders WHERE o_orderpriority = '1-URGENT') t1
        UNION ALL
        SELECT 'intersect' AS op, COUNT(*) AS n FROM (
          SELECT c_custkey AS k FROM customer WHERE c_mktsegment = 'BUILDING'
          INTERSECT
          SELECT o_custkey AS k FROM orders WHERE o_orderpriority = '1-URGENT') t2
        UNION ALL
        SELECT 'union' AS op, COUNT(*) AS n FROM (
          SELECT c_custkey AS k FROM customer WHERE c_mktsegment = 'BUILDING'
          UNION
          SELECT o_custkey AS k FROM orders WHERE o_orderpriority = '1-URGENT') t3
        ORDER BY op""")),

    // ---- Uncorrelated scalar subquery (deterministic cents-avg threshold).
    Q("q21_scalar_subquery",
      (s, d) => Tables.sql(s, d, """
        SELECT c_mktsegment, COUNT(*) AS n_above
        FROM customer
        WHERE c_acctbal > (SELECT CAST(SUM(CAST(ROUND(c_acctbal*100) AS BIGINT)) AS DOUBLE)/100.0/COUNT(*) FROM customer)
        GROUP BY c_mktsegment
        ORDER BY c_mktsegment"""),
      Some("""
        SELECT c_mktsegment, COUNT(*) AS n_above
        FROM customer
        WHERE c_acctbal > (SELECT CAST(SUM(CAST(ROUND(c_acctbal*100) AS BIGINT)) AS DOUBLE)/100.0/COUNT(*) FROM customer)
        GROUP BY c_mktsegment
        ORDER BY c_mktsegment""")),

    // ---- Correlated scalar subquery (decorrelated by Catalyst to a join).
    Q("q22_correlated_subquery",
      (s, d) => Tables.sql(s, d, """
        SELECT o_orderkey, o_totalprice
        FROM orders o
        WHERE o_totalprice > 1.8 * (
          SELECT COALESCE(CAST(SUM(CAST(ROUND(o2.o_totalprice*100) AS BIGINT)) AS DOUBLE)/100.0/COUNT(*), 0.0)
          FROM orders o2 WHERE o2.o_custkey = o.o_custkey)
        ORDER BY o_orderkey"""),
      Some("""
        SELECT o_orderkey, o_totalprice
        FROM orders o
        WHERE o_totalprice > 1.8 * (
          SELECT COALESCE(CAST(SUM(CAST(ROUND(o2.o_totalprice*100) AS BIGINT)) AS DOUBLE)/100.0/COUNT(*), 0.0)
          FROM orders o2 WHERE o2.o_custkey = o.o_custkey)
        ORDER BY o_orderkey""")),

    // ---- IN / NOT IN subqueries.
    Q("q23_in_subquery",
      (s, d) => Tables.sql(s, d, """
        SELECT
          (SELECT COUNT(*) FROM orders
           WHERE o_custkey IN (SELECT c_custkey FROM customer
                               WHERE c_mktsegment = 'MACHINERY')) AS n_in,
          (SELECT COUNT(*) FROM orders
           WHERE o_custkey NOT IN (SELECT c_custkey FROM customer
                                   WHERE c_mktsegment = 'MACHINERY')) AS n_not_in"""),
      Some("""
        SELECT
          (SELECT COUNT(*) FROM orders
           WHERE o_custkey IN (SELECT c_custkey FROM customer
                               WHERE c_mktsegment = 'MACHINERY')) AS n_in,
          (SELECT COUNT(*) FROM orders
           WHERE o_custkey NOT IN (SELECT c_custkey FROM customer
                                   WHERE c_mktsegment = 'MACHINERY')) AS n_not_in""")),

    // ---- CTE chain feeding a join.
    Q("q24_cte",
      (s, d) => Tables.sql(s, d, """
        WITH nat AS (
          SELECT n_nationkey, n_name, r_name
          FROM nation JOIN region ON n_regionkey = r_regionkey),
        cust AS (
          SELECT c_custkey, c_nationkey FROM customer WHERE c_acctbal > 0)
        SELECT r_name, n_name, COUNT(*) AS n_cust
        FROM cust JOIN nat ON c_nationkey = n_nationkey
        GROUP BY r_name, n_name
        ORDER BY r_name, n_name"""),
      Some("""
        WITH nat AS (
          SELECT n_nationkey, n_name, r_name
          FROM nation JOIN region ON n_regionkey = r_regionkey),
        cust AS (
          SELECT c_custkey, c_nationkey FROM customer WHERE c_acctbal > 0)
        SELECT r_name, n_name, COUNT(*) AS n_cust
        FROM cust JOIN nat ON c_nationkey = n_nationkey
        GROUP BY r_name, n_name
        ORDER BY r_name, n_name""")),

    // ---- TPC-H Q5 flavor: 6-way join (2 facts + 4 broadcast dims) with
    // the local-supplier correlation (c_nationkey = s_nationkey).
    Q("q82_tpch_q5",
      (s, d) => {
        import s.implicits._
        val l = lineitem(s, d)
        val o = orders(s, d)
        val c = customer(s, d)
        val su = supplier(s, d)
        val n = nation(s, d)
        val r = region(s, d)
        l.join(o, $"l_orderkey" === $"o_orderkey")
          .join(broadcast(su), $"l_suppkey" === $"s_suppkey")
          .join(broadcast(c), $"o_custkey" === $"c_custkey" &&
            $"c_nationkey" === $"s_nationkey")
          .join(broadcast(n), $"s_nationkey" === $"n_nationkey")
          .join(broadcast(r), $"n_regionkey" === $"r_regionkey")
          .filter($"o_orderdate" >= lit("1996-01-01").cast("timestamp") &&
            $"o_orderdate" < lit("1998-01-01").cast("timestamp"))
          .groupBy($"r_name", $"n_name")
          .agg(
            (sum(cents($"l_extendedprice") * (lit(100L) - cents($"l_discount")))
              .cast("double") / 10000.0).as("revenue"),
            count(lit(1)).as("n"))
          .orderBy($"r_name", $"n_name")
      },
      Some("""
        SELECT r_name, n_name,
          CAST(SUM(CAST(ROUND(l_extendedprice*100) AS BIGINT) * (100 - CAST(ROUND(l_discount*100) AS BIGINT))) AS DOUBLE)/10000.0 AS revenue,
          COUNT(*) AS n
        FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN customer ON o_custkey = c_custkey AND c_nationkey = s_nationkey
        JOIN nation ON s_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
        WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
          AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
        GROUP BY r_name, n_name
        ORDER BY r_name, n_name""")),

    // ---- TPC-H Q10 flavor: top-20 customers by returned-item revenue
    // (join + agg + TakeOrdered fusion).
    Q("q83_tpch_q10",
      (s, d) => {
        import s.implicits._
        val l = lineitem(s, d).filter($"l_returnflag" === "R")
        val o = orders(s, d)
        val c = customer(s, d)
        val n = nation(s, d)
        l.join(o, $"l_orderkey" === $"o_orderkey")
          .join(broadcast(c), $"o_custkey" === $"c_custkey")
          .join(broadcast(n), $"c_nationkey" === $"n_nationkey")
          .groupBy($"c_custkey", $"c_name", $"n_name")
          .agg((sum(cents($"l_extendedprice") * (lit(100L) - cents($"l_discount")))
            .cast("double") / 10000.0).as("revenue"))
          .orderBy($"revenue".desc, $"c_custkey".asc)
          .limit(20)
      },
      Some("""
        SELECT c_custkey, c_name, n_name,
          CAST(SUM(CAST(ROUND(l_extendedprice*100) AS BIGINT) * (100 - CAST(ROUND(l_discount*100) AS BIGINT))) AS DOUBLE)/10000.0 AS revenue
        FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN nation ON c_nationkey = n_nationkey
        WHERE l_returnflag = 'R'
        GROUP BY c_custkey, c_name, n_name
        ORDER BY revenue DESC, c_custkey ASC
        LIMIT 20""")),

    // ---- Recursive CTE (DataFusion 48's RecursiveQueryExec ↔ Spark
    // 4.1's WITH RECURSIVE — verified native support, SURVEY §2.2).
    Q("q63_recursive_cte",
      (s, d) => Tables.sql(s, d, """
        WITH RECURSIVE r(n) AS (
          SELECT 1 UNION ALL SELECT n + 1 FROM r WHERE n < 90)
        SELECT CAST(count(*) AS BIGINT) AS c, CAST(sum(n) AS BIGINT) AS s,
               CAST(max(n) AS INT) AS mx
        FROM r"""),
      Some("""
        WITH RECURSIVE r(n) AS (
          SELECT 1 UNION ALL SELECT n + 1 FROM r WHERE n < 90)
        SELECT CAST(count(*) AS BIGINT) AS c, CAST(sum(n) AS BIGINT) AS s,
               CAST(max(n) AS INT) AS mx
        FROM r""")),

    // ---- VALUES inline relation joined against a table.
    Q("q25_values",
      (s, d) => Tables.sql(s, d, """
        SELECT v.code, v.label, COUNT(o_orderkey) AS n
        FROM (VALUES ('P','pending'), ('O','open'), ('F','filled'),
                     ('X','unused')) AS v(code, label)
        LEFT JOIN orders ON o_orderstatus = v.code
        GROUP BY v.code, v.label
        ORDER BY v.code"""),
      Some("""
        SELECT v.code, v.label, COUNT(o_orderkey) AS n
        FROM (VALUES ('P','pending'), ('O','open'), ('F','filled'),
                     ('X','unused')) AS v(code, label)
        LEFT JOIN orders ON o_orderstatus = v.code
        GROUP BY v.code, v.label
        ORDER BY v.code"""))
  )
}
