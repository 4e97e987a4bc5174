package graft
package queries

import org.apache.spark.sql.functions._

import graft.queries.Common._

/** The TPC-H family: the `q*` relational queries over the TPC-H tables.
  */
private[graft] object TpchQueries {
  lazy val specs: Seq[QuerySpec] = Seq(
    // ---- General analytics -------------------------------------------
    // Money sums/means go through exact integer sub-unit sums (graft.Quant
    // doc): l_* values are 2-dp decimals, so their sums and means land
    // exactly on rounding boundaries where engine round() implementations
    // disagree. disc_price is a 4-dp rational, charge 6-dp — summed as
    // exact integers at that scale, rounded once at scale 0.
    QuerySpec("q1_agg", (s, dir) => {
      val discPrice = col("l_extendedprice") * (lit(1) - col("l_discount"))
      val charge = discPrice * (lit(1) + col("l_tax"))
      Tables.load(s, dir, "lineitem")
        .filter(col("l_shipdate").cast("date") <= lit("2000-09-02").cast("date"))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          // group sums grow with SF (unbounded groups) → DECIMAL(38,0)
          // accumulation per the graft.Quant overflow rule; DuckDB's
          // sum(BIGINT) is already exact HUGEINT, so the mirror holds
          round(sum(col("l_quantity")), 2).as("sum_qty"),
          round(sum(col("l_extendedprice")), 2).as("sum_base_price"),
          (round(sum(round(discPrice * 1e4, 0).cast("long").cast("decimal(38,0)"))
            .cast("double") / 100, 0) / 100 + lit(0d)).as("sum_disc_price"),
          (round(sum(round(charge * 1e6, 0).cast("long").cast("decimal(38,0)"))
            .cast("double") / 1e4, 0) / 100 + lit(0d)).as("sum_charge"),
          Quant.mean6(sum((round(col("l_quantity"), 0).cast("long") * 1000000L)
            .cast("decimal(38,0)")), count(lit(1))).as("avg_qty"),
          Quant.mean6(sum((round(col("l_extendedprice") * 100, 0).cast("long") * 10000L)
            .cast("decimal(38,0)")), count(lit(1))).as("avg_price"),
          Quant.mean6(sum((round(col("l_discount") * 100, 0).cast("long") * 10000L)
            .cast("decimal(38,0)")), count(lit(1))).as("avg_disc"),
          count(lit(1)).as("count_order"))
        .orderBy(col("l_returnflag"), col("l_linestatus"))
    },
      Some(s"""SELECT l_returnflag, l_linestatus,
         |       round(sum(l_quantity), 2) AS sum_qty,
         |       round(sum(l_extendedprice), 2) AS sum_base_price,
         |       round(CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 10000.0, 0) AS BIGINT)) AS DOUBLE) / 100, 0) / 100 + 0 AS sum_disc_price,
         |       round(CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * (1 + l_tax) * 1000000.0, 0) AS BIGINT)) AS DOUBLE) / 10000.0, 0) / 100 + 0 AS sum_charge,
         |       ${MEAN6("sum(CAST(round(l_quantity, 0) AS BIGINT) * 1000000)", "count(*)")} AS avg_qty,
         |       ${MEAN6("sum(CAST(round(l_extendedprice * 100, 0) AS BIGINT) * 10000)", "count(*)")} AS avg_price,
         |       ${MEAN6("sum(CAST(round(l_discount * 100, 0) AS BIGINT) * 10000)", "count(*)")} AS avg_disc,
         |       CAST(count(*) AS BIGINT) AS count_order
         |FROM lineitem WHERE CAST(l_shipdate AS DATE) <= DATE '2000-09-02'
         |GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus""".stripMargin)),

    QuerySpec("q3_join", (s, dir) => {
      val c = Tables.load(s, dir, "customer").filter(col("c_mktsegment") === "BUILDING")
      val o = Tables.load(s, dir, "orders")
        .filter(col("o_orderdate").cast("date") < lit("1998-03-15").cast("date"))
      val l = Tables.load(s, dir, "lineitem")
        .filter(col("l_shipdate").cast("date") > lit("1998-03-15").cast("date"))
      l.join(o, l("l_orderkey") === o("o_orderkey"))
        .join(broadcast(c), o("o_custkey") === c("c_custkey"))
        .groupBy(col("l_orderkey"))
        .agg((round(sum(round(col("l_extendedprice") * (lit(1) - col("l_discount")) * 1e4, 0)
            .cast("long")).cast("double") / 100, 0) / 100 + lit(0d)).as("revenue"))
        .orderBy(col("revenue").desc, col("l_orderkey"))
        .limit(10)
    },
      Some("""SELECT l_orderkey, round(CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 10000.0, 0) AS BIGINT)) AS DOUBLE) / 100, 0) / 100 + 0 AS revenue
        |FROM customer JOIN orders ON c_custkey = o_custkey
        |              JOIN lineitem ON l_orderkey = o_orderkey
        |WHERE c_mktsegment = 'BUILDING'
        |  AND CAST(o_orderdate AS DATE) < DATE '1998-03-15'
        |  AND CAST(l_shipdate AS DATE) > DATE '1998-03-15'
        |GROUP BY l_orderkey ORDER BY revenue DESC, l_orderkey LIMIT 10""".stripMargin)),

    // TPC-H Q5 shape: the six-table star — region filter broadcast down
    // the dim chain, customer-supplier nation COLOCATION condition (the
    // classic local-supplier join), exact-integer revenue sums per the
    // unbounded-group decimal rule
    QuerySpec("q5_join", (s, dir) => {
      val r = Tables.load(s, dir, "region").filter(col("r_name") === "ASIA")
      val n = Tables.load(s, dir, "nation")
      val cu = Tables.load(s, dir, "customer")
      val o = Tables.load(s, dir, "orders")
      val l = Tables.load(s, dir, "lineitem")
      val su = Tables.load(s, dir, "supplier")
      val dim = n.join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
      l.join(o, l("l_orderkey") === o("o_orderkey"))
        .join(cu, o("o_custkey") === cu("c_custkey"))
        .join(su, l("l_suppkey") === su("s_suppkey") &&
          cu("c_nationkey") === su("s_nationkey"))
        .join(broadcast(dim), cu("c_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name"))
        .agg((round(sum(round(col("l_extendedprice") * (lit(1) - col("l_discount")) * 1e4, 0)
            .cast("long").cast("decimal(38,0)")).cast("double") / 100, 0) / 100 + lit(0d))
            .as("revenue"),
          count(lit(1)).as("n_lines"))
        .orderBy(col("n_name"))
    },
      Some("""SELECT n_name,
        |       round(CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 10000.0, 0) AS BIGINT)) AS DOUBLE) / 100, 0) / 100 + 0 AS revenue,
        |       CAST(count(*) AS BIGINT) AS n_lines
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name = 'ASIA'
        |GROUP BY n_name ORDER BY n_name""".stripMargin)),

    // TPC-H Q12 shape: big-big equi-join + conditional aggregation (this
    // dataset carries no commitdate/shipmode, so "late" = shipped more
    // than 30 days after the order date)
    QuerySpec("q12_agg", (s, dir) => {
      val o = Tables.load(s, dir, "orders")
      val l = Tables.load(s, dir, "lineitem")
      l.join(o, l("l_orderkey") === o("o_orderkey"))
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n_lines"),
          sum(when(col("l_shipdate").cast("date") >
              date_add(col("o_orderdate").cast("date"), 30), 1L).otherwise(0L))
            .as("n_late"))
        .orderBy(col("o_orderpriority"))
    },
      Some("""SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_lines,
        |       CAST(sum(CASE WHEN CAST(l_shipdate AS DATE) > CAST(o_orderdate AS DATE) + 30
        |                     THEN 1 ELSE 0 END) AS BIGINT) AS n_late
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin)),

    // TPC-H Q10 shape: returned-item revenue per customer, one quarter —
    // two fact joins narrowed by selective filters, nation broadcast,
    // TakeOrdered top-20 under a (revenue desc, custkey) total order
    QuerySpec("q10_join", (s, dir) => {
      val c = Tables.load(s, dir, "customer")
      val o = Tables.load(s, dir, "orders")
        .filter(col("o_orderdate").cast("date") >= lit("1997-01-01").cast("date") &&
          col("o_orderdate").cast("date") < lit("1997-04-01").cast("date"))
      val l = Tables.load(s, dir, "lineitem").filter(col("l_returnflag") === "R")
      val n = Tables.load(s, dir, "nation")
      l.join(o, l("l_orderkey") === o("o_orderkey"))
        .join(c, o("o_custkey") === c("c_custkey"))
        .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
        .groupBy(col("c_custkey"), col("c_name"), col("c_acctbal"), col("n_name"))
        .agg((round(sum(round(col("l_extendedprice") * (lit(1) - col("l_discount")) * 1e4, 0)
            .cast("long").cast("decimal(38,0)")).cast("double") / 100, 0) / 100 + lit(0d))
            .as("revenue"),
          count(lit(1)).as("n_lines"))
        .orderBy(col("revenue").desc, col("c_custkey"))
        .limit(20)
    },
      Some("""SELECT c_custkey, c_name, c_acctbal, n_name,
        |       round(CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 10000.0, 0) AS BIGINT)) AS DOUBLE) / 100, 0) / 100 + 0 AS revenue,
        |       CAST(count(*) AS BIGINT) AS n_lines
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |WHERE l_returnflag = 'R'
        |  AND CAST(o_orderdate AS DATE) >= DATE '1997-01-01'
        |  AND CAST(o_orderdate AS DATE) < DATE '1997-04-01'
        |GROUP BY 1, 2, 3, 4
        |ORDER BY revenue DESC, c_custkey LIMIT 20""".stripMargin)),

    // TPC-H Q4 shape: the EXISTS decorrelation — orders for one quarter
    // with at least one late line (our late proxy: shipped > 30 days
    // after the order date, the q12 rule), counted per priority. The
    // semi-join keeps the probe side duplicate-free without a distinct:
    // Catalyst plans LeftSemi on the orderkey equi-key with the
    // late-ship residual, so each order tests lines once and never fans.
    QuerySpec("q4_semi", (s, dir) => {
      val o = Tables.load(s, dir, "orders")
        .filter(col("o_orderdate").cast("date") >= lit("1997-01-01").cast("date") &&
          col("o_orderdate").cast("date") < lit("1997-04-01").cast("date"))
      val l = Tables.load(s, dir, "lineitem")
      o.join(l, o("o_orderkey") === l("l_orderkey") &&
          l("l_shipdate").cast("date") > date_add(o("o_orderdate").cast("date"), 30),
          "left_semi")
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n_orders"))
        .orderBy(col("o_orderpriority"))
    },
      Some("""SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_orders
        |FROM orders
        |WHERE CAST(o_orderdate AS DATE) >= DATE '1997-01-01'
        |  AND CAST(o_orderdate AS DATE) < DATE '1997-04-01'
        |  AND EXISTS (SELECT 1 FROM lineitem
        |              WHERE l_orderkey = o_orderkey
        |                AND CAST(l_shipdate AS DATE) > CAST(o_orderdate AS DATE) + 30)
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin)),

    // TPC-H Q22 shape: the NOT-EXISTS anti-join + scalar-aggregate
    // threshold — "above-average-balance customers with no RECENT
    // order" (the lapsed-customer churn audit; every customer in this
    // dataset has SOME order, so the recency filter is what gives the
    // anti-join a non-empty answer to gate), per nation. The
    // positive-balance mean arrives as ONE broadcast row of exact
    // integer moments (Σbal_us, n) and the threshold comparison stays
    // integer (bal·n > Σ — no division, no float), so the filter is
    // engine-portable bit-for-bit; recent orders are eliminated by a
    // left-anti equi-join on custkey (never a NOT IN materialization),
    // with the date filter pushed below the join.
    QuerySpec("q22_anti", (s, dir) => {
      val c = Tables.load(s, dir, "customer")
        .withColumn("bal_us", round(col("c_acctbal") * 1e4, 0).cast("long"))
      val stats = c.filter(col("bal_us") > 0)
        .agg(sum(col("bal_us").cast("decimal(38,0)")).as("s_us"),
          count(lit(1)).as("n_pos"))
      val o = Tables.load(s, dir, "orders")
        .filter(col("o_orderdate").cast("date") >= lit("2000-01-01").cast("date"))
      c.crossJoin(broadcast(stats))
        .filter(col("bal_us").cast("decimal(38,0)") * col("n_pos") > col("s_us"))
        .join(o, col("c_custkey") === o("o_custkey"), "left_anti")
        .groupBy(col("c_nationkey"))
        .agg(count(lit(1)).as("n_custs"),
          (round(sum(col("bal_us").cast("decimal(38,0)")).cast("double") / 100, 0) / 100
            + lit(0d)).as("acctbal_sum"))
        .orderBy(col("c_nationkey"))
    },
      Some("""WITH cb AS (SELECT c_custkey, c_nationkey,
        |                   CAST(round(c_acctbal * 10000.0, 0) AS BIGINT) AS bal_us
        |            FROM customer),
        |st AS (SELECT sum(bal_us) AS s_us, count(*) AS n_pos
        |       FROM cb WHERE bal_us > 0)
        |SELECT c_nationkey, CAST(count(*) AS BIGINT) AS n_custs,
        |       round(CAST(sum(bal_us) AS DOUBLE) / 100, 0) / 100 + 0 AS acctbal_sum
        |FROM cb, st
        |WHERE bal_us * n_pos > s_us
        |  AND NOT EXISTS (SELECT 1 FROM orders
        |                  WHERE o_custkey = c_custkey
        |                    AND CAST(o_orderdate AS DATE) >= DATE '2000-01-01')
        |GROUP BY c_nationkey ORDER BY c_nationkey""".stripMargin)),

    // TPC-H Q19 shape: the disjunction of brand/size/quantity conjuncts —
    // Catalyst must push the part-only disjuncts (brand ∨ brand) below
    // the join and keep the mixed residual on top; revenue per branch
    // proves each disjunct matched
    QuerySpec("q19_join", (s, dir) => {
      val l = Tables.load(s, dir, "lineitem")
      val p = Tables.load(s, dir, "part")
      val b1 = col("p_brand") === "Brand#1" && col("p_size").between(1, 15) &&
        col("l_quantity").between(1, 21)
      val b2 = col("p_brand") === "Brand#2" && col("p_size").between(1, 30) &&
        col("l_quantity").between(15, 35)
      l.join(p, l("l_partkey") === p("p_partkey"))
        .filter(b1 || b2)
        .groupBy(when(b1, lit("b1")).otherwise(lit("b2")).as("branch"))
        .agg(count(lit(1)).as("n_lines"),
          (round(sum(round(col("l_extendedprice") * (lit(1) - col("l_discount")) * 1e4, 0)
            .cast("long").cast("decimal(38,0)")).cast("double") / 100, 0) / 100 + lit(0d))
            .as("revenue"))
        .orderBy(col("branch"))
    },
      Some("""WITH j AS (SELECT p_brand, p_size, l_quantity, l_extendedprice, l_discount
        |           FROM lineitem JOIN part ON l_partkey = p_partkey
        |           WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15
        |                  AND l_quantity BETWEEN 1 AND 21)
        |              OR (p_brand = 'Brand#2' AND p_size BETWEEN 1 AND 30
        |                  AND l_quantity BETWEEN 15 AND 35))
        |SELECT CASE WHEN p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15
        |                 AND l_quantity BETWEEN 1 AND 21
        |            THEN 'b1' ELSE 'b2' END AS branch,
        |       CAST(count(*) AS BIGINT) AS n_lines,
        |       round(CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 10000.0, 0) AS BIGINT)) AS DOUBLE) / 100, 0) / 100 + 0 AS revenue
        |FROM j GROUP BY 1 ORDER BY branch""".stripMargin)),

    QuerySpec("q6_filter", (s, dir) =>
      Tables.load(s, dir, "lineitem")
        .filter(col("l_shipdate").cast("date") >= lit("1997-01-01").cast("date") &&
          col("l_shipdate").cast("date") < lit("1998-01-01").cast("date") &&
          col("l_discount").between(0.05, 0.07) && col("l_quantity") < 24)
        // one global group → decimal accumulation (graft.Quant overflow rule)
        .agg((round(sum(round(col("l_extendedprice") * col("l_discount") * 1e4, 0)
          .cast("long").cast("decimal(38,0)")).cast("double") / 100, 0) / 100
          + lit(0d)).as("revenue")),
      Some("""SELECT round(CAST(sum(CAST(round(l_extendedprice * l_discount * 10000.0, 0) AS BIGINT)) AS DOUBLE) / 100, 0) / 100 + 0 AS revenue
        |FROM lineitem
        |WHERE CAST(l_shipdate AS DATE) >= DATE '1997-01-01'
        |  AND CAST(l_shipdate AS DATE) < DATE '1998-01-01'
        |  AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24""".stripMargin)),

    // TPC-H Q18 shape: large-volume orders (HAVING over a fact aggregation)
    // joined back to dims. The big-order filter reduces the orders side to
    // near-nothing, which AQE then broadcasts into the customer join.
    QuerySpec("q18_join", (s, dir) => {
      val big = Tables.load(s, dir, "lineitem")
        .groupBy(col("l_orderkey"))
        .agg(round(sum(col("l_quantity")), 2).as("sum_qty"))
        .filter(col("sum_qty") > 250)
      val o = Tables.load(s, dir, "orders")
      val c = Tables.load(s, dir, "customer")
      o.join(big, o("o_orderkey") === big("l_orderkey"))
        .join(c, o("o_custkey") === c("c_custkey"))
        .select(col("c_custkey"), col("o_orderkey"),
          unix_micros(col("o_orderdate").cast("timestamp")).as("o_date_us"),
          col("o_totalprice"), col("sum_qty"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        .limit(20)
    },
      Some("""WITH big AS (SELECT l_orderkey, round(sum(l_quantity), 2) AS sum_qty
        |             FROM lineitem GROUP BY 1 HAVING round(sum(l_quantity), 2) > 250)
        |SELECT c_custkey, o_orderkey, epoch_us(o_orderdate) AS o_date_us,
        |       o_totalprice, sum_qty
        |FROM orders JOIN big ON o_orderkey = l_orderkey
        |            JOIN customer ON o_custkey = c_custkey
        |ORDER BY o_totalprice DESC, o_orderkey LIMIT 20""".stripMargin)),

    // TPC-H Q13 shape: per-customer order counts via left outer join
    // (customers with no orders count 0), then the count distribution —
    // two keyed aggregations, pure integers.
    QuerySpec("q13_agg", (s, dir) => {
      val c = Tables.load(s, dir, "customer")
      val o = Tables.load(s, dir, "orders")
      c.join(o, c("c_custkey") === o("o_custkey"), "left")
        .groupBy(col("c_custkey"))
        .agg(count(col("o_orderkey")).as("c_count"))
        .groupBy(col("c_count")).agg(count(lit(1)).as("custdist"))
        .orderBy(col("custdist").desc, col("c_count").desc)
    },
      Some("""WITH cnt AS (SELECT c_custkey, count(o_orderkey) AS c_count
        |             FROM customer LEFT JOIN orders ON c_custkey = o_custkey
        |             GROUP BY 1)
        |SELECT CAST(c_count AS BIGINT) AS c_count, CAST(count(*) AS BIGINT) AS custdist
        |FROM cnt GROUP BY 1 ORDER BY custdist DESC, c_count DESC""".stripMargin)),
  )
}
