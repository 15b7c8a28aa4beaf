package graft.queries

import graft.sources.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** All 22 classic TPC-H query shapes (Q1 lives in RelationalQueries as
  * `rel_q1_agg`) adapted to the fixture schema — multi-join plans where
  * Catalyst's join ordering, broadcast selection and partial aggregation
  * carry the 100 TB story. Revenue follows the module-wide decimal
  * policy (exact sum, round to scale 2, then double); ratios ship as ppm
  * integers; every avg-style comparison is rewritten multiplicative
  * (`x * cnt > sum`) so no engine ever divides.
  *
  * Fixture adaptations (TESTDATA.md has no partsupp, l_shipmode,
  * l_commitdate, p_container, c_phone): the part↔supplier relation is
  * derived from `lineitem` pairs, "late" means shipped >60 days after
  * the order date, ship modes become return flags, and phone country
  * codes become nations. Each query keeps its canonical plan shape —
  * that, not the predicate constants, is what the scale story rests on.
  */
object TpchQueries extends QueryModule {

  private def revenue(ext: Column, disc: Column): Column =
    QueryModule.revenue(ext, disc)

  private def revenueDec(ext: Column, disc: Column): Column =
    QueryModule.revenueDec(ext, disc)

  private val duckRevenue = QueryModule.DuckRevenue

  override def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Q1 proper: the canonical pricing-summary aggregate has lived in
    // this engine as rel_q1_agg (SURVEY §2.3, plan-shape
    // asserted there); this alias makes the 22/22 TPC-H inventory
    // self-evident under its own name. Same plan, same oracle.
    "tpch_q1" -> ((s, dir) => RelationalQueries.queries("rel_q1_agg")(s, dir)),

    // Q3 shape: shipping-priority — segment filter on the dim, date
    // split between orders and lineitem, top-10 revenue orders.
    "tpch_q3" -> ((s, dir) => {
      import s.implicits._
      Tables.customer(s, dir).where($"c_mktsegment" === "BUILDING")
        .join(Tables.orders(s, dir), $"c_custkey" === $"o_custkey")
        .where($"o_orderdate" < lit("1998-01-01").cast("timestamp_ntz"))
        .join(Tables.lineitem(s, dir), $"o_orderkey" === $"l_orderkey")
        .where($"l_shipdate" > lit("1998-01-01").cast("timestamp_ntz"))
        .groupBy($"l_orderkey", $"o_orderdate", $"o_orderpriority")
        .agg(revenue($"l_extendedprice", $"l_discount").as("revenue"))
        .orderBy($"revenue".desc, $"l_orderkey")
        .limit(10)
    }),

    // Q5 shape: local-supplier volume in ASIA for one year — the 6-way
    // join with the extra c_nationkey = s_nationkey co-location filter.
    "tpch_q5" -> ((s, dir) => {
      import s.implicits._
      Tables.customer(s, dir)
        .join(Tables.orders(s, dir), $"c_custkey" === $"o_custkey")
        .where(year($"o_orderdate") === 1996)
        .join(Tables.lineitem(s, dir), $"o_orderkey" === $"l_orderkey")
        .join(Tables.supplier(s, dir),
          $"l_suppkey" === $"s_suppkey" && $"c_nationkey" === $"s_nationkey")
        .join(broadcast(Tables.nation(s, dir)), $"s_nationkey" === $"n_nationkey")
        .join(broadcast(Tables.region(s, dir)), $"n_regionkey" === $"r_regionkey")
        .where($"r_name" === "ASIA")
        .groupBy($"n_name")
        .agg(revenue($"l_extendedprice", $"l_discount").as("revenue"))
        .orderBy($"revenue".desc, $"n_name")
    }),

    // Q10 shape: revenue lost to returned items, top 20 customers.
    "tpch_q10" -> ((s, dir) => {
      import s.implicits._
      Tables.customer(s, dir)
        .join(Tables.orders(s, dir), $"c_custkey" === $"o_custkey")
        .where(year($"o_orderdate") === 1997)
        .join(Tables.lineitem(s, dir), $"o_orderkey" === $"l_orderkey")
        .where($"l_returnflag" === "R")
        .join(broadcast(Tables.nation(s, dir)), $"c_nationkey" === $"n_nationkey")
        .groupBy($"c_custkey", $"c_name", $"n_name")
        .agg(revenue($"l_extendedprice", $"l_discount").as("revenue"))
        .orderBy($"revenue".desc, $"c_custkey")
        .limit(20)
    }),

    // Q4 shape: order-priority checking — EXISTS correlated subquery
    // lowering to a left-semi join (fixture has no l_commitdate/
    // l_receiptdate, so the "late line" predicate is adapted to
    // l_shipdate > o_orderdate; the semi-join shape is the point).
    "tpch_q4" -> ((s, dir) => {
      import s.implicits._
      // year(...) rather than a BETWEEN on casted midnight bounds: the
      // upper bound '1997-12-31' casts to 00:00:00, which would drop a
      // Dec 31 order carrying a time-of-day — and it matches the
      // filter convention the rest of the suite uses.
      val o = Tables.orders(s, dir)
        .where(year($"o_orderdate") === 1997)
      val lateLines = Tables.lineitem(s, dir)
        .select($"l_orderkey", $"l_shipdate")
      o.join(lateLines,
          $"o_orderkey" === $"l_orderkey" && $"l_shipdate" > $"o_orderdate",
          "left_semi")
        .groupBy($"o_orderpriority")
        .agg(count(lit(1)).as("order_count"))
        .orderBy("o_orderpriority")
    }),

    // Q14 shape: promotion revenue share — conditional aggregation over
    // a fact⋈dim join, one ratio row out. Ratio in ppm via the decimal
    // revenue pair (engine-exact integers, no float division drift).
    "tpch_q14" -> ((s, dir) => {
      import s.implicits._
      Tables.lineitem(s, dir)
        .where(year($"l_shipdate") === 1997)
        .join(Tables.part(s, dir), $"l_partkey" === $"p_partkey")
        .agg(
          revenue($"l_extendedprice", $"l_discount").as("total_revenue"),
          revenue(
            when($"p_type" === "PROMO", $"l_extendedprice").otherwise(lit(0.0)),
            $"l_discount").as("promo_revenue"))
        // nullif: an empty year would make total_revenue 0.0, the double
        // division Infinity, and CAST(inf AS BIGINT) throws under ANSI —
        // degrade to NULL instead (mirrored in the oracle).
        .selectExpr("promo_revenue", "total_revenue",
          "CAST(floor(promo_revenue * 1000000 / nullif(total_revenue, 0.0D)) AS BIGINT) AS promo_ppm")
    }),

    // Q21 shape: suppliers-who-kept-orders-waiting — the EXISTS +
    // NOT EXISTS double self-join on the fact table (semi-join then
    // anti-join on the same key), the hardest join-planning shape in
    // TPC-H. Adapted semantics on fixture columns: a supplier's 'R'
    // line on a multi-supplier order where NO other supplier's line on
    // that order is 'R'.
    "tpch_q21" -> ((s, dir) => {
      import s.implicits._
      val li = Tables.lineitem(s, dir)
        .select($"l_orderkey", $"l_suppkey", $"l_returnflag")
      val l1 = li.where($"l_returnflag" === "R")
      val withOther = l1.as("l1").join(li.as("l2"),
        $"l1.l_orderkey" === $"l2.l_orderkey" &&
          $"l1.l_suppkey" =!= $"l2.l_suppkey",
        "left_semi")
      val soleFault = withOther.as("l1").join(
        li.where($"l_returnflag" === "R").as("l3"),
        $"l1.l_orderkey" === $"l3.l_orderkey" &&
          $"l1.l_suppkey" =!= $"l3.l_suppkey",
        "left_anti")
      soleFault
        .join(Tables.supplier(s, dir), $"l_suppkey" === $"s_suppkey")
        .join(broadcast(Tables.nation(s, dir)), $"s_nationkey" === $"n_nationkey")
        .groupBy($"s_name", $"n_name")
        .agg(count(lit(1)).as("numwait"))
        .orderBy($"numwait".desc, $"s_name")
        .limit(25)
    }),

    // Q18 shape: large-volume orders (whole-group predicate feeding a
    // join — the aggregate-then-join pattern).
    "tpch_q18" -> ((s, dir) => {
      import s.implicits._
      val big = Tables.lineitem(s, dir)
        .groupBy($"l_orderkey")
        .agg(sum($"l_quantity".cast("decimal(12,2)")).cast("double").as("sum_qty"))
        .where($"sum_qty" > 300)
      Tables.orders(s, dir)
        .join(big, $"o_orderkey" === $"l_orderkey")
        .join(Tables.customer(s, dir), $"o_custkey" === $"c_custkey")
        .select($"c_custkey", $"c_name", $"o_orderkey", $"o_orderdate",
          $"o_totalprice", $"sum_qty")
        .orderBy($"o_totalprice".desc, $"o_orderkey")
        .limit(100)
    }),

    // Q2 shape: minimum-cost supplier — the correlated-min subquery.
    // No partsupp table, so supply cost is derived from lineitem as the
    // cheapest observed price per (part, supplier) pair; the min-per-part
    // is a partitioned window (scales — no driver-side min, no global
    // shuffle beyond the partitioning the window needs anyway).
    "tpch_q2" -> ((s, dir) => {
      import s.implicits._
      val eu = Tables.supplier(s, dir)
        .join(broadcast(Tables.nation(s, dir)), $"s_nationkey" === $"n_nationkey")
        .join(broadcast(Tables.region(s, dir)), $"n_regionkey" === $"r_regionkey")
        .where($"r_name" === "EUROPE")
      val parts = Tables.part(s, dir)
        .where($"p_type" === "LARGE" && $"p_size" <= 25)
      // Selective dim filters pushed BELOW the fact aggregation as
      // broadcast semi-joins on the keys alone: only Europe suppliers ×
      // qualifying parts reach the (part, supplier) shuffle, instead of
      // aggregating every pair and discarding most afterwards. Both
      // dims join on their primary key, so prefiltering cannot change
      // any group's row set — the min per surviving pair is identical.
      val ps = Tables.lineitem(s, dir)
        .join(broadcast(eu.select($"s_suppkey")),
          $"l_suppkey" === $"s_suppkey", "left_semi")
        .join(broadcast(parts.select($"p_partkey")),
          $"l_partkey" === $"p_partkey", "left_semi")
        .groupBy($"l_partkey", $"l_suppkey")
        .agg(min($"l_extendedprice".cast("decimal(12,2)")).as("supplycost"))
      ps.join(eu, $"l_suppkey" === $"s_suppkey")
        .join(parts, $"l_partkey" === $"p_partkey")
        .withColumn("min_cost", min($"supplycost").over(Window.partitionBy($"p_partkey")))
        .where($"supplycost" === $"min_cost")
        .select($"s_acctbal", $"s_name", $"n_name", $"p_partkey", $"p_brand",
          $"supplycost".cast("double").as("supplycost"))
        .orderBy($"s_acctbal".desc, $"n_name", $"s_name", $"p_partkey")
        .limit(100)
    }),

    // Q6 shape: forecasting revenue change — pure scan+filter+agg, the
    // predicate-pushdown showcase. Discount compared in the decimal
    // domain (0.05 as a double literal vs DuckDB's decimal literal would
    // diverge on the boundary rows).
    "tpch_q6" -> ((s, dir) => {
      import s.implicits._
      val discD = $"l_discount".cast("decimal(6,4)")
      Tables.lineitem(s, dir)
        .where(year($"l_shipdate") === 1997 &&
          discD.between(lit(0.05).cast("decimal(6,4)"), lit(0.07).cast("decimal(6,4)")) &&
          $"l_quantity" < 24)
        .agg(round(sum($"l_extendedprice".cast("decimal(12,2)") * discD), 2)
          .cast("decimal(18,2)").cast("double").as("revenue"))
    }),

    // Q7 shape: volume shipping between two trade blocs — the
    // double-dimension (supplier nation × customer nation) join with a
    // symmetric pair predicate. Regions stand in for the nation pair so
    // the query is non-degenerate at every SF (10 suppliers at sf0.001
    // leave most single nations supplier-less).
    "tpch_q7" -> ((s, dir) => {
      import s.implicits._
      val nr = Tables.nation(s, dir)
        .join(Tables.region(s, dir), $"n_regionkey" === $"r_regionkey")
      val suppR = nr.select($"n_nationkey".as("sn_key"), $"r_name".as("supp_region"))
      val custR = nr.select($"n_nationkey".as("cn_key"), $"r_name".as("cust_region"))
      Tables.lineitem(s, dir)
        .where(year($"l_shipdate").isin(1996, 1997))
        .join(Tables.orders(s, dir), $"l_orderkey" === $"o_orderkey")
        .join(Tables.customer(s, dir), $"o_custkey" === $"c_custkey")
        .join(Tables.supplier(s, dir), $"l_suppkey" === $"s_suppkey")
        .join(broadcast(suppR), $"s_nationkey" === $"sn_key")
        .join(broadcast(custR), $"c_nationkey" === $"cn_key")
        .where(($"supp_region" === "ASIA" && $"cust_region" === "EUROPE") ||
          ($"supp_region" === "EUROPE" && $"cust_region" === "ASIA"))
        .groupBy($"supp_region", $"cust_region", year($"l_shipdate").as("l_year"))
        .agg(revenue($"l_extendedprice", $"l_discount").as("revenue"))
        .orderBy($"supp_region", $"cust_region", $"l_year")
    }),

    // Q8 shape: national market share — conditional revenue over an
    // 8-way join, share as ppm (supplier bloc = ASIA within the ASIA
    // customer market; a single nation's share is 0/defined-nowhere at
    // sf0.001).
    "tpch_q8" -> ((s, dir) => {
      import s.implicits._
      val nr = Tables.nation(s, dir)
        .join(Tables.region(s, dir), $"n_regionkey" === $"r_regionkey")
      val custAsia = Tables.customer(s, dir)
        .join(broadcast(nr.where($"r_name" === "ASIA").select($"n_nationkey".as("cn_key"))),
          $"c_nationkey" === $"cn_key")
        .select($"c_custkey")
      val suppR = nr.select($"n_nationkey".as("sn_key"), $"r_name".as("supp_region"))
      Tables.lineitem(s, dir)
        .join(Tables.part(s, dir).where($"p_type" === "ECONOMY"), $"l_partkey" === $"p_partkey")
        .join(Tables.orders(s, dir), $"l_orderkey" === $"o_orderkey")
        .where(year($"o_orderdate").isin(1996, 1997))
        .join(custAsia, $"o_custkey" === $"c_custkey")
        .join(Tables.supplier(s, dir), $"l_suppkey" === $"s_suppkey")
        .join(broadcast(suppR), $"s_nationkey" === $"sn_key")
        .groupBy(year($"o_orderdate").as("o_year"))
        .agg(
          revenue(when($"supp_region" === "ASIA", $"l_extendedprice").otherwise(lit(0.0)),
            $"l_discount").as("asia_revenue"),
          revenue($"l_extendedprice", $"l_discount").as("total_revenue"))
        .selectExpr("o_year", "asia_revenue", "total_revenue",
          "CAST(floor(asia_revenue * 1000000 / nullif(total_revenue, 0.0D)) AS BIGINT) AS mkt_share_ppm")
        .orderBy("o_year")
    }),

    // Q9 shape: product-type profit — profit = revenue − cost with the
    // whole subtraction kept in the decimal domain (no partsupp: cost is
    // retailprice·qty/2). Groups by supplier nation × order year.
    "tpch_q9" -> ((s, dir) => {
      import s.implicits._
      val amount =
        $"l_extendedprice".cast("decimal(12,2)") * (lit(1) - $"l_discount".cast("decimal(6,4)")) -
          $"p_retailprice".cast("decimal(12,2)") * $"l_quantity".cast("decimal(12,2)") *
            lit(0.5).cast("decimal(2,1)")
      Tables.lineitem(s, dir)
        .join(Tables.part(s, dir).where($"p_name".like("%gear%")), $"l_partkey" === $"p_partkey")
        .join(Tables.supplier(s, dir), $"l_suppkey" === $"s_suppkey")
        .join(broadcast(Tables.nation(s, dir)), $"s_nationkey" === $"n_nationkey")
        .join(Tables.orders(s, dir), $"l_orderkey" === $"o_orderkey")
        .groupBy($"n_name", year($"o_orderdate").as("o_year"))
        .agg(round(sum(amount), 2).cast("decimal(18,2)").cast("double").as("sum_profit"))
        .orderBy($"n_name", $"o_year".desc)
    }),

    // Q11 shape: important stock — group-agg plus a scalar-subquery
    // threshold. Per-part value from EUROPE suppliers' lineitems; the
    // "important" cut is value > 1.2× the mean part value, compared
    // multiplicatively in decimals (value·nparts > total·1.2) so the
    // threshold is SF-independent (lines-per-part is constant across
    // SFs) and no division happens in either engine.
    "tpch_q11" -> ((s, dir) => {
      import s.implicits._
      val eu = Tables.supplier(s, dir)
        .join(broadcast(Tables.nation(s, dir)), $"s_nationkey" === $"n_nationkey")
        .join(broadcast(Tables.region(s, dir)), $"n_regionkey" === $"r_regionkey")
        .where($"r_name" === "EUROPE")
        .select($"s_suppkey")
      val perPart = Tables.lineitem(s, dir)
        .join(eu, $"l_suppkey" === $"s_suppkey", "left_semi")
        .groupBy($"l_partkey")
        .agg(revenueDec($"l_extendedprice", $"l_discount").as("value"))
      val totals = perPart.agg(sum($"value").as("tot"), count(lit(1)).as("nparts"))
      perPart.crossJoin(broadcast(totals))
        .where($"value" * $"nparts" > $"tot" * lit(1.2).cast("decimal(2,1)"))
        .select($"l_partkey", $"value".cast("double").as("value"))
        .orderBy($"value".desc, $"l_partkey")
    }),

    // Q12 shape: late shipments by mode — conditional counts over the
    // orders⋈lineitem join. Return flag stands in for ship mode; "late"
    // is shipped more than 60 days after ordering.
    "tpch_q12" -> ((s, dir) => {
      import s.implicits._
      val high = $"o_orderpriority".isin("1-URGENT", "2-HIGH")
      Tables.orders(s, dir)
        .join(Tables.lineitem(s, dir), $"o_orderkey" === $"l_orderkey")
        .where(year($"l_shipdate") === 1997 &&
          $"l_shipdate" > $"o_orderdate" + expr("INTERVAL 60 DAYS"))
        .groupBy($"l_returnflag")
        .agg(
          sum(when(high, 1).otherwise(0)).as("high_line_count"),
          sum(when(!high, 1).otherwise(0)).as("low_line_count"))
        .orderBy("l_returnflag")
    }),

    // Q13 shape: customer order-count distribution — the left-outer join
    // with a join-condition filter (not a WHERE filter: customers with
    // zero qualifying orders must survive with c_count = 0), then a
    // second aggregation over the first.
    "tpch_q13" -> ((s, dir) => {
      import s.implicits._
      Tables.customer(s, dir)
        .join(Tables.orders(s, dir).where($"o_orderpriority" =!= "1-URGENT"),
          $"c_custkey" === $"o_custkey", "left_outer")
        .groupBy($"c_custkey")
        .agg(count($"o_orderkey").as("c_count"))
        .groupBy($"c_count")
        .agg(count(lit(1)).as("custdist"))
        .orderBy($"custdist".desc, $"c_count".desc)
    }),

    // Q15 shape: top supplier — an aggregate CTE referenced twice, once
    // for the max scalar subquery and once for the join back. Revenue
    // kept decimal for the equality; only the output casts to double.
    "tpch_q15" -> ((s, dir) => {
      import s.implicits._
      val rev = Tables.lineitem(s, dir)
        .where(year($"l_shipdate") === 1997)
        .groupBy($"l_suppkey")
        .agg(revenueDec($"l_extendedprice", $"l_discount").as("total_rev"))
      val top = rev.agg(max($"total_rev").as("max_rev"))
      Tables.supplier(s, dir)
        .join(rev, $"s_suppkey" === $"l_suppkey")
        .crossJoin(broadcast(top))
        .where($"total_rev" === $"max_rev")
        .select($"s_suppkey", $"s_name", $"total_rev".cast("double").as("total_revenue"))
        .orderBy($"s_suppkey")
    }),

    // Q16 shape: supplier count by part attributes — distinct pairs from
    // the fact table, a NOT IN lowered to an anti join, and a
    // count-distinct rollup.
    "tpch_q16" -> ((s, dir) => {
      import s.implicits._
      val badSupp = Tables.supplier(s, dir).where($"s_acctbal" < 0).select($"s_suppkey")
      Tables.lineitem(s, dir)
        .select($"l_partkey", $"l_suppkey").distinct()
        .join(badSupp, $"l_suppkey" === $"s_suppkey", "left_anti")
        .join(Tables.part(s, dir).where($"p_brand" =!= "Brand#1" && $"p_type" =!= "PROMO" &&
          $"p_size".isin(1, 5, 9, 14, 19, 23, 36, 45)), $"l_partkey" === $"p_partkey")
        .groupBy($"p_brand", $"p_type", $"p_size")
        .agg(countDistinct($"l_suppkey").as("supplier_cnt"))
        .orderBy($"supplier_cnt".desc, $"p_brand", $"p_type", $"p_size")
    }),

    // Q17 shape: small-quantity revenue — the correlated avg subquery,
    // rewritten multiplicative (qty·5·cnt < sum) so the comparison is
    // integer-exact, and the avg-per-part agg joins back to the same
    // scan. Output is the 7-year average in exact cents (ppm-style
    // integer contract).
    "tpch_q17" -> ((s, dir) => {
      import s.implicits._
      val pk = Tables.part(s, dir)
        .where($"p_brand" === "Brand#3" && $"p_size" < 10)
        .select($"p_partkey")
      val li = Tables.lineitem(s, dir).join(pk, $"l_partkey" === $"p_partkey")
      val stats = li.groupBy($"p_partkey".as("spk"))
        .agg(sum($"l_quantity".cast("bigint")).as("qsum"), count(lit(1)).as("qcnt"))
      li.join(stats, $"p_partkey" === $"spk")
        .where($"l_quantity".cast("bigint") * 5 * $"qcnt" < $"qsum")
        .agg(round(sum($"l_extendedprice".cast("decimal(12,2)")), 2)
          .cast("decimal(18,2)").as("rev"))
        .selectExpr("CAST(rev AS DOUBLE) AS total_revenue",
          "CAST(CAST(rev * 100 AS BIGINT) DIV 7 AS BIGINT) AS avg_yearly_cents")
    }),

    // Q19 shape: disjunctive predicate join — three OR'd conjunct groups
    // mixing part and lineitem columns; Catalyst extracts the common
    // join key and pushes the per-side conjuncts below the join.
    "tpch_q19" -> ((s, dir) => {
      import s.implicits._
      Tables.lineitem(s, dir)
        .join(Tables.part(s, dir), $"l_partkey" === $"p_partkey")
        .where(
          ($"p_brand" === "Brand#12" && $"p_size".between(1, 5) && $"l_quantity".between(1, 11)) ||
            ($"p_brand" === "Brand#23" && $"p_size".between(1, 10) && $"l_quantity".between(10, 20)) ||
            ($"p_brand" === "Brand#3" && $"p_size".between(1, 15) && $"l_quantity".between(20, 30)))
        .agg(revenue($"l_extendedprice", $"l_discount").as("revenue"))
    }),

    // Q20 shape: the nested-semi-join chain — suppliers qualified by a
    // grouped HAVING over the fact table (no partsupp: "has excess
    // stock" becomes "shipped >50 units of some bolt part in 1997").
    "tpch_q20" -> ((s, dir) => {
      import s.implicits._
      val bolts = Tables.part(s, dir).where($"p_name".like("%bolt%")).select($"p_partkey")
      val heavy = Tables.lineitem(s, dir)
        .where(year($"l_shipdate") === 1997)
        .join(bolts, $"l_partkey" === $"p_partkey")
        .groupBy($"l_suppkey", $"l_partkey")
        .agg(sum($"l_quantity".cast("bigint")).as("qty"))
        .where($"qty" > 50)
        .select($"l_suppkey")
      Tables.supplier(s, dir)
        .join(heavy, $"s_suppkey" === $"l_suppkey", "left_semi")
        .join(broadcast(Tables.nation(s, dir)), $"s_nationkey" === $"n_nationkey")
        .select($"s_name", $"n_name", $"s_acctbal")
        .orderBy($"s_name")
    }),

    // Q22 shape: global sales opportunity — scalar-subquery threshold
    // (above-average balance, compared multiplicatively: bal·cnt > sum)
    // plus an anti join on recent orders. Nations stand in for phone
    // country codes; "never ordered" becomes "no order since 1999"
    // (every fixture customer has some order).
    "tpch_q22" -> ((s, dir) => {
      import s.implicits._
      val cust = Tables.customer(s, dir)
      val thr = cust.where($"c_acctbal" > 0)
        .agg(sum($"c_acctbal".cast("decimal(12,2)")).as("tot"), count(lit(1)).as("cnt"))
      val recent = Tables.orders(s, dir)
        .where($"o_orderdate" >= lit("1999-01-01").cast("timestamp_ntz"))
        .select($"o_custkey")
      cust.join(recent, $"c_custkey" === $"o_custkey", "left_anti")
        .crossJoin(broadcast(thr))
        .where($"c_acctbal".cast("decimal(12,2)") * $"cnt" > $"tot")
        .join(broadcast(Tables.nation(s, dir)), $"c_nationkey" === $"n_nationkey")
        .groupBy($"n_name")
        .agg(count(lit(1)).as("numcust"),
          round(sum($"c_acctbal".cast("decimal(12,2)")), 2)
            .cast("decimal(18,2)").cast("double").as("totacctbal"))
        .orderBy($"n_name")
    })
  )

  override def oracles: Map[String, String] = Map(
    // Q1 = rel_q1_agg (aliased above): same oracle, resolved at the
    // module boundary so the two can never drift.
    "tpch_q1" -> RelationalQueries.oracles("rel_q1_agg"),
    "tpch_q3" ->
      s"""SELECT l_orderkey, o_orderdate, o_orderpriority, $duckRevenue AS revenue
         |FROM customer
         |JOIN orders ON c_custkey = o_custkey
         |JOIN lineitem ON o_orderkey = l_orderkey
         |WHERE c_mktsegment = 'BUILDING'
         |  AND o_orderdate < TIMESTAMP '1998-01-01'
         |  AND l_shipdate > TIMESTAMP '1998-01-01'
         |GROUP BY l_orderkey, o_orderdate, o_orderpriority
         |ORDER BY revenue DESC, l_orderkey
         |LIMIT 10""".stripMargin,
    "tpch_q5" ->
      s"""SELECT n_name, $duckRevenue AS revenue
         |FROM customer
         |JOIN orders ON c_custkey = o_custkey
         |JOIN lineitem ON o_orderkey = l_orderkey
         |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
         |JOIN nation ON s_nationkey = n_nationkey
         |JOIN region ON n_regionkey = r_regionkey
         |WHERE r_name = 'ASIA' AND year(o_orderdate) = 1996
         |GROUP BY n_name
         |ORDER BY revenue DESC, n_name""".stripMargin,
    "tpch_q10" ->
      s"""SELECT c_custkey, c_name, n_name, $duckRevenue AS revenue
         |FROM customer
         |JOIN orders ON c_custkey = o_custkey
         |JOIN lineitem ON o_orderkey = l_orderkey
         |JOIN nation ON c_nationkey = n_nationkey
         |WHERE year(o_orderdate) = 1997 AND l_returnflag = 'R'
         |GROUP BY c_custkey, c_name, n_name
         |ORDER BY revenue DESC, c_custkey
         |LIMIT 20""".stripMargin,
    "tpch_q4" ->
      """SELECT o_orderpriority, count(*) AS order_count
        |FROM orders
        |WHERE year(o_orderdate) = 1997
        |  AND EXISTS (SELECT 1 FROM lineitem
        |              WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate)
        |GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin,
    "tpch_q14" ->
      s"""WITH j AS (
         |  SELECT l_extendedprice, l_discount, p_type
         |  FROM lineitem JOIN part ON l_partkey = p_partkey
         |  WHERE year(l_shipdate) = 1997),
         |r AS (
         |  SELECT $duckRevenue AS total_revenue,
         |    ${QueryModule.duckRevenue("CASE WHEN p_type = 'PROMO' THEN l_extendedprice ELSE 0 END")} AS promo_revenue
         |  FROM j)
         |SELECT promo_revenue, total_revenue,
         |  CAST(floor(promo_revenue * 1000000 / nullif(total_revenue, 0.0)) AS BIGINT) AS promo_ppm
         |FROM r""".stripMargin,
    "tpch_q21" ->
      """WITH l1 AS (SELECT l_orderkey, l_suppkey FROM lineitem WHERE l_returnflag = 'R'),
        |f AS (SELECT * FROM l1
        |      WHERE EXISTS (SELECT 1 FROM lineitem l2
        |                    WHERE l2.l_orderkey = l1.l_orderkey
        |                      AND l2.l_suppkey <> l1.l_suppkey)
        |        AND NOT EXISTS (SELECT 1 FROM lineitem l3
        |                        WHERE l3.l_orderkey = l1.l_orderkey
        |                          AND l3.l_suppkey <> l1.l_suppkey
        |                          AND l3.l_returnflag = 'R'))
        |SELECT s_name, n_name, count(*) AS numwait
        |FROM f
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation ON s_nationkey = n_nationkey
        |GROUP BY s_name, n_name
        |ORDER BY numwait DESC, s_name
        |LIMIT 25""".stripMargin,
    "tpch_q18" ->
      """WITH big AS (
        |  SELECT l_orderkey,
        |    CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty
        |  FROM lineitem
        |  GROUP BY l_orderkey
        |  HAVING CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) > 300)
        |SELECT c_custkey, c_name, o_orderkey, o_orderdate, o_totalprice, sum_qty
        |FROM orders
        |JOIN big ON o_orderkey = l_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |ORDER BY o_totalprice DESC, o_orderkey
        |LIMIT 100""".stripMargin,
    "tpch_q2" ->
      """WITH ps AS (
        |  SELECT l_partkey, l_suppkey,
        |    min(CAST(l_extendedprice AS DECIMAL(12,2))) AS supplycost
        |  FROM lineitem GROUP BY l_partkey, l_suppkey)
        |SELECT s_acctbal, s_name, n_name, p_partkey, p_brand,
        |  CAST(supplycost AS DOUBLE) AS supplycost
        |FROM ps
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |JOIN part ON l_partkey = p_partkey
        |WHERE r_name = 'EUROPE' AND p_type = 'LARGE' AND p_size <= 25
        |  AND supplycost = (
        |    SELECT min(ps2.supplycost)
        |    FROM ps ps2
        |    JOIN supplier s2 ON ps2.l_suppkey = s2.s_suppkey
        |    JOIN nation n2 ON s2.s_nationkey = n2.n_nationkey
        |    JOIN region r2 ON n2.n_regionkey = r2.r_regionkey
        |    WHERE ps2.l_partkey = p_partkey AND r2.r_name = 'EUROPE')
        |ORDER BY s_acctbal DESC, n_name, s_name, p_partkey
        |LIMIT 100""".stripMargin,
    "tpch_q6" ->
      """SELECT CAST(CAST(round(sum(
        |    CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(l_discount AS DECIMAL(6,4))
        |  ), 2) AS DECIMAL(18,2)) AS DOUBLE) AS revenue
        |FROM lineitem
        |WHERE year(l_shipdate) = 1997
        |  AND CAST(l_discount AS DECIMAL(6,4))
        |      BETWEEN CAST(0.05 AS DECIMAL(6,4)) AND CAST(0.07 AS DECIMAL(6,4))
        |  AND l_quantity < 24""".stripMargin,
    "tpch_q7" ->
      s"""SELECT r1.r_name AS supp_region, r2.r_name AS cust_region,
         |  CAST(year(l_shipdate) AS INTEGER) AS l_year, $duckRevenue AS revenue
         |FROM lineitem
         |JOIN orders ON l_orderkey = o_orderkey
         |JOIN customer ON o_custkey = c_custkey
         |JOIN supplier ON l_suppkey = s_suppkey
         |JOIN nation n1 ON s_nationkey = n1.n_nationkey
         |JOIN region r1 ON n1.n_regionkey = r1.r_regionkey
         |JOIN nation n2 ON c_nationkey = n2.n_nationkey
         |JOIN region r2 ON n2.n_regionkey = r2.r_regionkey
         |WHERE ((r1.r_name = 'ASIA' AND r2.r_name = 'EUROPE')
         |    OR (r1.r_name = 'EUROPE' AND r2.r_name = 'ASIA'))
         |  AND year(l_shipdate) IN (1996, 1997)
         |GROUP BY 1, 2, 3
         |ORDER BY supp_region, cust_region, l_year""".stripMargin,
    "tpch_q8" ->
      s"""WITH j AS (
         |  SELECT CAST(year(o_orderdate) AS INTEGER) AS o_year, l_extendedprice, l_discount,
         |    CASE WHEN rs.r_name = 'ASIA' THEN l_extendedprice ELSE 0 END AS asia_ext
         |  FROM lineitem
         |  JOIN part ON l_partkey = p_partkey
         |  JOIN orders ON l_orderkey = o_orderkey
         |  JOIN customer ON o_custkey = c_custkey
         |  JOIN nation nc ON c_nationkey = nc.n_nationkey
         |  JOIN region rc ON nc.n_regionkey = rc.r_regionkey
         |  JOIN supplier ON l_suppkey = s_suppkey
         |  JOIN nation ns ON s_nationkey = ns.n_nationkey
         |  JOIN region rs ON ns.n_regionkey = rs.r_regionkey
         |  WHERE rc.r_name = 'ASIA' AND p_type = 'ECONOMY'
         |    AND year(o_orderdate) IN (1996, 1997)),
         |r AS (
         |  SELECT o_year,
         |    ${QueryModule.duckRevenue("asia_ext")} AS asia_revenue,
         |    $duckRevenue AS total_revenue
         |  FROM j GROUP BY o_year)
         |SELECT o_year, asia_revenue, total_revenue,
         |  CAST(floor(asia_revenue * 1000000 / nullif(total_revenue, 0.0)) AS BIGINT) AS mkt_share_ppm
         |FROM r
         |ORDER BY o_year""".stripMargin,
    "tpch_q9" ->
      """SELECT n_name, CAST(year(o_orderdate) AS INTEGER) AS o_year,
        |  CAST(CAST(round(sum(
        |    CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(6,4)))
        |    - CAST(p_retailprice AS DECIMAL(12,2)) * CAST(l_quantity AS DECIMAL(12,2))
        |      * CAST(0.5 AS DECIMAL(2,1))
        |  ), 2) AS DECIMAL(18,2)) AS DOUBLE) AS sum_profit
        |FROM lineitem
        |JOIN part ON l_partkey = p_partkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN orders ON l_orderkey = o_orderkey
        |WHERE p_name LIKE '%gear%'
        |GROUP BY 1, 2
        |ORDER BY n_name, o_year DESC""".stripMargin,
    "tpch_q11" ->
      s"""WITH perpart AS (
        |  SELECT l_partkey,
        |    ${QueryModule.duckRevenueDec("l_extendedprice")} AS value
        |  FROM lineitem
        |  WHERE l_suppkey IN (
        |    SELECT s_suppkey FROM supplier
        |    JOIN nation ON s_nationkey = n_nationkey
        |    JOIN region ON n_regionkey = r_regionkey
        |    WHERE r_name = 'EUROPE')
        |  GROUP BY l_partkey),
        |totals AS (SELECT sum(value) AS tot, count(*) AS nparts FROM perpart)
        |SELECT l_partkey, CAST(value AS DOUBLE) AS value
        |FROM perpart, totals
        |WHERE value * nparts > tot * CAST(1.2 AS DECIMAL(2,1))
        |ORDER BY value DESC, l_partkey""".stripMargin,
    "tpch_q12" ->
      """SELECT l_returnflag,
        |  CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
        |  CAST(sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
        |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        |WHERE year(l_shipdate) = 1997
        |  AND l_shipdate > o_orderdate + INTERVAL 60 DAY
        |GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin,
    "tpch_q13" ->
      """WITH c AS (
        |  SELECT c_custkey, count(o_orderkey) AS c_count
        |  FROM customer
        |  LEFT JOIN orders ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
        |  GROUP BY c_custkey)
        |SELECT c_count, count(*) AS custdist
        |FROM c
        |GROUP BY c_count
        |ORDER BY custdist DESC, c_count DESC""".stripMargin,
    "tpch_q15" ->
      s"""WITH rev AS (
        |  SELECT l_suppkey,
        |    ${QueryModule.duckRevenueDec("l_extendedprice")} AS total_rev
        |  FROM lineitem
        |  WHERE year(l_shipdate) = 1997
        |  GROUP BY l_suppkey)
        |SELECT s_suppkey, s_name, CAST(total_rev AS DOUBLE) AS total_revenue
        |FROM supplier JOIN rev ON s_suppkey = l_suppkey
        |WHERE total_rev = (SELECT max(total_rev) FROM rev)
        |ORDER BY s_suppkey""".stripMargin,
    "tpch_q16" ->
      """SELECT p_brand, p_type, p_size, count(DISTINCT l_suppkey) AS supplier_cnt
        |FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem) ps
        |JOIN part ON p_partkey = l_partkey
        |WHERE p_brand <> 'Brand#1' AND p_type <> 'PROMO'
        |  AND p_size IN (1, 5, 9, 14, 19, 23, 36, 45)
        |  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
        |GROUP BY p_brand, p_type, p_size
        |ORDER BY supplier_cnt DESC, p_brand, p_type, p_size""".stripMargin,
    "tpch_q17" ->
      """WITH pk AS (SELECT p_partkey FROM part WHERE p_brand = 'Brand#3' AND p_size < 10),
        |li AS (SELECT l.* FROM lineitem l JOIN pk ON l_partkey = p_partkey),
        |st AS (SELECT l_partkey AS spk,
        |         CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qsum,
        |         count(*) AS qcnt
        |       FROM li GROUP BY l_partkey),
        |r AS (SELECT CAST(round(sum(CAST(l_extendedprice AS DECIMAL(12,2))), 2) AS DECIMAL(18,2)) AS rev
        |      FROM li JOIN st ON l_partkey = spk
        |      WHERE CAST(l_quantity AS BIGINT) * 5 * qcnt < qsum)
        |SELECT CAST(rev AS DOUBLE) AS total_revenue,
        |  CAST(CAST(rev * 100 AS BIGINT) // 7 AS BIGINT) AS avg_yearly_cents
        |FROM r""".stripMargin,
    "tpch_q19" ->
      s"""SELECT $duckRevenue AS revenue
         |FROM lineitem JOIN part ON l_partkey = p_partkey
         |WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 5 AND l_quantity BETWEEN 1 AND 11)
         |   OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 10 AND l_quantity BETWEEN 10 AND 20)
         |   OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 20 AND 30)""".stripMargin,
    "tpch_q20" ->
      """SELECT s_name, n_name, s_acctbal
        |FROM supplier JOIN nation ON s_nationkey = n_nationkey
        |WHERE s_suppkey IN (
        |  SELECT l_suppkey FROM lineitem JOIN part ON l_partkey = p_partkey
        |  WHERE p_name LIKE '%bolt%' AND year(l_shipdate) = 1997
        |  GROUP BY l_suppkey, l_partkey
        |  HAVING sum(CAST(l_quantity AS BIGINT)) > 50)
        |ORDER BY s_name""".stripMargin,
    "tpch_q22" ->
      """WITH thr AS (
        |  SELECT sum(CAST(c_acctbal AS DECIMAL(12,2))) AS tot, count(*) AS cnt
        |  FROM customer WHERE c_acctbal > 0),
        |sel AS (
        |  SELECT c_nationkey, c_acctbal
        |  FROM customer, thr
        |  WHERE CAST(c_acctbal AS DECIMAL(12,2)) * cnt > tot
        |    AND NOT EXISTS (SELECT 1 FROM orders
        |                    WHERE o_custkey = c_custkey
        |                      AND o_orderdate >= TIMESTAMP '1999-01-01'))
        |SELECT n_name, count(*) AS numcust,
        |  CAST(CAST(round(sum(CAST(c_acctbal AS DECIMAL(12,2))), 2) AS DECIMAL(18,2)) AS DOUBLE) AS totacctbal
        |FROM sel JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY n_name
        |ORDER BY n_name""".stripMargin
  )
}
