package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Relational query surface (SURVEY.md §7.3): the reference exercises no
  * joins/set-ops (§2.6), but the engine's query layer supports the standard
  * relational algebra via Spark built-ins. Each query here has a DuckDB
  * oracle twin in [[graft.SparkEntry.oracleSql]].
  *
  * Scale notes (100 TB design intent, tested at sf≤0.1):
  *   - dimension tables (region/nation/customer/supplier/part) are broadcast
  *     explicitly — at 1000 executors a shuffle join on lineitem×nation would
  *     be pure waste;
  *   - aggregations are partial-agg friendly (sum/count over cents), so
  *     map-side combine cuts the shuffle to |groups|×partitions;
  *   - top-N uses Spark's TakeOrderedAndProject (orderBy+limit), which ships
  *     only N rows per partition to the driver-side merge.
  */
object Relational {
  import Tables._

  /** TPC-H Q1-style pricing summary: the canonical partial-agg shape. */
  def pricingSummary(s: SparkSession, d: String): DataFrame = {
    lineitem(s, d)
      .filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        sum(col("l_quantity").cast("long")).as("sum_qty"),
        sum(cents(col("l_extendedprice"))).as("sum_base_cents"),
        sum(cents(col("l_extendedprice") * (lit(1) - col("l_discount"))))
          .as("sum_disc_cents"),
        count(lit(1)).as("count_order")
      )
      .orderBy("l_returnflag", "l_linestatus")
  }

  /** TPC-H Q4-style EXISTS aggregation: orders in a date window that have
    * at least one returned line item, counted by priority. The EXISTS is a
    * left-semi join against the FILTERED lineitem side — at scale the
    * filter runs in lineitem's scan stage, and the semi join ships only
    * order keys (no payload duplication, no row explosion from multi-line
    * matches). */
  def orderPriority(s: SparkSession, d: String): DataFrame = {
    val o = orders(s, d)
      .filter(col("o_orderdate") >= lit("1995-01-01").cast("timestamp") &&
        col("o_orderdate") < lit("1997-01-01").cast("timestamp"))
    val returned = lineitem(s, d)
      .filter(col("l_returnflag") === "R")
      .select(col("l_orderkey"))
    o.join(returned, o("o_orderkey") === returned("l_orderkey"), "left_semi")
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("order_count"))
      .orderBy("o_orderpriority")
  }

  /** TPC-H Q5-style revenue rollup across the full dimension chain.
    * Dimensions broadcast; only lineitem⋈orders shuffles (both huge at
    * scale — that join co-partitions on the order key). */
  def revenueByNation(s: SparkSession, d: String): DataFrame = {
    val li = lineitem(s, d)
    val o = orders(s, d)
    val c = customer(s, d)
    val n = nation(s, d)
    val r = region(s, d)
    li.join(o, li("l_orderkey") === o("o_orderkey"))
      .join(broadcast(c), o("o_custkey") === c("c_custkey"))
      .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
      .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
      .groupBy("r_name", "n_name")
      .agg(
        sum(cents(col("l_extendedprice") * (lit(1) - col("l_discount"))))
          .as("revenue_cents"),
        count(lit(1)).as("n_items")
      )
      .orderBy("r_name", "n_name")
  }

  /** Left-semi join: customers that have at least one order. */
  def customersWithOrders(s: SparkSession, d: String): DataFrame = {
    val c = customer(s, d)
    val o = orders(s, d).select("o_custkey")
    c.join(o, c("c_custkey") === o("o_custkey"), "left_semi")
      .select("c_custkey", "c_name")
      .orderBy("c_custkey")
  }

  /** Left-anti join: customers with no orders (NOT EXISTS). */
  def customersWithoutOrders(s: SparkSession, d: String): DataFrame = {
    val c = customer(s, d)
    val o = orders(s, d).select("o_custkey")
    c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
      .select("c_custkey", "c_name")
      .orderBy("c_custkey")
  }

  /** Top-100 orders by total price — TakeOrderedAndProject shape. */
  def topOrders(s: SparkSession, d: String): DataFrame =
    orders(s, d)
      .select("o_orderkey", "o_custkey", "o_totalprice")
      .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
      .limit(100)

  /** Per-nation top-3 suppliers by account balance (window rank). */
  def topSuppliersPerNation(s: SparkSession, d: String): DataFrame = {
    val w = Window
      .partitionBy("s_nationkey")
      .orderBy(col("s_acctbal").desc, col("s_suppkey").asc)
    supplier(s, d)
      // row_number is IntegerType in Spark but BIGINT in DuckDB — cast for
      // schema parity with the oracle.
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= 3)
      .select("s_nationkey", "rnk", "s_suppkey", "s_name")
      .orderBy("s_nationkey", "rnk")
  }

  /** Set op: custkeys that both placed an order and hold positive balance. */
  def activeCustkeys(s: SparkSession, d: String): DataFrame = {
    val withOrders = orders(s, d).select(col("o_custkey").as("custkey"))
    val positive = customer(s, d)
      .filter(col("c_acctbal") > 0)
      .select(col("c_custkey").as("custkey"))
    withOrders.intersect(positive).orderBy("custkey")
  }

  /** TPC-H Q3 shape: revenue per order within one market segment, top-10.
    * Dimension filter pushes into the broadcast side; the big-side join
    * co-partitions on the order key; top-N is TakeOrderedAndProject. */
  def shippingPriority(s: SparkSession, d: String): DataFrame = {
    val c = customer(s, d).filter(col("c_mktsegment") === "BUILDING")
    val o = orders(s, d)
    val li = lineitem(s, d)
    li.join(o, li("l_orderkey") === o("o_orderkey"))
      .join(broadcast(c), o("o_custkey") === c("c_custkey"))
      .groupBy("l_orderkey")
      .agg(
        sum(cents(col("l_extendedprice") * (lit(1) - col("l_discount"))))
          .as("revenue_cents"))
      .orderBy(col("revenue_cents").desc, col("l_orderkey").asc)
      .limit(10)
  }

  /** GROUP BY + HAVING: customers with many orders. */
  def bigCustomers(s: SparkSession, d: String): DataFrame =
    orders(s, d)
      .groupBy("o_custkey")
      .agg(
        count(lit(1)).as("n_orders"),
        sum(cents(col("o_totalprice"))).as("total_cents"))
      .filter(col("n_orders") >= 15)
      .orderBy("o_custkey")

  /** Exact interpolated percentiles per event type (statistical aggregate
    * family; order-insensitive so hash-safe after rounding). */
  def valuePercentiles(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .groupBy("event_type")
      .agg(
        count(lit(1)).as("n_events"),
        round(expr("percentile(value, 0.5)"), 4).as("median_value"),
        round(expr("percentile(value, 0.9)"), 4).as("p90_value"))
      .orderBy("event_type")

  /** Fixed-width value histogram — the bucketed-distribution shape. */
  def valueHistogram(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .groupBy(floor(col("value") / 5).cast("long").as("bucket"))
      .agg(count(lit(1)).as("n_events"))
      .orderBy("bucket")

  /** Full CUBE over (status, priority): all four grouping sets, the
    * generalization of [[ordersRollup]]. Spark expands the cube into
    * grouping sets before the aggregate — still one shuffle, with
    * partial aggs per set. */
  def ordersCube(s: SparkSession, d: String): DataFrame =
    orders(s, d)
      .cube("o_orderstatus", "o_orderpriority")
      .agg(
        count(lit(1)).as("n_orders"),
        sum(cents(col("o_totalprice"))).as("total_cents")
      )
      .select(
        coalesce(col("o_orderstatus"), lit("ALL")).as("status"),
        coalesce(col("o_orderpriority"), lit("ALL")).as("priority"),
        col("n_orders"),
        col("total_cents")
      )
      .orderBy("status", "priority")

  /** Explicit GROUPING SETS ((status), (priority)) — two independent
    * one-dimension aggregates in one pass over the data (the third member
    * of the rollup/cube family, via Spark 4's groupingSets API). */
  def ordersGroupingSets(s: SparkSession, d: String): DataFrame =
    orders(s, d)
      .groupingSets(
        Seq(Seq(col("o_orderstatus")), Seq(col("o_orderpriority"))),
        col("o_orderstatus"),
        col("o_orderpriority"))
      .agg(
        count(lit(1)).as("n_orders"),
        sum(cents(col("o_totalprice"))).as("total_cents"))
      .select(
        coalesce(col("o_orderstatus"), lit("ALL")).as("status"),
        coalesce(col("o_orderpriority"), lit("ALL")).as("priority"),
        col("n_orders"),
        col("total_cents"))
      .orderBy("status", "priority")

  /** Bloom-pruned semi-join aggregate: revenue from line items supplied by
    * EUROPE suppliers. The supplier key set is folded into a Bloom filter
    * by a DISTRIBUTED aggregation ([[graft.functions.BloomBuildAgg]] —
    * fixed 128 KiB merged on the driver, never the keys themselves), and
    * the probe ([[graft.functions.BloomMightContain]], codegen'd) runs in
    * lineitem's SCAN stage, so at 100 TB the shuffle toward the exactness
    * semi-join carries only the ~matching fraction of the fact table. The
    * semi-join then removes Bloom false positives — results are exact, the
    * filter is pure pruning (same contract as Spark's own
    * InjectRuntimeFilter, surfaced as an explicit operator). */
  def bloomPrune(s: SparkSession, d: String): DataFrame = {
    val dim = supplier(s, d)
      .join(broadcast(nation(s, d)), col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(region(s, d)), col("n_regionkey") === col("r_regionkey"))
      .filter(col("r_name") === "EUROPE")
      .select(col("s_suppkey"))
    val filterBytes = dim
      .agg(call_function("bloom_agg", col("s_suppkey")))
      .head().getAs[Array[Byte]](0)
    val li = lineitem(s, d)
      .filter(call_function("bloom_might_contain", col("l_suppkey"), lit(filterBytes)))
    li.join(broadcast(dim), li("l_suppkey") === dim("s_suppkey"), "left_semi")
      .groupBy("l_returnflag")
      .agg(
        sum(cents(col("l_extendedprice"))).as("revenue_cents"),
        count(lit(1)).as("n_items"))
      .orderBy("l_returnflag")
  }

  /** The window-rank-filter idiom (top-3 orders per priority) routed
    * through [[graft.plans.TopKRewrite]]: the query is WRITTEN as
    * `row_number().over(...)` + `filter(rn <= 3)` and the optimizer rule
    * replaces the Window with the bounded-heap TopKPerKey operator —
    * users keep the SQL idiom, the engine swaps the physical shape
    * (O(n log k) heaps, k·keys·parts shuffle rows instead of all rows).
    * Output-identical by construction; the oracle is the window SQL. */
  def topkRewrite(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy("o_orderpriority")
      .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
    val idiom = orders(s, d)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 3)
      .select(col("o_orderpriority"), col("rn").cast("long").as("rnk"),
        col("o_orderkey"), cents(col("o_totalprice")).as("price_cents"))
      .orderBy("o_orderpriority", "rnk")
    graft.plans.TopKPerKey.viaRewrite(idiom)
  }

  /** Full outer join with nulls possible on BOTH sides: high-balance
    * customers vs 1995 order activity per customer. Customers above the
    * balance cut with no 1995 orders surface as order-null rows; custkeys
    * with 1995 orders at or below the cut surface as customer-null rows.
    * Scale: the orders side pre-aggregates to one row per custkey before
    * the join (partial agg), so the full-outer shuffles |custkeys| rows,
    * not |orders|. */
  def fullOuterBalance(s: SparkSession, d: String): DataFrame = {
    val act = orders(s, d)
      .filter(year(col("o_orderdate")) === 1995)
      .groupBy("o_custkey")
      .agg(count(lit(1)).as("n_orders"),
        sum(cents(col("o_totalprice"))).as("spend_cents"))
    val cust = customer(s, d)
      .filter(col("c_acctbal") > 5000)
      .select(col("c_custkey"), col("c_name"))
    cust
      .join(act, cust("c_custkey") === act("o_custkey"), "full_outer")
      .select(
        coalesce(col("c_custkey"), col("o_custkey")).as("custkey"),
        col("c_name"),
        coalesce(col("n_orders"), lit(0L)).as("n_orders"),
        coalesce(col("spend_cents"), lit(0L)).as("spend_cents"))
      .orderBy("custkey")
  }

  /** Unpivot (melt) of the lineitem measures into (measure, value) rows —
    * the `Dataset.unpivot` API face. Values go through exact cents so the
    * long format is engine-portable. Scale: unpivot is a per-row flatMap
    * (no shuffle); the expansion factor equals the measure count. */
  def unpivotMeasures(s: SparkSession, d: String): DataFrame =
    lineitem(s, d)
      .filter(col("l_orderkey") % 500 === 0)
      .select(
        col("l_orderkey"), col("l_linenumber"),
        cents(col("l_quantity")).as("quantity"),
        cents(col("l_extendedprice")).as("extendedprice"),
        cents(col("l_discount")).as("discount"),
        cents(col("l_tax")).as("tax"))
      .unpivot(
        Array(col("l_orderkey"), col("l_linenumber")),
        Array(col("quantity"), col("extendedprice"), col("discount"), col("tax")),
        "measure", "value_cents")
      .orderBy("l_orderkey", "l_linenumber", "measure")

  /** LATERAL correlated subquery (Spark 4.x `FROM t, LATERAL (...)`):
    * per-nation top-2 suppliers by balance, as the correlated-limit
    * formulation — the third face of per-key top-k next to the
    * row_number window and the TopKPerKey heap operator. Catalyst plans
    * the decorrelation; the oracle runs the identical SQL. */
  def lateralTopSuppliers(s: SparkSession, d: String): DataFrame = {
    nation(s, d).createOrReplaceTempView("graft_nation_lat")
    supplier(s, d).createOrReplaceTempView("graft_supplier_lat")
    s.sql(
      """SELECT n.n_name AS nation, l.s_name AS supplier, l.bal_cents
        |FROM graft_nation_lat n,
        |LATERAL (
        |  SELECT s_name, CAST(round(s_acctbal * 100, 0) AS BIGINT) AS bal_cents
        |  FROM graft_supplier_lat s
        |  WHERE s.s_nationkey = n.n_nationkey
        |  ORDER BY bal_cents DESC, s_name ASC LIMIT 2
        |) l
        |ORDER BY nation, l.bal_cents DESC, supplier""".stripMargin)
  }

  def lateralTopSuppliersOracle: String =
    """SELECT n.n_name AS nation, l.s_name AS supplier, l.bal_cents
      |FROM nation n,
      |LATERAL (
      |  SELECT s_name, CAST(round(s_acctbal * 100, 0) AS BIGINT) AS bal_cents
      |  FROM supplier s
      |  WHERE s.s_nationkey = n.n_nationkey
      |  ORDER BY bal_cents DESC, s_name ASC LIMIT 2
      |) l
      |ORDER BY nation, l.bal_cents DESC, supplier""".stripMargin

  /** Recursive CTE (`WITH RECURSIVE`, Spark 4.x): walk each document's
    * ancestor chain in the implicit binary tree (parent of i = i div 2)
    * and aggregate the chain — the iterative-query surface a batch
    * engine needs for hierarchies (org charts, BOM rollups, path walks)
    * without driver-side loops. Depth is logarithmic in the id space, so
    * the recursion runs ~log₂(N) UNION ALL rounds — each a keyed,
    * partition-parallel step.
    *
    * The graph-scale caveat (documented, not hidden): recursive CTEs
    * re-shuffle the frontier each round, so corpus-scale TRANSITIVE
    * CLOSURE belongs to the dedicated label-prop / large-star CC
    * operators ([[graft.dedup.Dedup.connectedComponents]]); this surface
    * is for bounded-depth hierarchy walks. */
  def recursiveAncestors(s: SparkSession, d: String): DataFrame = {
    documents(s, d).createOrReplaceTempView("graft_docs_rec")
    s.sql(
      """WITH RECURSIVE anc(doc_id, anc_id, depth) AS (
        |  SELECT doc_id, doc_id, CAST(0 AS BIGINT) FROM graft_docs_rec
        |  UNION ALL
        |  SELECT doc_id, anc_id div 2, depth + 1 FROM anc WHERE anc_id > 0
        |)
        |SELECT doc_id,
        |  CAST(count(*) AS BIGINT) AS n_ancestors,
        |  max(depth) AS depth,
        |  CAST(sum(anc_id) AS BIGINT) AS anc_sum
        |FROM anc GROUP BY doc_id ORDER BY doc_id""".stripMargin)
  }

  def recursiveAncestorsOracle: String =
    """WITH RECURSIVE anc(doc_id, anc_id, depth) AS (
      |  SELECT doc_id, doc_id, CAST(0 AS BIGINT) FROM documents
      |  UNION ALL
      |  SELECT doc_id, anc_id // 2, depth + 1 FROM anc WHERE anc_id > 0
      |)
      |SELECT doc_id,
      |  CAST(count(*) AS BIGINT) AS n_ancestors,
      |  max(depth) AS depth,
      |  CAST(sum(anc_id) AS BIGINT) AS anc_sum
      |FROM anc GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** Grouping-sets rollup: order counts by (status, priority) hierarchy.
    * Null grouping keys from ROLLUP are made deterministic via coalesce. */
  def ordersRollup(s: SparkSession, d: String): DataFrame =
    orders(s, d)
      .rollup("o_orderstatus", "o_orderpriority")
      .agg(
        count(lit(1)).as("n_orders"),
        sum(cents(col("o_totalprice"))).as("total_cents")
      )
      .select(
        coalesce(col("o_orderstatus"), lit("ALL")).as("status"),
        coalesce(col("o_orderpriority"), lit("ALL")).as("priority"),
        col("n_orders"),
        col("total_cents")
      )
      .orderBy("status", "priority")
}
