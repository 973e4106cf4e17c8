package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Classic relational OLAP over the star-schema fact tables — the
  * scan/join/aggregate bread-and-butter every warehouse engine is judged
  * on, exercised here at the corpus's LARGEST tables (lineitem/orders).
  * The catalog reference never runs these (its engine is a search index),
  * but an analytics engine claiming its workloads plus 100 TB scale must
  * prove the basics: pushed scan predicates, map-side partial aggregation,
  * broadcast dimension joins, co-keyed fact-fact shuffles, TakeOrdered
  * top-k — all Catalyst-planned from plain DataFrame declarations, no
  * hand-scheduling (plan-pinned in PlanAuditSpec).
  *
  * Cross-engine determinism rule (the e1 discipline): every money sum
  * accumulates in DECIMAL — exact, order-independent, so any partitioning
  * and any engine agree bit-for-bit — while per-row products stay in
  * IEEE double (deterministic given identical inputs, and the SAME
  * left-to-right expression is mirrored in each oracle). Money REPORTS
  * round the exact sum to cents BEFORE the double cast: round(dec, 2) is
  * half-away-from-zero on both engines and a 2-dp decimal's unscaled
  * value fits in 2^53, so the double conversion is exact on both — while
  * a scale-10 decimal's int128/10^10 conversion is NOT correctly rounded
  * in every engine (observed: 1-ulp drift at sf0.1 magnitudes; DuckDB
  * decimal→decimal CASTS truncate, so the rounding must be round()).
  */
object Relational {

  private def money(c: org.apache.spark.sql.Column) = c.cast("decimal(28,10)")

  /** TPC-H Q1-shape pricing summary: one filtered scan of the largest
    * fact table into a handful of groups. The plan is the canonical
    * scan-heavy aggregate — shipdate predicate pushed to parquet footers,
    * partial (map-side) aggregation before the 4-group exchange; at
    * 100 TB the shuffle carries partitions × groups rows, nothing else.
    */
  def pricingSummary(lineitem: DataFrame, cutoff: String = "2001-09-01"): DataFrame = {
    val discPrice = col("l_extendedprice") * (lit(1.0) - col("l_discount"))
    val charge = discPrice * (lit(1.0) + col("l_tax"))
    lineitem.where(col("l_shipdate") <= lit(cutoff))
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        round(sum(money(col("l_quantity"))), 2).cast("double").as("sum_qty"),
        round(sum(money(col("l_extendedprice"))), 2).cast("double").as("sum_base_price"),
        round(sum(money(discPrice)), 2).cast("double").as("sum_disc_price"),
        round(sum(money(charge)), 2).cast("double").as("sum_charge"),
        // averages divide as DOUBLE: a decimal quotient's scale/rounding is
        // an engine-specific rule, but double ÷ long of identical inputs is
        // IEEE-identical everywhere
        (sum(money(col("l_quantity"))).cast("double") / count(lit(1))).as("avg_qty"),
        (sum(money(col("l_discount"))).cast("double") / count(lit(1))).as("avg_disc"),
        count(lit(1)).as("count_order"))
      .orderBy("l_returnflag", "l_linestatus")
  }

  /** TPC-H Q3-shape: top-k revenue among a market segment's open orders.
    * The selective customer dimension BROADCASTS (plan-pinned) — the fact
    * side never shuffles for it; revenue ranks on the EXACT decimal sum
    * (ties broken by orderkey) so the top-k boundary is deterministic on
    * any engine, and the k-row result is a TakeOrdered merge.
    */
  def topOrderRevenue(customer: DataFrame, orders: DataFrame, lineitem: DataFrame,
                      segment: String = "BUILDING", cutoff: String = "1998-06-01",
                      k: Int = 10): DataFrame = {
    val c = customer.where(col("c_mktsegment") === segment).select("c_custkey")
    val o = orders.where(col("o_orderdate") < lit(cutoff))
      .select("o_orderkey", "o_custkey", "o_orderdate", "o_orderpriority")
    val l = lineitem.where(col("l_shipdate") > lit(cutoff))
      .select(col("l_orderkey"),
        (col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("disc_price"))
    l.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(c), col("o_custkey") === col("c_custkey"))
      .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
      .agg(sum(money(col("disc_price"))).as("rev"))
      .orderBy(col("rev").desc, col("l_orderkey")).limit(k)
      .select(col("l_orderkey"), round(col("rev"), 2).cast("double").as("revenue"),
        col("o_orderdate"), col("o_orderpriority"))
  }

  /** TPC-H Q17-shape: revenue of small-quantity line items — rows whose
    * quantity is below a fraction of THEIR part's average quantity. The
    * correlated-aggregate shape: declared as a plain per-part aggregate
    * joined back to the fact (exactly what Catalyst's subquery
    * decorrelation rewrites the SQL form into); the per-part averages are
    * a map-side-combining aggregate over the same scan, the join is a
    * part-keyed equi-join, and the result is one global decimal sum. The
    * average compares as DOUBLE (exact decimal sum ÷ long — the [pricing
    * summary] rule), so the below-threshold predicate is engine-identical.
    */
  def smallQuantityRevenue(lineitem: DataFrame, frac: Double = 0.5): DataFrame = {
    val perPart = lineitem.groupBy("l_partkey")
      .agg((sum(money(col("l_quantity"))).cast("double") / count(lit(1))).as("avg_qty"))
    lineitem.join(perPart, "l_partkey")
      .where(col("l_quantity") < lit(frac) * col("avg_qty"))
      .agg(round(sum(money(col("l_extendedprice"))), 2).cast("double").as("small_qty_revenue"),
        count(lit(1)).as("n_items"))
  }

  /** Per-customer top-k orders by total price — the ranked-window
    * analytics shape. Declared as a rank-filtered window; Spark plans the
    * rank ≤ k predicate as a WindowGroupLimit (partial per-partition top-k
    * BEFORE the shuffle — plan-pinned), so the exchange carries at most
    * k rows per customer per input partition, never the full order
    * history. Ties break by orderkey for engine-identical selection.
    */
  def topOrdersPerCustomer(orders: DataFrame, k: Int = 2): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("o_custkey").orderBy(col("o_totalprice").desc, col("o_orderkey"))
    orders.select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"))
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("o_custkey"), col("rank").cast("long").as("rank"),
        col("o_orderkey"), col("o_totalprice"))
  }

  /** TPC-H Q4-shape EXISTS / NOT-EXISTS breakdown: orders in a date range
    * bucketed by whether ANY of their line items was returned — the
    * semi/anti-join pair every decision-support engine must plan without
    * materializing the subquery. Declared as `left_semi` / `left_anti`
    * joins (exactly what Catalyst's subquery decorrelation rewrites
    * EXISTS / NOT EXISTS into): the probe side ships only the orderkey
    * column of returned line items — ids, never payloads — and the join
    * emits each order AT MOST once with no post-join dedup, which is the
    * whole point of semi-join semantics (an inner join + distinct would
    * re-shuffle the full match multiplicity first). Both buckets share
    * the same pushed-down orders date predicate; at 100 TB the plan is
    * two shuffled hash semi-joins co-keyed on orderkey (AQE may elect a
    * broadcast when the returned-keys side is small enough — either shape
    * is correct; neither is a cartesian), each followed by a
    * map-side-combining per-priority count.
    */
  def returnedOrderBreakdown(orders: DataFrame, lineitem: DataFrame,
                             from: String = "1996-01-01",
                             to: String = "1997-01-01"): DataFrame = {
    val ret = lineitem.where(col("l_returnflag") === "R").select("l_orderkey")
    val o = orders.where(col("o_orderdate") >= lit(from) && col("o_orderdate") < lit(to))
      .select("o_orderkey", "o_orderpriority")
    def bucket(name: String, joinType: String) =
      o.join(ret, col("o_orderkey") === col("l_orderkey"), joinType)
        .groupBy("o_orderpriority").agg(count(lit(1)).as("n_orders"))
        .select(lit(name).as("bucket"), col("o_orderpriority"), col("n_orders"))
    bucket("returned", "left_semi").unionByName(bucket("clean", "left_anti"))
      .orderBy("bucket", "o_orderpriority")
  }

  /** Running-frame analytics — each customer's order history with a
    * cumulative revenue total and a 3-order moving average, the
    * frame-aggregate window class ([[topOrdersPerCustomer]] covers the
    * RANKING class; frames are the other half of window analytics).
    * Frame choice is a complexity decision, not just semantics: a growing
    * frame (unboundedPreceding → currentRow) and a bounded sliding frame
    * both evaluate incrementally in Spark — O(n) per key partition,
    * one add (and one evict) per row — where an unboundedFollowing
    * `first()` frame re-aggregates per row (the O(n²) trap documented on
    * Joins.nearestAsOf). One shuffle on the customer key, one
    * in-partition sort serves both frames.
    *
    * Both frame sums accumulate in DECIMAL (the e1 rule): a running
    * double sum is evaluation-ORDER-dependent, and engines differ in how
    * they fold frames (incremental add vs segment tree) — exact decimal
    * makes every fold order agree; the moving average divides the exact
    * sum by the frame count as DOUBLE.
    */
  def customerRunningRevenue(orders: DataFrame): DataFrame = {
    val w = Window.partitionBy("o_custkey")
      .orderBy(col("o_orderdate"), col("o_orderkey"))
    val wRun = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wMov = w.rowsBetween(-2, Window.currentRow)
    val price = col("o_totalprice").cast("decimal(18,6)")
    orders.select(col("o_custkey"), col("o_orderkey"), col("o_orderdate"),
        col("o_totalprice"))
      .withColumn("run_total", sum(price).over(wRun).cast("double"))
      .withColumn("mov_avg3",
        sum(price).over(wMov).cast("double") / count(lit(1)).over(wMov))
      .orderBy("o_custkey", "o_orderdate", "o_orderkey")
  }

  /** TPC-H Q13-shape order-count distribution: the join-FAN-OUT histogram
    * — how many customers placed 0, 1, 2, … qualifying orders. The shape
    * no inner join can produce: zero-order customers only exist through
    * the OUTER join, and the answer is an aggregate OF an aggregate
    * (per-customer counts, then a distribution over them).
    *
    * Declared pre-aggregated (the decorrelated Q13 form): the fact side
    * collapses to one (custkey, count) row per buyer BEFORE the outer
    * join — map-side partials on the orders scan, so the join's right
    * side is |buyers| rows, never |orders| — then customer LEFT-joins it
    * on the shared custkey and the zero bucket falls out of the null
    * side. At 100 TB both sides of the join are custkey-keyed (one
    * co-partitioned shuffle each; no broadcast needed, no skew — custkey
    * fan-out is already collapsed); the final distribution aggregate runs
    * over one row per customer. Ordering is Q13's (custdist desc,
    * c_count desc) — count ties are real, so both keys are required for
    * determinism.
    */
  def orderCountDistribution(customer: DataFrame, orders: DataFrame,
                             excludePriority: String = "1-URGENT",
                             yearFilter: Int = 1995): DataFrame = {
    val qualifying = orders
      .where(col("o_orderpriority") =!= excludePriority &&
        year(col("o_orderdate")) === yearFilter)
      .groupBy(col("o_custkey")).agg(count(lit(1)).as("c_count"))
    customer.select(col("c_custkey"))
      .join(qualifying, col("c_custkey") === col("o_custkey"), "left_outer")
      .select(coalesce(col("c_count"), lit(0L)).as("c_count"))
      .groupBy("c_count").agg(count(lit(1)).as("custdist"))
      .orderBy(col("custdist").desc, col("c_count").desc)
  }

  /** TPC-H Q22-shape "rich inactive customers": customers whose balance
    * exceeds the positive-balance average AND who placed no orders since
    * `sinceDate`, reported per nation. Two classic sub-shapes compose:
    * a SCALAR subquery (the global average) and NOT EXISTS (the anti
    * join). The average gate is evaluated EXACTLY: instead of comparing
    * against a divided average — decimal quotient scale/rounding is an
    * engine-specific rule, and a double average is accumulation-order-
    * dependent — the predicate is rearranged to
    * `balance × n > Σ balances` in DECIMAL, which every engine computes
    * bit-identically under any row order.
    *
    * At 100 TB: the scalar aggregate is a one-row broadcast (the
    * broadcast-stats pattern); the activity probe projects o_custkey ONLY
    * with the date predicate pushed to its scan, anti-joining custkey-
    * keyed; the report aggregate runs on the filtered dim.
    */
  def inactiveRichCustomers(customer: DataFrame, orders: DataFrame,
                            sinceDate: String = "2000-01-01"): DataFrame = {
    val bal = money(col("c_acctbal"))
    val stats = customer.where(col("c_acctbal") > 0)
      .agg(sum(bal).as("sum_bal"), count(lit(1)).as("n_bal"))
    val active = orders.where(col("o_orderdate") >= lit(sinceDate))
      .select("o_custkey")
    customer.join(broadcast(stats))
      .where(bal * col("n_bal") > col("sum_bal"))
      .join(active, col("c_custkey") === col("o_custkey"), "left_anti")
      .groupBy("c_nationkey")
      .agg(count(lit(1)).as("numcust"),
        round(sum(bal), 2).cast("double").as("totacctbal"))
      .orderBy("c_nationkey")
  }

  /** TPC-H Q7-shape TRADE FLOWS: cross-border revenue by (supplier
    * region, supplier nation, customer nation) over a shipdate window —
    * the snowflake shape where one dimension (nation) joins the fact
    * TWICE under different roles (via supplier and via customer), plus a
    * second hop to region. Only cross-border flows report (supplier
    * nation ≠ customer nation, the Q7 semantic).
    *
    * At 100 TB: the ONLY shuffle is the fact-fact join on orderkey (the
    * shipdate window pushed to the lineitem scan first); supplier,
    * customer, and both nation/region roles broadcast — a dimension
    * playing two roles is two broadcasts of a projected id→name map, not
    * two shuffles. Money sums in exact DECIMAL (the e1 rule), report
    * rounded to cents before the double cast.
    */
  def tradeFlows(supplier: DataFrame, customer: DataFrame, orders: DataFrame,
                 lineitem: DataFrame, nation: DataFrame, region: DataFrame,
                 from: String = "1996-01-01", until: String = "1998-01-01"): DataFrame = {
    val li = lineitem
      .where(col("l_shipdate") >= lit(from) && col("l_shipdate") < lit(until))
      .select(col("l_orderkey"), col("l_suppkey"),
        (col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("dp"))
    val suppNation = supplier.select(col("s_suppkey"), col("s_nationkey"))
      .join(nation.select(col("n_nationkey"), col("n_name"), col("n_regionkey")),
        col("s_nationkey") === col("n_nationkey"))
      .join(region.select(col("r_regionkey"), col("r_name")),
        col("n_regionkey") === col("r_regionkey"))
      .select(col("s_suppkey"), col("n_name").as("supp_nation"),
        col("r_name").as("supp_region"))
    val custNation = customer.select(col("c_custkey"), col("c_nationkey"))
      .join(nation.select(col("n_nationkey"), col("n_name")),
        col("c_nationkey") === col("n_nationkey"))
      .select(col("c_custkey"), col("n_name").as("cust_nation"))
    li.join(orders.select(col("o_orderkey"), col("o_custkey")),
        col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(suppNation), col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(custNation), col("o_custkey") === col("c_custkey"))
      .where(col("supp_nation") =!= col("cust_nation"))
      .groupBy("supp_region", "supp_nation", "cust_nation")
      .agg(round(sum(money(col("dp"))), 2).cast("double").as("revenue"),
        count(lit(1)).as("n_items"))
      .orderBy("supp_region", "supp_nation", "cust_nation")
  }

  /** Buyer-cohort SET OPERATIONS: customers who bought in BOTH of two
    * years (INTERSECT) and customers who bought in the first but not the
    * second (EXCEPT — the churn report). Declared as Spark's native
    * `intersect` / `except`, which plan as distinct-aggregates feeding a
    * semi/anti join — bag-to-set semantics the engine must supply
    * (DISTINCT before the join, so a customer with 40 orders in each year
    * appears once), unlike o7's EXISTS which preserves the probe side
    * as-is. At 100 TB both year slices are orderkey-free projections of
    * the same orders scan: two pushed date predicates, per-year distinct
    * partial-aggregates map-side, then one co-keyed custkey shuffle
    * serves both the semi and anti branches.
    */
  def buyerCohorts(orders: DataFrame, y1: Int = 1995, y2: Int = 1996): DataFrame = {
    def buyers(y: Int) = orders
      .where(year(col("o_orderdate")) === y).select("o_custkey")
    val both = buyers(y1).intersect(buyers(y2))
      .select(lit("both").as("cohort"), col("o_custkey"))
    val churned = buyers(y1).except(buyers(y2))
      .select(lit("churned").as("cohort"), col("o_custkey"))
    both.unionByName(churned).orderBy("cohort", "o_custkey")
  }

  /** The joined (n_name, order_year, disc_price) star base shared by the
    * nation-revenue report family: one co-keyed fact-fact shuffle join on
    * orderkey, two broadcast dimensions (customer projected to id+nation
    * so it broadcasts far beyond its full width).
    */
  private def nationRevenueBase(customer: DataFrame, orders: DataFrame,
                                lineitem: DataFrame, nation: DataFrame): DataFrame = {
    val l = lineitem.select(col("l_orderkey"),
      (col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("disc_price"))
    val o = orders.select(col("o_orderkey"), col("o_custkey"),
      year(col("o_orderdate")).cast("long").as("order_year"))
    val c = customer.select("c_custkey", "c_nationkey")
    l.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(c), col("o_custkey") === col("c_custkey"))
      .join(broadcast(nation.select("n_nationkey", "n_name")),
        col("c_nationkey") === col("n_nationkey"))
  }

  /** The [[nationRevenue]] report with CUBE totals — all FOUR grouping
    * sets (nation×year, per nation, per year, grand total) in ONE pass:
    * like [[nationRevenueRollup]]'s Expand but with the year-only
    * marginal, the cross-tab report shape. One Expand (4× replication)
    * feeding a single map-side-combining aggregate — one shuffle for the
    * whole cross-tab vs four jobs for four queries; nulls mark the
    * cubed-away levels and ordering is pinned NULLS FIRST on both
    * engines so marginal rows land deterministically.
    */
  def nationRevenueCube(customer: DataFrame, orders: DataFrame,
                        lineitem: DataFrame, nation: DataFrame): DataFrame =
    nationRevenueBase(customer, orders, lineitem, nation)
      // Column-typed cube keys, NOT names (the rollup lesson): the string
      // overload resolves through the dataset-id tracker and Expand's
      // re-created grouping attributes then trip the ambiguous-self-join
      // check downstream
      .cube(col("n_name"), col("order_year"))
      .agg(round(sum(money(col("disc_price"))), 2).cast("double").as("revenue"),
        count(lit(1)).as("n_items"))
      .sort(asc_nulls_first("n_name"), asc_nulls_first("order_year"))

  /** The [[nationRevenue]] report with ROLLUP subtotals — per nation-year,
    * per nation, and grand total in ONE pass: Spark plans the rollup as an
    * Expand (each row replicated once per grouping set, nulls marking the
    * rolled-up levels) feeding a single map-side-combining aggregate — one
    * shuffle for all three report levels, vs three jobs for three queries
    * (plan-pinned). Null ordering is made explicit (NULLS FIRST both
    * engines) so the subtotal rows land deterministically.
    */
  def nationRevenueRollup(customer: DataFrame, orders: DataFrame,
                          lineitem: DataFrame, nation: DataFrame): DataFrame =
    nationRevenueBase(customer, orders, lineitem, nation)
      // Column-typed rollup keys, NOT names: the string overload resolves
      // through the dataset-id tracker, and Expand's re-created grouping
      // attributes then trip the ambiguous-self-join check on any
      // downstream reference
      .rollup(col("n_name"), col("order_year"))
      .agg(round(sum(money(col("disc_price"))), 2).cast("double").as("revenue"),
        count(lit(1)).as("n_items"))
      .sort(asc_nulls_first("n_name"), asc_nulls_first("order_year"))

  /** The [[nationRevenue]] report over EXPLICIT GROUPING SETS — just the
    * two independent marginals ((nation), (year)), the report shape
    * NEITHER rollup nor cube can express alone (rollup's sets are
    * prefixes, cube's are all subsets; a dashboard wanting two summary
    * axes without the nation×year detail grid pays for rows it throws
    * away under either). Same single-Expand execution as o6/o7 — each
    * row replicated once per listed set into one map-side-combining
    * aggregate, one shuffle for both axes — but the Expand factor is
    * |sets| = 2, not rollup's 3 or cube's 4. Nulls mark the other axis;
    * NULLS FIRST ordering pinned on both engines.
    */
  def nationRevenueGroupingSets(customer: DataFrame, orders: DataFrame,
                                lineitem: DataFrame, nation: DataFrame): DataFrame =
    nationRevenueBase(customer, orders, lineitem, nation)
      // Column-typed keys, NOT names (the rollup/cube lesson)
      .groupingSets(
        Seq(Seq(col("n_name")), Seq(col("order_year"))),
        col("n_name"), col("order_year"))
      .agg(round(sum(money(col("disc_price"))), 2).cast("double").as("revenue"),
        count(lit(1)).as("n_items"))
      .sort(asc_nulls_first("n_name"), asc_nulls_first("order_year"))

  /** TOP-K + OTHER — the "top 5 brands and everything else" report
    * every dashboard draws: the k highest-revenue brands ranked, plus
    * ONE residual row so the shares visibly close to 100% (a bare top-k
    * silently drops the tail — the classic misleading-pie mistake).
    * Exact cents, shares in DECIMAL-widened floor-div micros.
    *
    * Plan: the fact collapses ONCE to the |brands|-row per-brand
    * aggregate (broadcast dim join, map-side combine), which is then
    * localCheckpoint'd because THREE readers need it (top-k, the grand
    * total, the residual) — without the cut, each branch would re-scan
    * the fact (Catalyst does not reuse the exchange across branches —
    * the c5 persist lesson). Everything after is ≤ k+1 rows. Output:
    * `(rank, brand, rev_cents, share_e6)` with Other at rank k+1.
    */
  def topBrandsWithOther(lineitem: DataFrame, part: DataFrame,
                         k: Int = 5): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val perBrand = lineitem
      .join(broadcast(part.select("p_partkey", "p_brand")),
        col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_brand").as("brand"))
      .agg(sum(expr("CAST(round(l_extendedprice * 100) AS BIGINT)")).as("rev"))
      .localCheckpoint(true)
    // Off the happy path (empty fact, or a join that matched nothing) the
    // residual arithmetic degrades to NULLs and diverges from the oracle's
    // hardcoded Other row — refuse cleanly instead (the g6 refusal rule).
    require(!perBrand.isEmpty,
      "topBrandsWithOther: no per-brand rows (empty lineitem or part join)")
    val top = perBrand.orderBy(col("rev").desc, col("brand")).limit(k)
      .withColumn("rank", row_number().over( // ≤ k rows — metadata window
        org.apache.spark.sql.expressions.Window
          .orderBy(col("rev").desc, col("brand"))).cast("long"))
    val tot = perBrand.agg(sum("rev").as("tot"))
    val other = tot.crossJoin(top.agg(sum("rev").as("ts"), count(lit(1)).as("n")))
      .select((col("n") + 1).as("rank"), lit("Other").as("brand"),
        (col("tot") - col("ts")).as("rev"))
    top.select("rank", "brand", "rev").unionByName(other)
      .crossJoin(broadcast(tot))
      .select(col("rank"), col("brand"), col("rev").as("rev_cents"),
        expr("CAST(CAST(rev AS DECIMAL(38,0)) * 1000000 DIV tot AS BIGINT)")
          .as("share_e6"))
      .orderBy("rank")
  }

  /** TPC-H Q5-shape: revenue by customer nation × order year. Two
    * broadcast dimensions (nation always; customer is id+nation — the
    * projection makes it broadcastable far beyond its full width) and ONE
    * co-keyed fact-fact shuffle join on the orderkey; the final aggregate
    * is nations × years rows.
    */
  def nationRevenue(customer: DataFrame, orders: DataFrame, lineitem: DataFrame,
                    nation: DataFrame): DataFrame =
    nationRevenueBase(customer, orders, lineitem, nation)
      .groupBy("n_name", "order_year")
      .agg(round(sum(money(col("disc_price"))), 2).cast("double").as("revenue"),
        count(lit(1)).as("n_items"))
      .orderBy("n_name", "order_year")

  /** PIVOT report: nation × year revenue as a WIDE table — one row per
    * nation, one revenue column per year, the report-delivery shape BI
    * consumers ask for (the long form is [[nationRevenue]]). EXPLICIT
    * pivot values: Spark's values-free `pivot` first runs a
    * collect-distinct job over the pivot column — a hidden corpus pass
    * and a driver-width risk at 100 TB — while naming the years keeps the
    * whole report ONE group-by pass with pivot-case aggregates (same
    * plan family as o6/o8's Expand, but width-wise). Money follows the
    * cents rule: exact DECIMAL sums, round 2, double; year–nation pairs
    * with no sales stay null (the wide form's honest hole, not a zero).
    */
  def nationYearPivot(customer: DataFrame, orders: DataFrame,
                      lineitem: DataFrame, nation: DataFrame,
                      years: Seq[Int] = 1995 to 2001): DataFrame =
    nationRevenueBase(customer, orders, lineitem, nation)
      .groupBy("n_name")
      .pivot("order_year", years)
      .agg(round(sum(money(col("disc_price"))), 2).cast("double"))
      .orderBy("n_name")

  /** UNPIVOT (melt) — the inverse reshape of [[nationYearPivot]]: the wide
    * report folds back to long `(n_name, order_year, revenue)` rows via
    * Spark's native `unpivot` (one narrow Expand-style projection, no
    * shuffle — each wide row emits |years| long rows in place). The wide
    * form's null holes (year–nation combos with no sales) are dropped, so
    * a pivot → melt roundtrip lands exactly on the long-form report —
    * the property the registered entry gates against an INDEPENDENT
    * long-form recompute, proving the two reshapes are true inverses.
    */
  def meltNationYearPivot(wide: DataFrame,
                          years: Seq[Int] = 1995 to 2001): DataFrame =
    wide.unpivot(Array(col("n_name")), years.map(y => col(s"`$y`")).toArray,
        "order_year", "revenue")
      .where(col("revenue").isNotNull)
      .select(col("n_name"), col("order_year").cast("long").as("order_year"),
        col("revenue"))
      .orderBy("n_name", "order_year")

  /** TPC-H Q21-shape "suppliers who kept others waiting" — the SELF-JOIN
    * decorrelation, the hardest member of the subquery family
    * ([[returnedOrderBreakdown]] covers single-fact EXISTS/NOT EXISTS,
    * [[inactiveRichCustomers]] scalar + NOT EXISTS): per supplier, count
    * the failed lineitems (`l_returnflag = 'R'`, standing in for Q21's
    * receipt-after-commit — this schema carries no receipt/commit dates)
    * in finalized (`o_orderstatus = 'F'`) multi-supplier orders where NO
    * OTHER supplier also failed — i.e. EXISTS and NOT EXISTS correlated
    * against the SAME fact table the candidate row comes from.
    *
    * Decorrelated to ONE aggregate instead of two correlated probes: per
    * order, `n_supp` = distinct suppliers and `n_fail` = distinct FAILED
    * suppliers, computed in a single pass over lineitem. For a failed
    * candidate row, "another supplier exists" ⟺ n_supp > 1 and "no other
    * supplier failed" ⟺ n_fail = 1 (the candidate itself is failed, so
    * the failed set is exactly its own supplier) — both EXISTS probes
    * collapse into one ids-only qualifying-order list. The fact table is
    * never row-level self-joined.
    *
    * At 100 TB: candidates, the qualifying probe, and the finalized-order
    * ids all key on orderkey — two semi joins on ONE co-partitioned key,
    * both ids-only on the build side, both BELOW the per-supplier count;
    * supplier is a broadcast dim; no distinct stage anywhere (semi-join
    * semantics emit each candidate at most once).
    */
  def waitingSuppliers(supplier: DataFrame, orders: DataFrame,
                       lineitem: DataFrame): DataFrame = {
    val fail = col("l_returnflag") === "R"
    val qualifying = lineitem
      .groupBy("l_orderkey")
      .agg(countDistinct(col("l_suppkey")).as("n_supp"),
        countDistinct(when(fail, col("l_suppkey"))).as("n_fail"))
      .where(col("n_supp") > 1 && col("n_fail") === 1)
      .select("l_orderkey")
    val finalized = orders.where(col("o_orderstatus") === "F")
      .select("o_orderkey")
    lineitem.where(fail).select("l_orderkey", "l_suppkey")
      .join(qualifying, Seq("l_orderkey"), "left_semi")
      .join(finalized, col("l_orderkey") === col("o_orderkey"), "left_semi")
      .join(broadcast(supplier.select("s_suppkey", "s_name")),
        col("l_suppkey") === col("s_suppkey"))
      .groupBy("s_name").agg(count(lit(1)).as("numwait"))
      .orderBy(col("numwait").desc, col("s_name"))
  }

  /** TPC-H Q18-shape "large-quantity orders" — the HAVING-aggregate
    * semi-join: orders whose total lineitem quantity exceeds `minQty`,
    * reported with buyer and order header. The subquery family's
    * remaining member: the probe is not a filter but an AGGREGATE with a
    * HAVING gate, and the outer query re-joins the gated totals back to
    * the dimensions.
    *
    * At 100 TB: the quantity totals collapse lineitem to one row per
    * order BELOW every join (map-side partials on the scan); the HAVING
    * gate then shrinks that to the handful of outlier orders, and the
    * gated (orderkey, sum) rows BROADCAST into orders, whose result —
    * now outlier-sized — broadcasts into customer. The fact table
    * shuffles once (the groupBy), the dimensions never shuffle at all.
    * Quantity sums in exact DECIMAL (the e1 rule) and report as double.
    */
  def largeQuantityOrders(customer: DataFrame, orders: DataFrame,
                          lineitem: DataFrame, minQty: Double = 250.0): DataFrame = {
    val big = lineitem.groupBy("l_orderkey")
      .agg(sum(col("l_quantity").cast("decimal(18,6)")).as("sum_qty_dec"))
      .where(col("sum_qty_dec") > minQty)
      .select(col("l_orderkey"), col("sum_qty_dec").cast("double").as("sum_qty"))
    val o = orders.join(broadcast(big), col("o_orderkey") === col("l_orderkey"))
      .select("o_orderkey", "o_custkey", "o_orderdate", "o_totalprice", "sum_qty")
    customer.select("c_custkey")
      .join(broadcast(o), col("c_custkey") === col("o_custkey"))
      .select(col("c_custkey"), col("o_orderkey"),
        col("o_orderdate").cast("date").cast("string").as("o_orderdate"),
        col("o_totalprice"), col("sum_qty"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
  }

  /** TPC-H Q2-shape minimum-cost supplier — the CORRELATED SCALAR MIN
    * subquery: for each part of a type, the region's supplier(s) whose
    * best (minimum) sale price equals the part's minimum across ALL the
    * region's suppliers. The corpus has no partsupp table, so the
    * supply-cost analogue is min(l_extendedprice) per (part, supplier)
    * pair — a MIN, order-independent and exact, so every engine agrees
    * bit-for-bit (no avg/division in the compare path).
    *
    * The decorrelation is explicit: the correlated `= (SELECT min ...)`
    * becomes ONE pair-level aggregate plus a per-part min over that
    * already-collapsed frame — the fact table shuffles once, the window
    * partitions on partkey whose group size is bounded by |suppliers per
    * part| (a dimension-scale bound, not a data-scale one). The region's
    * supplier roster broadcasts as a semi join BELOW the aggregate, so
    * out-of-region rows never enter the shuffle; part attributes gate a
    * broadcast join ABOVE it. TakeOrderedAndProject caps the report.
    */
  def minCostSuppliers(part: DataFrame, supplier: DataFrame, nation: DataFrame,
                       region: DataFrame, lineitem: DataFrame,
                       regionName: String = "ASIA", partType: String = "SMALL",
                       k: Int = 100): DataFrame = {
    val suppRegion = supplier
      .join(nation, col("s_nationkey") === col("n_nationkey"))
      .join(region.where(col("r_name") === regionName),
        col("n_regionkey") === col("r_regionkey"))
      .select(col("s_suppkey"), col("s_name"), col("s_acctbal"), col("n_name"))
    val pairMin = lineitem
      .join(broadcast(suppRegion.select("s_suppkey")),
        col("l_suppkey") === col("s_suppkey"), "left_semi")
      .groupBy("l_partkey", "l_suppkey")
      .agg(min(col("l_extendedprice")).as("pair_min"))
    val partMin = min(col("pair_min"))
      .over(Window.partitionBy(col("l_partkey")))
    pairMin.withColumn("part_min", partMin)
      .where(col("pair_min") === col("part_min"))
      .join(broadcast(part.where(col("p_type") === partType)
          .select("p_partkey", "p_name")),
        col("l_partkey") === col("p_partkey"))
      .join(broadcast(suppRegion), col("l_suppkey") === col("s_suppkey"))
      .select(col("s_acctbal"), col("s_name"), col("n_name"),
        col("p_partkey"), col("p_name"), col("pair_min").as("min_price"))
      .orderBy(col("s_acctbal").desc, col("n_name"), col("s_name"),
        col("p_partkey"))
      .limit(k)
  }

  /** TPC-H Q11-shape value concentration — a group HAVING gated on a
    * GLOBAL scalar: parts whose revenue exceeds 1.5× the average part's
    * (value × 2·n_parts > 3 × total, rearranged so the compare is a
    * DECIMAL integer-multiply on both sides — no division, no engine-
    * specific quotient scale). At 100 TB the per-part frame is one fact
    * shuffle with map-side partials; the scalar (total, n) is a combine-
    * safe aggregate OF THAT FRAME broadcast back as a 1-row cross join
    * (the broadcast-stats pattern) — the corpus is scanned once.
    */
  def partValueConcentration(lineitem: DataFrame): DataFrame = {
    val dp = col("l_extendedprice") * (lit(1.0) - col("l_discount"))
    val perPart = lineitem.groupBy("l_partkey")
      .agg(sum(money(dp)).as("value_dec"))
    val stats = perPart.agg(sum(col("value_dec")).as("total_dec"),
      count(lit(1)).as("n_parts"))
    perPart.join(broadcast(stats))
      .where(col("value_dec") * (col("n_parts") * 2) > col("total_dec") * 3)
      .select(col("l_partkey"),
        round(col("value_dec"), 2).cast("double").as("value"))
      .orderBy(col("value").desc, col("l_partkey"))
  }

  /** TPC-H Q15-shape top supplier — the VIEW + GLOBAL MAX shape: revenue
    * per supplier over a ship-date quarter, reporting the supplier(s)
    * that achieve the maximum (ties kept, the Q15 semantic). The max is
    * an aggregate of the ALREADY-COLLAPSED per-supplier frame broadcast
    * back as one row; equality compares the exact DECIMAL sums, so ties
    * are genuine, not double-rounding artifacts. One fact shuffle (the
    * date window pushed to the scan), dimension broadcast above.
    *
    * The explicit isNotNull(l_suppkey) below is a PLAN device, not a
    * semantic one (fact keys are never null): the supplier equi-join
    * pushes that filter into ITS branch of `rev` anyway, and unless the
    * max branch carries the identical filter the two subtrees stop being
    * canonical-equal and AQE's ReusedExchange cannot kick in — the fact
    * would scan and shuffle twice (plan-pinned: one scan at runtime).
    */
  def topRevenueSupplier(supplier: DataFrame, lineitem: DataFrame,
                         from: String = "1996-01-01",
                         until: String = "1996-04-01"): DataFrame = {
    val dp = col("l_extendedprice") * (lit(1.0) - col("l_discount"))
    val rev = lineitem
      .where(col("l_shipdate") >= lit(from) && col("l_shipdate") < lit(until) &&
        col("l_suppkey").isNotNull)
      .groupBy("l_suppkey").agg(sum(money(dp)).as("rev_dec"))
    val best = rev.agg(max(col("rev_dec")).as("max_rev"))
    rev.join(broadcast(best)).where(col("rev_dec") === col("max_rev"))
      .join(broadcast(supplier.select("s_suppkey", "s_name")),
        col("l_suppkey") === col("s_suppkey"))
      .select(col("s_suppkey"), col("s_name"),
        round(col("rev_dec"), 2).cast("double").as("total_rev"))
      .orderBy("s_suppkey")
  }

  /** TPC-H Q16-shape supplier diversity — DISTINCT-count per part
    * attribute with an EXCLUSION subquery: how many distinct suppliers
    * stock each (brand, type, size), not counting suppliers with heavy
    * return traffic (> `maxReturns` R-flag lines — the "complaints"
    * analogue). The exclusion list is an ids-only aggregate of the fact,
    * dimension-cardinality by construction, so it broadcasts into an
    * anti join BELOW the distinct count. No explicit pre-distinct: the
    * count-distinct rewrite already collapses (attrs, suppkey) duplicates
    * in its first (map-side partial) aggregate, so a separate pair-dedup
    * stage would only add a shuffle. Part attributes broadcast-join onto
    * the projected fact, never the full-width rows.
    */
  def supplierDiversity(part: DataFrame, lineitem: DataFrame,
                        maxReturns: Long = 200L): DataFrame = {
    val excluded = lineitem.where(col("l_returnflag") === "R")
      .groupBy("l_suppkey").agg(count(lit(1)).as("n_r"))
      .where(col("n_r") > maxReturns)
      .select(col("l_suppkey").as("x_suppkey"))
    lineitem.select("l_partkey", "l_suppkey")
      .join(broadcast(excluded),
        col("l_suppkey") === col("x_suppkey"), "left_anti")
      .join(broadcast(part.select("p_partkey", "p_brand", "p_type", "p_size")),
        col("l_partkey") === col("p_partkey"))
      .groupBy("p_brand", "p_type", "p_size")
      .agg(countDistinct(col("l_suppkey")).as("supplier_cnt"))
      .orderBy(col("supplier_cnt").desc,
        col("p_brand"), col("p_type"), col("p_size"))
  }

  /** TPC-H Q20-shape volume suppliers — the NESTED semi-join chain with
    * an AGGREGATE threshold inside: suppliers who moved more than
    * `minQty` units of any name-prefixed part within one year, reported
    * with their nation. Three nested layers in the honest SQL (supplier
    * IN → pair HAVING → part IN) flatten to: part-id semi BELOW the
    * fact aggregate (prefix predicate pushed into the broadcast build),
    * (part, supplier) quantity totals in exact DECIMAL, the HAVING gate,
    * then an ids-only distinct that semi-joins the supplier dimension.
    * The fact shuffles once; every other edge is a broadcast. No layer
    * materializes more than dimension-cardinality rows.
    */
  def volumeSuppliers(part: DataFrame, supplier: DataFrame, nation: DataFrame,
                      lineitem: DataFrame, namePrefix: String = "small",
                      from: String = "1997-01-01", until: String = "1998-01-01",
                      minQty: Double = 45.0): DataFrame = {
    val wantedParts = part.where(col("p_name").startsWith(namePrefix))
      .select("p_partkey")
    // the year window as explicit range bounds, NOT year(ts) = y: a
    // function over the column defeats parquet predicate pushdown; the
    // range form reaches the scan footers (plan-pinned)
    val qualified = lineitem
      .where(col("l_shipdate") >= lit(from) && col("l_shipdate") < lit(until))
      .join(broadcast(wantedParts),
        col("l_partkey") === col("p_partkey"), "left_semi")
      .groupBy("l_partkey", "l_suppkey")
      .agg(sum(col("l_quantity").cast("decimal(18,6)")).as("qty"))
      .where(col("qty") > minQty)
      .select("l_suppkey").distinct()
    supplier.join(qualified, col("s_suppkey") === col("l_suppkey"), "left_semi")
      .join(broadcast(nation.select("n_nationkey", "n_name")),
        col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"), col("s_name"), col("n_name"))
      .orderBy("s_suppkey")
  }

  /** One disjunct of the Q19-shape promo filter: a part-side conjunct
    * block (brand + size ceiling) paired with a lineitem-side conjunct
    * block (quantity window).
    */
  final case class PromoBlock(brand: String, sizeMax: Int,
                              qtyMin: Double, qtyMax: Double)

  /** TPC-H Q19 shape — revenue under an OR of per-disjunct conjunct
    * blocks spanning BOTH sides of part ⋈ lineitem (reference query
    * family: the catalog's dataSample/category disjunctions,
    * query_translation.py:188-204, taken to the fact-join setting).
    *
    * The interesting plan problem: written naively, the whole disjunction
    * sits in the join condition/post-join filter and NEITHER scan can
    * prune — every disjunct references both tables, so no single conjunct
    * is pushable. The standard rewrite factors each SIDE's pushable
    * superset out of the disjunction:
    *
    *   OR_i (P_i ∧ L_i)  ⟹  (OR_i P_i) pushed to part,
    *                         (OR_i L_i) pushed to lineitem,
    *                         OR_i (P_i ∧ L_i) kept as the exact residual.
    *
    * Each pushed superset is single-table and literal-only, so it reaches
    * the parquet scan as a PushedFilters `Or(And(...))` tree (plan-pinned
    * in PlanAuditSpec) where footer min/max and dictionary stats skip
    * non-qualifying row groups — at 100 TB the quantity windows and the
    * brand/size blocks carve the fact scan down BEFORE the join, which a
    * post-join residual alone never could. The residual re-applies the
    * exact pairing above the (broadcast) join, so disjunct cross-talk
    * (brand of block 1 with the quantity window of block 3) is filtered
    * out. Money follows the o13 cents rule: per-row double product, exact
    * DECIMAL sum, one final round-2.
    */
  def promoRevenue(part: DataFrame, lineitem: DataFrame,
                   blocks: Seq[PromoBlock]): DataFrame = {
    require(blocks.nonEmpty, "promoRevenue needs at least one disjunct block")
    def partPred(b: PromoBlock) =
      col("p_brand") === b.brand && col("p_size").between(1, b.sizeMax)
    def linePred(b: PromoBlock) =
      col("l_quantity") >= b.qtyMin && col("l_quantity") <= b.qtyMax
    val pushPart = blocks.map(partPred).reduce(_ || _)
    val pushLine = blocks.map(linePred).reduce(_ || _)
    val residual = blocks.map(b => partPred(b) && linePred(b)).reduce(_ || _)
    lineitem.where(pushLine)
      .join(broadcast(part.where(pushPart)
        .select("p_partkey", "p_brand", "p_size")),
        col("l_partkey") === col("p_partkey"))
      .where(residual)
      .groupBy("p_brand")
      .agg(count(lit(1)).as("n_items"),
        round(sum((col("l_extendedprice") * (lit(1) - col("l_discount")))
          .cast("decimal(18,6)")), 2).cast("double").as("revenue"))
      .orderBy("p_brand")
  }

  /** TPC-H Q14 shape — promotion revenue SHARE for a time window: one
    * CONDITIONAL aggregate computes both the promo-typed slice and the
    * total in a single pass (`sum(CASE …)` beside `sum`), so the ratio
    * costs exactly one scan — never two jobs diffed driver-side. Both
    * sums are exact DECIMAL (aggregation-order-free); the share is the
    * ONE double division, round-6 (the o19/c5 divided-average
    * discipline). At 100 TB: the month window reaches the fact scan as
    * range bounds, the part type rides a broadcast, and the aggregate is
    * a 1-row map-side-combining collapse — no shuffle wider than the
    * partial-aggregate merge.
    */
  def promoRevenueShare(part: DataFrame, lineitem: DataFrame,
                        from: String = "1997-01-01",
                        until: String = "1997-02-01"): DataFrame = {
    val dp = (col("l_extendedprice") * (lit(1) - col("l_discount")))
      .cast("decimal(18,6)")
    lineitem
      .where(col("l_shipdate") >= lit(from) && col("l_shipdate") < lit(until))
      .join(broadcast(part.select("p_partkey", "p_type")),
        col("l_partkey") === col("p_partkey"))
      .agg(
        sum(when(col("p_type") === "PROMO", dp).otherwise(lit(0).cast("decimal(18,6)")))
          .as("__promo"),
        sum(dp).as("__total"))
      .select(
        round(col("__promo") * 100 / col("__total"), 6).cast("double").as("promo_pct"),
        round(col("__promo"), 2).cast("double").as("promo_revenue"),
        round(col("__total"), 2).cast("double").as("total_revenue"))
  }

  /** TPC-H Q12 shape — per-flag line counts bucketed by order PRIORITY:
    * the classic fact-fact join whose payload is two `sum(CASE …)`
    * buckets (urgent/high vs the rest), proving the conditional-count
    * pattern across a join rather than o24's single table. At 100 TB:
    * the year window pushes to the lineitem scan as range bounds, both
    * sides project ids + the two needed payload columns ONLY, and the
    * orderkey equi-join is the one co-keyed shuffle in the plan (the
    * o3/o13 fact-fact discipline) with the aggregate partial-combining
    * above it. Counts are exact longs — nothing floating anywhere.
    */
  def priorityLineBuckets(orders: DataFrame, lineitem: DataFrame,
                          from: String = "1997-01-01",
                          until: String = "1998-01-01"): DataFrame = {
    val high = col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    lineitem
      .where(col("l_shipdate") >= lit(from) && col("l_shipdate") < lit(until))
      .select("l_orderkey", "l_returnflag")
      .join(orders.select("o_orderkey", "o_orderpriority"),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy("l_returnflag")
      .agg(sum(when(high, 1L).otherwise(0L)).as("high_line_count"),
        sum(when(high, 0L).otherwise(1L)).as("low_line_count"))
      .orderBy("l_returnflag")
  }

  /** TPC-H Q6 shape — the forecast-revenue-change aggregate: ONE scan,
    * ZERO joins, ZERO shuffles beyond the final 1-row combine. Its whole
    * point is pushdown: all three predicates (shipdate range, discount
    * band, quantity cap) are scan-level conjuncts that reach the parquet
    * footers (plan-pinned), so at 100 TB row groups outside the year or
    * the discount band never leave the disk. revenue = Σ price·discount
    * per-row double products accumulated in exact DECIMAL (the header
    * discipline); the count rides the same pass.
    */
  def discountRevenue(lineitem: DataFrame, from: String = "1997-01-01",
                      until: String = "1998-01-01", discLo: Double = 0.05,
                      discHi: Double = 0.07, qtyCap: Double = 24): DataFrame =
    lineitem
      .where(col("l_shipdate") >= lit(from) && col("l_shipdate") < lit(until)
        && col("l_discount") >= lit(discLo) && col("l_discount") <= lit(discHi)
        && col("l_quantity") < lit(qtyCap))
      .agg(
        round(sum((col("l_extendedprice") * col("l_discount"))
          .cast("decimal(18,6)")), 2).cast("double").as("revenue"),
        count(lit(1)).as("n_items"))

  /** TPC-H Q10 shape — top-k customers by RETURNED revenue in a quarter.
    * The scale move the naive SQL misses: the customer dimension joins
    * AFTER the top-k. Revenue aggregates per custkey over the one
    * co-keyed lineitem ⋈ orders shuffle (returnflag pushed to the fact
    * scan, the quarter to the orders scan), the top-k is a TakeOrdered
    * merge over those pre-aggregated rows, and only then do the k
    * surviving customers join customer/nation — the k-row side
    * broadcasts, so the full customer table never touches the fact
    * pipeline. Ranks on the EXACT decimal sum, ties by custkey.
    */
  def returnedRevenueCustomers(customer: DataFrame, orders: DataFrame,
                               lineitem: DataFrame, nation: DataFrame,
                               from: String = "1997-01-01",
                               until: String = "1997-04-01",
                               k: Int = 20): DataFrame = {
    val rev = lineitem
      .where(col("l_returnflag") === "R")
      .select(col("l_orderkey"),
        (col("l_extendedprice") * (lit(1) - col("l_discount")))
          .cast("decimal(18,6)").as("dp"))
      .join(orders
          .where(col("o_orderdate") >= lit(from) && col("o_orderdate") < lit(until))
          .select("o_orderkey", "o_custkey"),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy("o_custkey")
      .agg(sum(col("dp")).as("rev"))
      .orderBy(col("rev").desc, col("o_custkey")).limit(k)
    broadcast(rev)
      .join(customer, col("o_custkey") === col("c_custkey"))
      .join(broadcast(nation.select(col("n_nationkey"), col("n_name"))),
        col("c_nationkey") === col("n_nationkey"))
      .select(col("c_custkey"), col("c_name"), col("n_name"),
        round(col("rev"), 2).cast("double").as("revenue"), col("rev"))
      .orderBy(col("rev").desc, col("c_custkey"))
      .drop("rev")
  }

  /** TPC-H Q8 shape — a supplier nation's MARKET SHARE by order year
    * inside one region × part-type market: the widest join graph in the
    * suite (lineitem ⋈ part ⋈ supplier ⋈ nation ⋈ orders ⋈ customer ⋈
    * nation ⋈ region), with the share computed as a per-year conditional
    * aggregate (`sum(CASE supp_nation…)/sum(volume)` — o24's one-pass
    * ratio discipline, never two jobs diffed).
    *
    * At 100 TB the plan has exactly ONE wide shuffle: every dimension
    * (part slice, supplier→nation map, customer→nation∈region slice,
    * both nation legs, region) broadcasts — customer's projected
    * (custkey, nationkey) pair is ids-only and two orders of magnitude
    * under the facts — so lineitem ⋈ orders on the co-keyed orderkey is
    * the only fact-fact exchange, with the date window pushed to the
    * orders scan, the type slice pre-shrinking lineitem via the part
    * broadcast BEFORE that shuffle, and the year×2 aggregate
    * partial-combining above it. Share is exact-DECIMAL both sides, ONE
    * double division, round-6 (the o19/o24 discipline).
    */
  def marketShare(region: DataFrame, nation: DataFrame, customer: DataFrame,
                  orders: DataFrame, lineitem: DataFrame, supplier: DataFrame,
                  part: DataFrame, rName: String = "AMERICA",
                  suppNation: String = "NATION_5", pType: String = "ECONOMY",
                  from: String = "1995-01-01",
                  until: String = "1997-01-01"): DataFrame = {
    val vol = (col("l_extendedprice") * (lit(1) - col("l_discount")))
      .cast("decimal(18,6)")
    val marketNations = nation
      .join(broadcast(region.where(col("r_name") === rName)),
        col("n_regionkey") === col("r_regionkey"))
      .select(col("n_nationkey").as("mkt_nationkey"))
    val suppNations = supplier
      .join(broadcast(nation.select(col("n_nationkey"), col("n_name").as("supp_nation"))),
        col("s_nationkey") === col("n_nationkey"))
      .select("s_suppkey", "supp_nation")
    lineitem
      .join(broadcast(part.where(col("p_type") === pType).select("p_partkey")),
        col("l_partkey") === col("p_partkey"))
      .join(broadcast(suppNations), col("l_suppkey") === col("s_suppkey"))
      .join(
        orders
          .where(col("o_orderdate") >= lit(from) && col("o_orderdate") < lit(until))
          .select(col("o_orderkey"), col("o_custkey"),
            year(col("o_orderdate")).cast("long").as("o_year")),
        col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(
        customer.select(col("c_custkey"), col("c_nationkey"))
          .join(broadcast(marketNations),
            col("c_nationkey") === col("mkt_nationkey"))
          .select("c_custkey")),
        col("o_custkey") === col("c_custkey"))
      .groupBy("o_year")
      .agg(
        sum(when(col("supp_nation") === suppNation, vol)
          .otherwise(lit(0).cast("decimal(18,6)"))).as("__nat"),
        sum(vol).as("__all"))
      .select(col("o_year"),
        round(col("__nat") / col("__all"), 6).cast("double").as("mkt_share"),
        round(col("__all"), 2).cast("double").as("total_volume"))
      .orderBy("o_year")
  }

  /** TPC-H Q9 shape — profit by supplier nation × order year over a
    * part-name slice. The synthetic schema has no partsupp, so supply
    * cost is proxied as half the part's retail price per unit (documented
    * deviation; the PLAN shape — a substring-sliced dimension fanned
    * across the two biggest facts with a nation×year aggregate — is the
    * point). Per-row profit = discounted revenue − cost, each product
    * cast to DECIMAL(18,6) before the exact decimal sum; report rounds to
    * cents then doubles (header discipline).
    *
    * At 100 TB: the p_name contains-slice broadcasts and shrinks lineitem
    * FIRST (it cannot push to the fact scan — it's a dimension predicate
    * — but the broadcast hash join applies it before any exchange), the
    * supplier→nation map broadcasts, and lineitem ⋈ orders on orderkey is
    * again the single wide shuffle, the ~|nations|×|years| aggregate
    * combining map-side above it.
    */
  def nationProfit(nation: DataFrame, supplier: DataFrame, part: DataFrame,
                   orders: DataFrame, lineitem: DataFrame,
                   nameFragment: String = "widget"): DataFrame = {
    val profit = ((col("l_extendedprice") * (lit(1) - col("l_discount")))
      .cast("decimal(18,6)")
      - (lit(0.5) * col("p_retailprice") * col("l_quantity"))
        .cast("decimal(18,6)"))
    val suppNations = supplier
      .join(broadcast(nation.select(col("n_nationkey"), col("n_name"))),
        col("s_nationkey") === col("n_nationkey"))
      .select("s_suppkey", "n_name")
    lineitem
      .join(broadcast(part.where(col("p_name").contains(nameFragment))
        .select("p_partkey", "p_retailprice")),
        col("l_partkey") === col("p_partkey"))
      .join(broadcast(suppNations), col("l_suppkey") === col("s_suppkey"))
      .join(orders.select(col("o_orderkey"),
        year(col("o_orderdate")).cast("long").as("o_year")),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("n_name").as("nation"), col("o_year"))
      .agg(round(sum(profit), 2).cast("double").as("sum_profit"))
      .orderBy(col("nation"), col("o_year").desc)
  }

  /** EXACT GLOBAL RANK without a global sort — the c9/t26 distributed
    * bucketed-prefix-sum shape factored for every operator that needs a
    * total order over a fact-scale population: order-preserving range
    * buckets on the value (ascending or descending), per-bucket
    * row_number on (value, tie), and a metadata-scale bucket-offset
    * table added back. Equal values land in one bucket, so the
    * (value, tie) order survives bucketing; bucket boundaries use float
    * math but are engine-internal only — the reconstructed rank is the
    * exact total order, bucket-assignment-independent. Returns the input
    * plus a 1-based `rank` column.
    */
  private[graft] def bucketedRank(df: DataFrame, valueCol: String,
                                  tieCol: String, ascending: Boolean,
                                  rangeBuckets: Int = 1024): DataFrame = {
    require(rangeBuckets > 0, s"rangeBuckets must be positive: $rangeBuckets")
    val bounds = df.agg(min(valueCol).as("__lo"), max(valueCol).as("__hi"))
    val span = (col("__hi") - col("__lo")).cast("double")
    val pos = if (ascending) col(valueCol) - col("__lo")
              else col("__hi") - col(valueCol)
    val bucket = when(col("__hi") === col("__lo"), lit(0L)).otherwise(
      least(lit(rangeBuckets - 1L),
        floor(pos.cast("double") / span * rangeBuckets).cast("long")))
    val ord =
      if (ascending) Seq(col(valueCol).asc, col(tieCol).asc)
      else Seq(col(valueCol).desc, col(tieCol).asc)
    val inW = Window.partitionBy("__bkt").orderBy(ord: _*)
    val offW = Window.orderBy("__bkt").rowsBetween(Window.unboundedPreceding, -1)
    val b = df.crossJoin(broadcast(bounds)).withColumn("__bkt", bucket)
    val offsets = b.groupBy("__bkt").agg(count(lit(1)).as("__bn"))
      .select(col("__bkt"), coalesce(sum("__bn").over(offW), lit(0L)).as("__off"))
    b.withColumn("__rn", row_number().over(inW))
      .join(broadcast(offsets), "__bkt")
      .withColumn("rank", col("__rn") + col("__off"))
      .drop("__bkt", "__rn", "__off", "__lo", "__hi")
  }

  /** [[bucketedRank]] fused across INDEPENDENT rank axes sharing one scan
    * (r18): rows carry a `groupCol` axis tag, and every windowed/aggregate
    * step partitions by (axis, bucket) — so N axes cost ONE bounds
    * aggregate, ONE offsets aggregate, and ONE window pass instead of N of
    * each (the o32 profile: three sequential bucketedRank pipelines ≈ 60
    * small jobs, each a broadcast-build + window leg). Ascending only:
    * callers encode a descending axis by negating the (long) value — exact,
    * and order-isomorphic including ties. Per-axis ranks are bit-identical
    * to per-axis [[bucketedRank]] calls: bucket boundaries derive from the
    * axis's own min/max with the same float formula, and the reconstructed
    * rank is the exact (value, tie) total order regardless of bucketing.
    */
  private[graft] def bucketedRankGrouped(df: DataFrame, groupCol: String,
                                         valueCol: String, tieCol: String,
                                         rangeBuckets: Int = 1024): DataFrame = {
    require(rangeBuckets > 0, s"rangeBuckets must be positive: $rangeBuckets")
    val bounds = df.groupBy(groupCol)
      .agg(min(valueCol).as("__lo"), max(valueCol).as("__hi"))
    val span = (col("__hi") - col("__lo")).cast("double")
    val pos = col(valueCol) - col("__lo")
    val bucket = when(col("__hi") === col("__lo"), lit(0L)).otherwise(
      least(lit(rangeBuckets - 1L),
        floor(pos.cast("double") / span * rangeBuckets).cast("long")))
    val inW = Window.partitionBy(groupCol, "__bkt")
      .orderBy(col(valueCol).asc, col(tieCol).asc)
    val offW = Window.partitionBy(groupCol).orderBy("__bkt")
      .rowsBetween(Window.unboundedPreceding, -1)
    val b = df.join(broadcast(bounds), groupCol).withColumn("__bkt", bucket)
    val offsets = b.groupBy(groupCol, "__bkt").agg(count(lit(1)).as("__bn"))
      .select(col(groupCol), col("__bkt"),
        coalesce(sum("__bn").over(offW), lit(0L)).as("__off"))
    b.withColumn("__rn", row_number().over(inW))
      .join(broadcast(offsets), Seq(groupCol, "__bkt"))
      .withColumn("rank", col("__rn") + col("__off"))
      .drop("__bkt", "__rn", "__off", "__lo", "__hi")
  }

  /** Customer REVENUE CONCENTRATION — the Pareto report behind every
    * account-tiering and risk decision ("the top decile carries X% of
    * revenue"): customers ranked by lifetime revenue, bucketed into
    * deciles of the CUSTOMER population, each decile's exact revenue and
    * cumulative share in floor-divided micros.
    *
    * The global revenue-desc rank runs as the c9/t26 DISTRIBUTED bucketed
    * prefix sum — order-preserving range buckets on (hi − rev) so bucket
    * order follows revenue descending (equal revenues land in one bucket,
    * so the (rev desc, custkey) tie order survives bucketing), per-bucket
    * row_number + a metadata-scale offset table — never a global
    * single-partition sort over the customer population (the c4 straggler
    * shape this operator exists to avoid: a consumer-scale custkey space
    * is exactly what a Window.orderBy would funnel into one task).
    * Share products are DECIMAL-widened (total cents at 100 TB overflow
    * a long product). Bucket boundaries use float math but are
    * engine-internal only — the rank they reconstruct is the exact total
    * order, bucket-assignment-independent.
    */
  def revenueConcentration(orders: DataFrame, deciles: Int = 10,
                           rangeBuckets: Int = 1024): DataFrame = {
    require(deciles >= 2, "concentration config invalid")
    val perCust = orders.groupBy(col("o_custkey").as("cust"))
      .agg(sum(expr("CAST(round(o_totalprice * 100) AS BIGINT)")).as("rev"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val n = perCust.count()
    require(n > 0, "revenueConcentration needs at least one customer")
    val per = bucketedRank(perCust, "rev", "cust", ascending = false,
        rangeBuckets)
      .select(col("rev"),
        (expr(s"(rank - 1) * $deciles DIV ${n}L") + 1L).as("decile"))
      .groupBy("decile")
      .agg(count(lit(1)).as("n_cust"), sum("rev").as("rev_cents"))
      .localCheckpoint(true) // read 3× below (rows, total, cumulative)
    perCust.unpersist()
    val cumW = org.apache.spark.sql.expressions.Window.orderBy("decile")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    per
      .withColumn("cum_cents", sum("rev_cents").over(cumW))
      .crossJoin(broadcast(per.agg(sum("rev_cents").as("total"))))
      .select(col("decile"), col("n_cust"), col("rev_cents"),
        expr("CAST(rev_cents AS DECIMAL(38,0)) * 1000000 DIV total").as("share_e6"),
        expr("CAST(cum_cents AS DECIMAL(38,0)) * 1000000 DIV total").as("cum_share_e6"))
      .orderBy("decile")
  }

  /** RFM SEGMENTATION — the classic customer-value report (recency /
    * frequency / monetary, Hughes 1994): every customer scored 1..`buckets`
    * on each axis by EXACT POPULATION RANK (the o31 quantile rule
    * `(rank−1)·buckets div n + 1` — rank-based, so the buckets are
    * equal-population by construction and no float threshold can
    * misassign a boundary customer), then the 3-axis segments reported
    * with exact customer counts and revenue cents. Recency is whole days
    * against the CORPUS high-water-mark order date, never wall-clock
    * now() (the c13 determinism rule); score `buckets` = most recent /
    * most frequent / highest spend, ties broken by custkey.
    *
    * All three global ranks run as [[bucketedRank]] — the distributed
    * bucketed prefix sum, never a single-partition sort over the
    * customer population (the o31/c4 discipline, ×3). Plan: one
    * map-side-combining per-customer aggregate off the fact, a 1-row
    * high-water-mark broadcast, three rank passes over the slim
    * (cust, metric) table co-keyed back on cust, one segments-scale
    * aggregate. Output: `(r_score, f_score, m_score, n_cust, mon_cents)`
    * ordered by the three scores.
    */
  def rfmSegments(orders: DataFrame, buckets: Int = 5,
                  rangeBuckets: Int = 1024): DataFrame = {
    require(buckets >= 2, s"buckets must be >= 2: $buckets")
    val perCust = orders.groupBy(col("o_custkey").as("cust"))
      .agg(max(to_date(col("o_orderdate"))).as("last_day"),
        count(lit(1)).as("freq"),
        sum(expr("CAST(round(o_totalprice * 100) AS BIGINT)")).as("mon"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val n = perCust.count()
    require(n > 0, "rfmSegments needs at least one customer")
    val hwm = perCust.agg(max("last_day").as("hwm"))
    val base = perCust.crossJoin(broadcast(hwm))
      .withColumn("rec_days", datediff(col("hwm"), col("last_day")).cast("long"))
      .drop("hwm")
    // The three global ranks run FUSED (r18): one (cust, axis, value) unpivot
    // through a single [[bucketedRankGrouped]] pass — one bounds aggregate,
    // one offsets aggregate, one window — where the former three sequential
    // bucketedRank pipelines paid each of those per axis (~60 small jobs in
    // the o32 profile). Per-axis ranks are bit-identical: recency's
    // descending order is encoded exactly as ascending −rec_days (same
    // buckets, same (value, tie) total order — stalest customer still ranks
    // first, score 1 = most stale), and the m-axis row carries `mon` itself,
    // so the final segment aggregate needs no join back to the base.
    val un = base.select(col("cust"), explode(array(
        struct(lit("r").as("ax"), (lit(0L) - col("rec_days")).as("v")),
        struct(lit("f").as("ax"), col("freq").as("v")),
        struct(lit("m").as("ax"), col("mon").as("v")))).as("x"))
      .select(col("cust"), col("x.ax").as("ax"), col("x.v").as("v"))
    val scored = bucketedRankGrouped(un, "ax", "v", "cust", rangeBuckets)
      .select(col("cust"), col("ax"), col("v"),
        (expr(s"(rank - 1) * $buckets DIV ${n}L") + 1L).as("score"))
    val out = scored.groupBy("cust").agg(
        max(when(col("ax") === "r", col("score"))).as("r_score"),
        max(when(col("ax") === "f", col("score"))).as("f_score"),
        max(when(col("ax") === "m", col("score"))).as("m_score"),
        max(when(col("ax") === "m", col("v"))).as("mon"))
      .groupBy("r_score", "f_score", "m_score")
      .agg(count(lit(1)).as("n_cust"), sum("mon").as("mon_cents"))
      .orderBy("r_score", "f_score", "m_score")
      .localCheckpoint(true)
    perCust.unpersist()
    out
  }

  /** Year-over-year revenue GROWTH per nation — the trend report every
    * BI deployment runs on every fact table: yearly revenue (exact cents),
    * the prior year's via LAG, and growth in exact integer micros
    * `((rev − prev)·10⁶) div prev`, written SIGN-FACTORED
    * (sign(d)·(|d|·10⁶ div prev)) on both engines — floor ≡ trunc on the
    * non-negative operands this form guarantees, so builds that disagree
    * on negative floor-division still agree bit-for-bit; a nation's
    * first year reports null growth, not 0 — "no prior" and "flat" must
    * not alias.
    *
    * Plan shape: the fact collapses to |nations|×|years| rows in one
    * map-side-combining aggregate over the broadcast-joined dims; the LAG
    * window then runs per-nation over that metadata-scale grid (25×7
    * rows at any SF). Revenue is summed in cents (one exact long per
    * order), never as floats.
    */
  def yoyGrowth(orders: DataFrame, customer: DataFrame,
                nation: DataFrame): DataFrame = {
    val rev = orders
      .select(col("o_custkey"), year(col("o_orderdate")).cast("int").as("yr"),
        expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("cents"))
      .join(broadcast(customer.select("c_custkey", "c_nationkey")),
        col("o_custkey") === col("c_custkey"))
      .join(broadcast(nation.select("n_nationkey", "n_name")),
        col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name"), col("yr"))
      .agg(sum("cents").as("rev_cents"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("n_name").orderBy("yr")
    rev.withColumn("prev_cents", lag("rev_cents", 1).over(w))
      .withColumn("growth_e6",
        when(col("prev_cents") > 0,
          // DECIMAL-widened: delta·10⁶ overflows a long near $92B/year
          // deltas — wrapped garbage here, an overflow error in the
          // oracle; the ratio itself always fits the long result.
          // Sign-factored (sign(d)·(|d|·10⁶ DIV prev)) so both engines
          // compute the identical value regardless of whether their
          // integral division floors or truncates on negatives — floor
          // ≡ trunc on the non-negative operands this form guarantees.
          expr("CASE WHEN rev_cents >= prev_cents " +
            "THEN (CAST(rev_cents AS DECIMAL(38,0)) - prev_cents) * 1000000 DIV prev_cents " +
            "ELSE -((CAST(prev_cents AS DECIMAL(38,0)) - rev_cents) * 1000000 DIV prev_cents) END")))
      .select("n_name", "yr", "rev_cents", "prev_cents", "growth_e6")
      .orderBy("n_name", "yr")
  }

  /** MARKET-BASKET association over orders — the brands-bought-together
    * report behind every recommendation and assortment decision: for each
    * unordered brand pair co-occurring in at least `minSupport` orders,
    * the support count, directed confidence p(b|a), and LIFT
    * n·c(ab) / (c(a)·c(b)) — the independence-normalized signal (a pair
    * of individually popular brands co-occurs often by chance; lift > 1
    * is the real association). Ratios in exact floor-divided micros with
    * DECIMAL-widened products (c(ab)·n·10⁶ overflows a long at warehouse
    * scale), every operand non-negative so floor ≡ trunc — the portable
    * form.
    *
    * Plan shape at 100 TB: the fact joins the broadcast brand dim once
    * and collapses to per-order DISTINCT brands (≤|brands| rows per
    * order); pair generation is a SELF-JOIN CO-PARTITIONED ON THE ORDER
    * KEY — bounded-quadratic per order since the brand domain caps the
    * basket (the d19 blocked-pairs discipline: never all-pairs across
    * orders); pair counts map-side combine to a ≤|brands|²-row table and
    * everything after is metadata-scale with the 1-row basket total and
    * |brands|-row singles broadcast. Output ordered lift desc, (a, b).
    */
  def brandBasketLift(lineitem: DataFrame, part: DataFrame,
                      minSupport: Long = 50L, k: Int = 20): DataFrame = {
    require(minSupport >= 1 && k >= 1, "brandBasketLift config invalid")
    val ob = lineitem
      .join(broadcast(part.select("p_partkey", "p_brand")),
        col("l_partkey") === col("p_partkey"))
      .select(col("l_orderkey").as("okey"), col("p_brand").as("brand"))
      .distinct()
    val total = ob.select(countDistinct("okey").as("n"))
    val singles = ob.groupBy("brand").agg(count(lit(1)).as("c1"))
    val pairs = ob.as("a")
      .join(ob.withColumnRenamed("brand", "brand_b").as("b"), Seq("okey"))
      .where(col("brand") < col("brand_b"))
      .groupBy(col("brand").as("brand_a"), col("brand_b"))
      .agg(count(lit(1)).as("support"))
      .where(col("support") >= minSupport)
    pairs
      .join(broadcast(singles.select(col("brand").as("brand_a"), col("c1").as("ca"))), "brand_a")
      .join(broadcast(singles.select(col("brand").as("brand_b"), col("c1").as("cb"))), "brand_b")
      .crossJoin(broadcast(total))
      .select(col("brand_a"), col("brand_b"), col("support"),
        expr("CAST(support AS DECIMAL(38,0)) * 1000000 DIV ca").as("conf_ab_e6"),
        expr("CAST(support AS DECIMAL(38,0)) * n * 1000000 DIV (CAST(ca AS DECIMAL(38,0)) * cb)")
          .as("lift_e6"))
      .orderBy(col("lift_e6").desc, col("brand_a"), col("brand_b"))
      .limit(k)
  }
}
