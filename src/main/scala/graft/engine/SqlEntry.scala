package graft.engine

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Raw-SQL entry surface: the engine's tables registered as temp views and
  * analytic queries expressed as plain `spark.sql` text (the reference's
  * users lived in the DataFrame API; a complete engine also takes SQL at
  * the front door — same Catalyst plans either way).
  *
  * The two queries are the classic TPC-H shapes the fixture star schema
  * was built to host: Q1 (pricing summary — wide aggregate over the big
  * fact with exact decimal arithmetic) and Q3 (shipping priority — a
  * 3-table join funnel with group-by + top-k). Both oracle-checked; the
  * decimal casts are stated per factor so every engine computes identical
  * exact values.
  *
  * Rendering rule for the big money sums: the sum is EXACT decimal, and
  * only the final render casts to double and rounds — at scale 2, never
  * finer. ulp(1e10) ≈ 2e-6, so rounding a ~1e9–1e10 sum at scale 4–6
  * would land at the double's representation noise, where Spark
  * (BigDecimal HALF_UP) and DuckDB may legitimately disagree in the last
  * digit; scale 2 keeps the rounding step orders of magnitude above the
  * ulp through sf100-sized sums (and is the natural currency grain).
  * Small-magnitude ratios (avg_qty ~ 25) stay at scale 6 safely.
  */
object SqlEntry {
  type Q = (SparkSession, String) => DataFrame

  /** Register every fixture table as a session temp view over `dir`
    * (events goes through its nanosecond-normalizing loader).
    */
  def registerTables(spark: SparkSession, dir: String): Unit = {
    // register what the fixture dir HAS: synthesized ladder dirs
    // (ScaleBench) carry only the tables their queries read — a query
    // referencing an unregistered view still fails loudly at analysis,
    // just without blocking every other front-door query on a scan of
    // a table nobody asked for
    Seq("region", "nation", "customer", "supplier", "part", "orders",
      "lineitem", "documents", "embeddings").foreach { t =>
      if (java.nio.file.Files.exists(
          java.nio.file.Paths.get(dir, s"$t.parquet")))
        Tables.load(spark, dir, t).createOrReplaceTempView(t)
    }
    if (java.nio.file.Files.exists(
        java.nio.file.Paths.get(dir, "events.parquet")))
      Tables.events(spark, dir).createOrReplaceTempView("events")
  }

  private val q1Sql =
    """SELECT l_returnflag, l_linestatus,
      |  round(CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE), 2)
      |    AS sum_qty,
      |  round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE), 2)
      |    AS sum_base_price,
      |  round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) *
      |      (1 - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE), 2)
      |    AS sum_disc_price,
      |  round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) *
      |      (1 - CAST(l_discount AS DECIMAL(4,2))) *
      |      (1 + CAST(l_tax AS DECIMAL(4,2)))) AS DOUBLE), 2)
      |    AS sum_charge,
      |  round(CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE)
      |    / count(*), 6) AS avg_qty,
      |  count(*) AS count_order
      |FROM lineitem
      |WHERE l_shipdate <= TIMESTAMP '2001-09-01 00:00:00'
      |GROUP BY l_returnflag, l_linestatus""".stripMargin

  private val q3Sql =
    """SELECT o_orderkey, o_orderdate,
      |  round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) *
      |      (1 - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE), 2)
      |    AS revenue
      |FROM customer
      |JOIN orders ON c_custkey = o_custkey
      |JOIN lineitem ON l_orderkey = o_orderkey
      |WHERE c_mktsegment = 'BUILDING'
      |  AND o_orderdate < TIMESTAMP '1999-01-01 00:00:00'
      |  AND l_shipdate > TIMESTAMP '1999-01-01 00:00:00'
      |GROUP BY o_orderkey, o_orderdate
      |ORDER BY revenue DESC, o_orderkey
      |LIMIT 20""".stripMargin

  /** Q4 shape (order-priority checking): per priority, orders with at
    * least one LATE line (shipped >30 days after the order date) via a
    * correlated EXISTS — the semi-join planner path through the SQL
    * front door (Spark rewrites the subquery to a left-semi hash join on
    * l_orderkey; same aggregate-bounded output as
    * [[graft.engine.JoinOps.semiAnti]]'s DataFrame form). The interval
    * literal is the ANSI `INTERVAL '30' DAY`, which both engines parse
    * identically.
    */
  private val q4Sql =
    """SELECT o_orderpriority, count(*) AS order_count
      |FROM orders
      |WHERE o_orderdate < TIMESTAMP '2000-01-01 00:00:00'
      |  AND EXISTS (SELECT 1 FROM lineitem
      |    WHERE l_orderkey = o_orderkey
      |      AND l_shipdate > o_orderdate + INTERVAL '30' DAY)
      |GROUP BY o_orderpriority""".stripMargin

  /** Q5 shape (local supplier volume): the classic SIX-table star join
    * — region → nation → (customer, supplier) → orders → lineitem with
    * the customer-nation = supplier-nation equality — through the SQL
    * front door. The planner exercise is join ORDERING + broadcast
    * selection across four dimension tables and two facts; exact
    * decimal money per the rendering rule above. Dates cover the
    * fixture's o_orderdate span.
    */
  private val q5Sql =
    """SELECT n_name,
      |  round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) *
      |      (1 - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE), 2)
      |    AS revenue
      |FROM customer
      |JOIN orders ON c_custkey = o_custkey
      |JOIN lineitem ON l_orderkey = o_orderkey
      |JOIN supplier ON l_suppkey = s_suppkey
      |  AND c_nationkey = s_nationkey
      |JOIN nation ON s_nationkey = n_nationkey
      |JOIN region ON n_regionkey = r_regionkey
      |WHERE r_name = 'ASIA'
      |  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      |  AND o_orderdate < TIMESTAMP '2000-01-01 00:00:00'
      |GROUP BY n_name
      |ORDER BY revenue DESC""".stripMargin

  /** Q14 shape (promotion effect): the conditional-aggregate ratio —
    * CASE inside one sum divided by another over the same join. Both
    * sums are exact decimal; the ONE division happens in double with
    * the house round(…, 6).
    */
  private val q14Sql =
    """SELECT round(100.0 *
      |    CAST(sum(CASE WHEN p_type = 'ECONOMY'
      |      THEN CAST(l_extendedprice AS DECIMAL(18,2)) *
      |        (1 - CAST(l_discount AS DECIMAL(4,2)))
      |      ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE) /
      |    CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) *
      |      (1 - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE), 6)
      |    AS promo_revenue_pct,
      |  count(*) AS n_lines
      |FROM lineitem
      |JOIN part ON l_partkey = p_partkey
      |WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      |  AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'""".stripMargin

  /** Q18 shape (large-volume orders): HAVING on an aggregate subquery
    * with an IN join-back — the planner path Spark rewrites to a
    * left-semi join against the pre-aggregated order list (the
    * complement of Q4's EXISTS semi). The 300-unit floor selects the
    * same top fraction the TPC-H spec's 300 does. o_totalprice is
    * grouped on its raw parquet double (identical bits both engines)
    * and only RENDERED through the scale-2 round.
    */
  private val q18Sql =
    """SELECT c_name, o_orderkey, o_orderdate,
      |  round(CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS DOUBLE), 2)
      |    AS total_price,
      |  round(CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE), 2)
      |    AS sum_qty
      |FROM customer
      |JOIN orders ON c_custkey = o_custkey
      |JOIN lineitem ON l_orderkey = o_orderkey
      |WHERE o_orderkey IN (
      |  SELECT l_orderkey FROM lineitem GROUP BY l_orderkey
      |  HAVING sum(CAST(l_quantity AS DECIMAL(12,2))) > 300)
      |GROUP BY c_name, o_orderkey, o_orderdate, o_totalprice""".stripMargin

  /** Q22 shape (idle high-balance accounts): scalar aggregate subquery
    * gating an anti join — customers above the positive-balance average
    * with no order since 1999, rolled up per nation. The average is
    * compared EXACTLY as `bal · n > Σbal` (multiply-through instead of
    * a double division: a last-ulp disagreement on avg(double) between
    * engines would otherwise flip boundary customers in or out). The
    * NOT EXISTS plans as a left-anti hash join on o_custkey; the two
    * scalar subqueries are one-row broadcasts, not row-space joins.
    */
  private val q22Sql =
    """SELECT n_name, count(*) AS n_idle,
      |  round(CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE), 2)
      |    AS idle_balance
      |FROM customer
      |JOIN nation ON c_nationkey = n_nationkey
      |WHERE CAST(c_acctbal AS DECIMAL(18,2)) *
      |    (SELECT count(*) FROM customer WHERE c_acctbal > 0) >
      |  (SELECT sum(CAST(c_acctbal AS DECIMAL(18,2))) FROM customer
      |    WHERE c_acctbal > 0)
      |  AND NOT EXISTS (SELECT 1 FROM orders
      |    WHERE o_custkey = c_custkey
      |      AND o_orderdate >= TIMESTAMP '1999-01-01 00:00:00')
      |GROUP BY n_name""".stripMargin

  /** Correlated SCALAR subquery shape (each customer's priciest order):
    * the third subquery planner path through the SQL front door — Q4's
    * EXISTS becomes a semi join, Q18's IN a semi join on an aggregate
    * list, and this one Spark must de-correlate into a per-customer
    * aggregate joined back (no per-row re-execution). Ties on the max
    * keep all tied orders — deterministic either way, and both engines
    * agree because the comparison is on the raw parquet double.
    */
  /** Frame-spec windows through the SQL text front door (VERDICT r15
    * #6 — the planner surface story covered row_number/rollup/NAAJ/
    * semi/anti but no RANGE/ROWS frame in raw SQL): one statement
    * carrying BOTH a trailing `RANGE BETWEEN INTERVAL 1 HOUR PRECEDING`
    * frame and a `ROWS UNBOUNDED PRECEDING` running sum, declared via a
    * named WINDOW clause over the SAME (PARTITION BY user_id ORDER BY
    * ts) spec — frames sharing one sort must plan as ONE Window
    * operator over one exchange (PlanGateSpec/PLAN_GATE pin it; a
    * second Window or sort means the frames stopped sharing).
    *
    * Determinism precondition: (user_id, ts) is unique in the events
    * fixture at every SF (verified in the fixtures), so the ROWS
    * running sum is a total order even without the usual event_id
    * tiebreaker — the hash gate itself would flag a fixture that
    * breaks this. RANGE semantics are value-based, tie-insensitive.
    * 100 TB shape: one hash exchange on user_id, per-user sorted
    * scans; frames are bounded sliding state in WindowExec, never a
    * per-key materialization.
    */
  private val qWindowFramesSql =
    """SELECT user_id, event_id, ts,
      |  CAST(count(*) OVER w_range AS BIGINT) AS n_1h,
      |  round(CAST(sum(CAST(value AS DECIMAL(12,2))) OVER w_range
      |    AS DOUBLE), 2) AS sum_1h,
      |  round(CAST(sum(CAST(value AS DECIMAL(12,2))) OVER w_rows
      |    AS DOUBLE), 2) AS running_value
      |FROM events
      |WINDOW
      |  w_range AS (PARTITION BY user_id ORDER BY ts
      |    RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW),
      |  w_rows AS (PARTITION BY user_id ORDER BY ts
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)"""
      .stripMargin

  def sqlWindowFrames(spark: SparkSession, dir: String): DataFrame = {
    registerTables(spark, dir)
    spark.sql(qWindowFramesSql)
  }

  private val qTopOrderSql =
    """SELECT o_custkey, o_orderkey, o_orderdate,
      |  round(CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS DOUBLE), 2)
      |    AS total_price
      |FROM orders o
      |WHERE o_totalprice = (SELECT max(o2.o_totalprice)
      |  FROM orders o2 WHERE o2.o_custkey = o.o_custkey)""".stripMargin

  /** Window shape through the SQL text front door: the top-3 orders per
    * customer as `row_number() OVER` — the windowed twin of
    * [[qTopOrderSql]]'s correlated scalar. The planner must produce ONE
    * Window over one sort exchange and NO join (the naive translation
    * is a self-join on the per-customer max — PlanSpec gates that it
    * never appears). The tie-break key (o_orderkey) makes the cut a
    * total order, so both engines keep identical rows; `row_number`
    * returns int in Spark and bigint in DuckDB, hence the explicit
    * CAST.
    */
  private val qWindowTopNSql =
    """SELECT o_custkey, o_orderkey, CAST(rn AS BIGINT) AS rn,
      |  round(CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS DOUBLE), 2)
      |    AS total_price
      |FROM (SELECT o_custkey, o_orderkey, o_totalprice,
      |    row_number() OVER (PARTITION BY o_custkey
      |      ORDER BY o_totalprice DESC, o_orderkey) AS rn
      |  FROM orders)
      |WHERE rn <= 3""".stripMargin

  /** Grouping-set shape through the SQL text front door: order counts
    * and totals by (priority, status) with ROLLUP subtotals — the
    * Expand planner path (each row fans out over its grouping sets
    * map-side; one exchange on the expanded keys). `grouping()`
    * disambiguates subtotal rows from genuine NULL keys, identically
    * in both engines.
    */
  private val qRollupSql =
    """SELECT
      |  CASE WHEN grouping(o_orderpriority) = 1 THEN 'ALL'
      |    ELSE o_orderpriority END AS priority,
      |  CASE WHEN grouping(o_orderstatus) = 1 THEN 'ALL'
      |    ELSE o_orderstatus END AS status,
      |  count(*) AS n_orders,
      |  round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE), 2)
      |    AS total
      |FROM orders
      |GROUP BY ROLLUP (o_orderpriority, o_orderstatus)""".stripMargin

  /** Q16-flavored NOT IN shape (parts that never shipped in the final
    * year, rolled up per brand): the LAST distinct subquery planner
    * path through the SQL front door — `NOT IN (subquery)` carries
    * three-valued NULL semantics (any NULL in the list vetoes every
    * row), so Spark cannot use the plain left-anti join it gives NOT
    * EXISTS; it plans a NULL-AWARE anti join (single-column NAAJ,
    * broadcast build of the distinct key list). The build side here is
    * the distinct shipped-partkey list — key-cardinality-sized, a
    * legitimate broadcast at any corpus scale (and l_partkey is
    * non-null by schema, so both engines agree there is no NULL veto).
    * Completes the subquery quartet: EXISTS→semi, IN+HAVING→semi on
    * aggregate, NOT EXISTS→anti, NOT IN→null-aware anti.
    */
  private val qNotInSql =
    """SELECT p_brand, count(*) AS n_unshipped,
      |  min(p_partkey) AS min_part, max(p_partkey) AS max_part,
      |  round(CAST(sum(CAST(p_retailprice AS DECIMAL(12,2))) AS DOUBLE), 2)
      |    AS idle_value
      |FROM part
      |WHERE p_partkey NOT IN (
      |  SELECT l_partkey FROM lineitem
      |  WHERE l_shipdate >= TIMESTAMP '2001-01-01 00:00:00')
      |GROUP BY p_brand""".stripMargin

  def sqlNotIn(spark: SparkSession, dir: String): DataFrame = {
    registerTables(spark, dir)
    spark.sql(qNotInSql)
  }

  /** The registered-extension surface through raw SQL text: the three
    * engine-native functions a plain `spark.sql` user can call —
    * `nfc_normalize` and `utf8_poly_id` (Catalyst expressions injected
    * by [[graft.GraftExtensions]]) and `kmv_sketch` (the bounded KMV
    * Aggregator as a session UDAF) — composed into the per-source
    * distinct-vocabulary sketch WITH its exact acceptance side, all in
    * one GROUP BY. Result is column-for-column the `q_kmv_distinct`
    * Dataset query, so the oracle is SHARED: the same DuckDB text
    * hash-gates both, proving SQL-surface ≡ Dataset-API ≡ oracle for
    * the whole extension registry (not just spec-level equality).
    * `nfc_normalize` is exact identity here — the fixture corpus is
    * ASCII, hence already NFC — so it exercises the registration and
    * codegen path without perturbing the hash.
    */
  private def qKmvSql: String = {
    val k = Ext.KmvK
    val m = graft.engine.Dedup.IdMod
    s"""WITH tok AS (SELECT source,
       |    explode(regexp_extract_all(text,
       |      '${graft.engine.TextOps.SegPattern}', 0)) AS term
       |  FROM documents),
       |h AS (SELECT source, term,
       |    utf8_poly_id(nfc_normalize(term), ${m}L) AS hv FROM tok)
       |SELECT source,
       |  count(DISTINCT term) AS n_distinct,
       |  CAST(size(kmv_sketch(hv)) AS BIGINT) AS n_sketch,
       |  CASE WHEN size(kmv_sketch(hv)) < $k
       |    THEN CAST(size(kmv_sketch(hv)) AS DOUBLE)
       |    ELSE round(${(k - 1).toDouble} * ${m.toDouble}
       |      / element_at(kmv_sketch(hv), $k), 6) END AS kmv_est
       |FROM h GROUP BY source""".stripMargin
  }

  def sqlKmv(spark: SparkSession, dir: String): DataFrame = {
    registerTables(spark, dir)
    // self-sufficient like registerTables: register() stays so the
    // engine functions also work on sessions GraftSession did not build,
    // and it is an idempotent createOrReplace either way
    graft.GraftExtensions.register(spark)
    spark.sql(qKmvSql)
  }

  /** Recursive CTE through the SQL front door (`q_sql_recursive`):
    * hierarchy flattening — the BOM-explosion / org-chart pattern — over
    * a synthetic binary parent edge (`parent(c) = floor(c/2)`) on
    * customer keys. The walk is TOP-DOWN from the root: each iteration
    * joins the previous FRONTIER to the edge table, so every reachable
    * key is produced exactly once and total recursion volume is
    * O(keys) across all iterations — the scale-correct direction. (The
    * bottom-up ancestry walk — every key carrying its own chain to the
    * root — generates rows × depth and tripped Spark's default 1M
    * recursion ROW limit at 5x fixture scale on its first ladder run;
    * at 100 TB that shape is wrong no matter the limit.) Portability:
    * integer division is spelled `CAST(floor(x / 2) AS BIGINT)` because
    * `x DIV 2` (Spark) and `x // 2` (DuckDB) are not common text, while
    * `/` is float division on BOTH engines. Iterations = tree height
    * (~log2 of the connected key range), far inside Spark's 100-level
    * default; Spark executes the loop as UnionLoopExec with the
    * frontier⋈edges join planned per iteration.
    */
  private val qRecursiveSql =
    """WITH RECURSIVE walk(custkey, depth) AS (
      |  SELECT CAST(1 AS BIGINT), 0
      |  UNION ALL
      |  SELECT c_custkey, depth + 1
      |  FROM walk JOIN customer
      |    ON CAST(floor(c_custkey / 2) AS BIGINT) = custkey)
      |SELECT depth, count(*) AS n,
      |  round(CAST(sum(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE), 2)
      |    AS bal
      |FROM walk JOIN customer ON custkey = c_custkey
      |GROUP BY depth""".stripMargin

  def sqlRecursive(spark: SparkSession, dir: String): DataFrame = {
    registerTables(spark, dir)
    spark.sql(qRecursiveSql)
  }

  /** Correlated LATERAL subquery with per-row ORDER BY + LIMIT
    * (`q_sql_lateral`): top-2 orders per nation through the lateral
    * join Spark decorrelates into a ranked window under the hood — the
    * planner surface this query pins is exactly that decorrelation
    * (DomainJoin elimination), the same answer a hand-written
    * row_number() top-k would give but arriving via the SQL shape
    * analysts actually write. The (o_totalprice DESC, o_orderkey) sort
    * is a total order, so the LIMIT is deterministic on both engines.
    */
  private val qLateralSql =
    """SELECT n_name, t.o_orderkey, t.o_totalprice
      |FROM nation, LATERAL (
      |  SELECT o_orderkey,
      |    round(CAST(CAST(o_totalprice AS DECIMAL(12,2)) AS DOUBLE), 2)
      |      AS o_totalprice
      |  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
      |  WHERE c.c_nationkey = n_nationkey
      |  ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) t""".stripMargin

  def sqlLateral(spark: SparkSession, dir: String): DataFrame = {
    registerTables(spark, dir)
    spark.sql(qLateralSql)
  }

  def sqlWindowTopN(spark: SparkSession, dir: String): DataFrame = {
    registerTables(spark, dir)
    spark.sql(qWindowTopNSql)
  }

  def sqlRollup(spark: SparkSession, dir: String): DataFrame = {
    registerTables(spark, dir)
    spark.sql(qRollupSql)
  }

  def sqlTopOrder(spark: SparkSession, dir: String): DataFrame = {
    registerTables(spark, dir)
    spark.sql(qTopOrderSql)
  }

  def sqlQ18(spark: SparkSession, dir: String): DataFrame = {
    registerTables(spark, dir)
    spark.sql(q18Sql)
  }

  def sqlQ22(spark: SparkSession, dir: String): DataFrame = {
    registerTables(spark, dir)
    spark.sql(q22Sql)
  }

  def sqlQ1(spark: SparkSession, dir: String): DataFrame = {
    registerTables(spark, dir)
    spark.sql(q1Sql)
  }

  def sqlQ5(spark: SparkSession, dir: String): DataFrame = {
    registerTables(spark, dir)
    spark.sql(q5Sql)
  }

  def sqlQ14(spark: SparkSession, dir: String): DataFrame = {
    registerTables(spark, dir)
    spark.sql(q14Sql)
  }

  def sqlQ4(spark: SparkSession, dir: String): DataFrame = {
    registerTables(spark, dir)
    spark.sql(q4Sql)
  }

  def sqlQ3(spark: SparkSession, dir: String): DataFrame = {
    registerTables(spark, dir)
    spark.sql(q3Sql)
  }

  val queries: Map[String, Q] = Map(
    "q_sql_pricing_summary" -> sqlQ1 _,
    "q_sql_shipping_priority" -> sqlQ3 _,
    "q_sql_late_orders" -> sqlQ4 _,
    "q_sql_local_volume" -> sqlQ5 _,
    "q_sql_promo_effect" -> sqlQ14 _,
    "q_sql_big_orders" -> sqlQ18 _,
    "q_sql_idle_balance" -> sqlQ22 _,
    "q_sql_top_order_per_cust" -> sqlTopOrder _,
    "q_sql_window_topn" -> sqlWindowTopN _,
    "q_sql_window_frames" -> sqlWindowFrames _,
    "q_sql_rollup" -> sqlRollup _,
    "q_sql_unshipped_parts" -> sqlNotIn _,
    "q_sql_recursive" -> sqlRecursive _,
    "q_sql_lateral" -> sqlLateral _,
    "q_sql_kmv_rollup" -> sqlKmv _)

  /** The SQL is already ANSI — the oracle is the same text (DuckDB's
    * TIMESTAMP literals and decimal semantics line up).
    */
  val oracles: Map[String, String] = Map(
    "q_sql_pricing_summary" -> q1Sql.replace("\n", " "),
    "q_sql_shipping_priority" -> q3Sql.replace("\n", " "),
    "q_sql_late_orders" -> q4Sql.replace("\n", " "),
    "q_sql_local_volume" -> q5Sql.replace("\n", " "),
    "q_sql_promo_effect" -> q14Sql.replace("\n", " "),
    "q_sql_big_orders" -> q18Sql.replace("\n", " "),
    "q_sql_idle_balance" -> q22Sql.replace("\n", " "),
    "q_sql_top_order_per_cust" -> qTopOrderSql.replace("\n", " "),
    "q_sql_window_topn" -> qWindowTopNSql.replace("\n", " "),
    // the SQL is ANSI; DuckDB runs the same text (INTERVAL range
    // frames and named WINDOW clauses line up across both engines)
    "q_sql_window_frames" -> qWindowFramesSql.replace("\n", " "),
    "q_sql_rollup" -> qRollupSql.replace("\n", " "),
    "q_sql_unshipped_parts" -> qNotInSql.replace("\n", " "),
    // WITH RECURSIVE and correlated LATERAL are common text on both
    // engines (integer division spelled CAST(floor(x/2) AS BIGINT)
    // because DIV / // are not)
    "q_sql_recursive" -> qRecursiveSql.replace("\n", " "),
    "q_sql_lateral" -> qLateralSql.replace("\n", " "),
    // shared with the Dataset-API twin: same columns, same values
    "q_sql_kmv_rollup" -> Ext.oracles("q_kmv_distinct"))
}
