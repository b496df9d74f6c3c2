package graft.engine

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Join-reduction and view-maintenance operators — the relational
  * infrastructure passes that keep 100 TB joins and refreshes from paying
  * corpus-sized work: Bloom semi-join reduction (ship an 8 KiB bitmap
  * instead of a billion-key build side), explicit semi/anti join coverage
  * (the EXISTS / NOT EXISTS audit shapes), and incremental
  * materialized-view maintenance (merge delta partials into persisted
  * grain-sized state instead of re-scanning the fact table).
  *
  * All three are oracle-checked: the Bloom filter and the persisted MV are
  * pure physical optimizations whose OUTPUT is defined by plain relational
  * semantics, so DuckDB replays the semantic query and the hash gate
  * proves the optimized path changes nothing.
  */
object JoinOps {
  type Q = (SparkSession, String) => DataFrame

  /** Bloom bitmap size in bits (2^16 ⇒ 1024 longs ≈ 8 KiB broadcast).
    * With the fixture's ~3k urgent orders and [[BloomHashes]] probes the
    * false-positive rate is (1−e^(−2n/m))² ≈ 0.8%; a production build
    * sizes m from the build-side count the same way.
    */
  val BloomBits = 65536
  /** Independent hash probes per key (seeded xxhash64). */
  val BloomHashes = 2

  private[graft] def bloomPos(key: Column, seed: Int): Column =
    pmod(xxhash64(key, lit(seed)), lit(BloomBits.toLong))

  /** One Bloom membership test: bit `posCol % 64` of bitmap word
    * `posCol DIV 64` (map-column `bm`). `try_element_at` + coalesce: a
    * missing word means no build key ever set a bit there ⇒ definitely
    * absent (and stays null-safe under ANSI mode).
    */
  private[graft] def bloomHit(posCol: String): Column =
    expr(s"coalesce(try_element_at(bm, CAST($posCol DIV 64 AS INT)), 0L)" +
      s" & shiftleft(1L, CAST($posCol % 64 AS INT))") =!= 0L

  /** Fold bit positions into the broadcastable bitmap: ≤[[BloomBits]]/64
    * (word, bits) rows via map-side-combined `bit_or`, then ONE map
    * column — every aggregation buffer is bounded by the bitmap size,
    * never by build-side cardinality.
    */
  private[graft] def bloomBitmap(positions: DataFrame): DataFrame =
    positions
      .groupBy(expr("CAST(pos DIV 64 AS INT)").as("w"))
      .agg(expr("bit_or(shiftleft(1L, CAST(pos % 64 AS INT)))").as("bits"))
      .agg(map_from_entries(collect_list(struct(col("w"), col("bits"))))
        .as("bm"))

  /** Attach [[BloomHashes]] position columns for `key` and filter rows
    * whose every probed bit is set in `bm`.
    */
  private[graft] def bloomFilterRows(df: DataFrame, key: Column): DataFrame = {
    val withPos = (0 until BloomHashes).foldLeft(df) { (d, s) =>
      d.withColumn(s"bpos$s", bloomPos(key, s))
    }
    val seeds = 0 until BloomHashes
    withPos
      .filter(seeds.map(s => bloomHit(s"bpos$s")).reduce(_ && _))
      .drop("bm" +: seeds.map(s => s"bpos$s"): _*)
  }

  /** Bloom semi-join reduction: urgent-order revenue per priority, with
    * the fact side pre-filtered by a Bloom bitmap of the build side's join
    * keys before the exact join.
    *
    * Why this exists at 100 TB: when the build side is too big to
    * broadcast AS KEYS (10⁹ order keys ≈ 8 GB) the shuffle join ships the
    * FULL probe side; a Bloom bitmap is constant-sized (8 KiB here — m
    * scales with build count, not probe count), broadcasts for free, and
    * drops ~(1−σ) of probe rows BEFORE the exchange, so the shuffle pays
    * selectivity-sized I/O. False positives survive the filter but the
    * exact join removes them — the bitmap is invisible in the answer,
    * which is exactly what the oracle (a plain join) checks. Spark's own
    * runtime row-level filters apply the same idea planner-side; this
    * operator is the explicit, tunable form a pipeline pins down when it
    * cannot rely on the planner firing.
    *
    * Build shape (scale-correct, no key-count-sized state anywhere): keys
    * → bit positions (map-side), positions → ≤1024 (word, bits) rows via
    * map-side-combined `bit_or`, words → ONE map column. Every
    * aggregation buffer is bounded by the bitmap size, never by the
    * build-side cardinality.
    */
  def bloomJoin(spark: SparkSession, dir: String): DataFrame = {
    val urgent = Tables.orders(spark, dir)
      .filter(col("o_orderpriority") === "1-URGENT")
      .select(col("o_orderkey"), col("o_orderpriority"))
    val positions = urgent.select(explode(array(
      (0 until BloomHashes).map(s => bloomPos(col("o_orderkey"), s)): _*))
      .as("pos"))
    val bitmap = bloomBitmap(positions)
    val probed = bloomFilterRows(
      Tables.lineitem(spark, dir)
        .select(col("l_orderkey"), col("l_quantity"),
          col("l_extendedprice"))
        .crossJoin(broadcast(bitmap)),
      col("l_orderkey"))
    probed.join(urgent, col("l_orderkey") === col("o_orderkey"))
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n_lines"),
        round(sum(col("l_quantity").cast("decimal(12,2)")).cast("double"), 2)
          .as("sum_qty"),
        round(sum(col("l_extendedprice").cast("decimal(12,2)"))
          .cast("double"), 2).as("sum_price"))
  }

  /** Bloom-filtered probe row count vs the exact match count — exposed for
    * the spec's reduction/soundness gate (bloom passes ⊇ true matches,
    * and well under the full probe side).
    */
  private[graft] def bloomProbeCounts(spark: SparkSession, dir: String)
      : (Long, Long, Long) = {
    val li = Tables.lineitem(spark, dir)
    val urgentKeys = Tables.orders(spark, dir)
      .filter(col("o_orderpriority") === "1-URGENT").select("o_orderkey")
    val bitmap = bloomBitmap(urgentKeys.select(explode(array(
      (0 until BloomHashes).map(s => bloomPos(col("o_orderkey"), s)): _*))
      .as("pos")))
    val passed = bloomFilterRows(li.crossJoin(broadcast(bitmap)),
      col("l_orderkey")).count()
    val exact = li.join(urgentKeys,
      col("l_orderkey") === col("o_orderkey"), "left_semi").count()
    (li.count(), passed, exact)
  }

  /** Explicit semi/anti join coverage: per nation, customers WITH at least
    * one order (left_semi) and customers WITHOUT (left_anti) — the
    * EXISTS / NOT EXISTS audit pair every referential pipeline runs.
    * Semi/anti are the scale-honest shapes for existence checks: they
    * shuffle only join keys, never duplicate probe rows on multi-match
    * (an inner-join + distinct would), and the anti side is the orphan
    * audit that a plain join cannot express without a null-padded outer
    * join. The nation dim broadcasts; the semi/anti key exchange is
    * shared by AQE (same key, same side).
    */
  def semiAnti(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(spark, dir)
      .join(broadcast(Tables.nation(spark, dir)),
        col("c_nationkey") === col("n_nationkey"))
      .select(col("c_custkey"), col("n_name"))
    val o = Tables.orders(spark, dir).select(col("o_custkey"))
    val active = c.join(o, col("c_custkey") === col("o_custkey"),
        "left_semi")
      .groupBy("n_name").agg(count(lit(1)).as("n_active"))
    val inactive = c.join(o, col("c_custkey") === col("o_custkey"),
        "left_anti")
      .groupBy("n_name").agg(count(lit(1)).as("n_inactive"))
    active.join(inactive, Seq("n_name"), "full_outer")
      .select(col("n_name"),
        coalesce(col("n_active"), lit(0L)).as("n_active"),
        coalesce(col("n_inactive"), lit(0L)).as("n_inactive"))
  }

  /** The MV's base/delta carve: rows with `l_orderkey % MvDeltaMod == 0`
    * are "the batch that just arrived"; the rest are the already-folded
    * corpus whose partials live in the persisted state.
    */
  val MvDeltaMod = 10

  private def mvPartials(df: DataFrame): DataFrame =
    df.groupBy("l_returnflag", "l_linestatus")
      .agg(count(lit(1)).as("n"),
        sum(col("l_quantity").cast("decimal(12,2)")).as("sq"),
        sum(col("l_extendedprice").cast("decimal(12,2)")).as("sp"))

  /** Persisted grain-sized MV state (parquet in a [[SessionMemo.dir]]
    * per session+dir) — the artifact a production refresh keeps between
    * batches, exactly like the dedup band index ([[Dedup]]
    * `corpusBandIndex`).
    */
  private def mvBasePath(spark: SparkSession, dir: String): String =
    SessionMemo.dir(spark, s"joinops.mvBase:$dir", "graft_mv_base_") { path =>
      mvPartials(Tables.lineitem(spark, dir)
          .filter(col("l_orderkey") % MvDeltaMod =!= 0))
        .write.mode("overwrite").parquet(path)
    }

  /** Incremental materialized-view maintenance: refresh a per-(returnflag,
    * linestatus) aggregate by merging the DELTA batch's partials into the
    * persisted base partials — count/sum are algebraic, so the merged
    * state is exact and AVG derives as sum/count at read time (never
    * stored, never averaged-of-averages).
    *
    * Why this is the 100 TB shape: a naive refresh re-scans the fact
    * table every batch (corpus-sized); this refresh reads grain-sized
    * persisted state (a few hundred rows regardless of corpus size) plus
    * the delta only, so refresh cost is O(delta) — the same
    * delta-not-corpus contract as the incremental dedup/ANN probes. The
    * oracle recomputes the full aggregate from scratch; the hash gate
    * proves merge-of-partials ≡ recompute. Decimal partial sums keep the
    * merge exact across engines (and across merge ORDER — double partials
    * would drift by reduction order at scale). Deletes/updates would need
    * retractable partials (count/sum subtract cleanly; MIN/MAX do not) —
    * inserts-only here, as in the append-only ingest this models.
    */
  def mvRefresh(spark: SparkSession, dir: String): DataFrame = {
    val base = spark.read.parquet(mvBasePath(spark, dir))
    val delta = mvPartials(Tables.lineitem(spark, dir)
      .filter(col("l_orderkey") % MvDeltaMod === 0))
    base.union(delta)
      .groupBy("l_returnflag", "l_linestatus")
      .agg(sum(col("n")).as("n"), sum(col("sq")).as("sq"),
        sum(col("sp")).as("sp"))
      .select(col("l_returnflag"), col("l_linestatus"),
        col("n").cast("long").as("n"),
        round(col("sq").cast("double"), 2).as("sum_qty"),
        round(col("sp").cast("double") / col("n"), 4).as("avg_price"))
  }

  /** Key-sampling modulus for [[joinSizeEstimate]]: keep join keys whose
    * portable hash lands in 1/[[JoinEstRate]] of the space. A fixed-rate
    * Bernoulli key sample (not a row sample — BOTH sides keep the SAME
    * keys, so per-key frequency products are exact for sampled keys) is
    * the deterministic, engine-portable form of end-biased sampling.
    */
  val JoinEstRate = 16L

  /** Heavy-hitter floor for [[joinSizeEstimate]]: a join key whose
    * frequency product reaches this contributes EXACTLY instead of
    * through the sample. Without it one hot key outside the sample
    * (f_B in the millions on a skewed fact table) swings the whole
    * estimate by orders of magnitude — end-biased sampling
    * (Estan-Varghese shape: big flows exact, small flows sampled)
    * bounds the sampled mass per key, which bounds the variance.
    */
  val JoinEstHeavyMin = 256L

  /** Sampled join-cardinality estimation — the planner diagnostic a
    * 100 TB pipeline runs BEFORE committing to a join strategy:
    * |A ⋈ B| = Σ_k f_A(k)·f_B(k), split END-BIASED: keys with
    * `f_A·f_B ≥` [[JoinEstHeavyMin]] contribute exactly (there are few
    * of them by Zipf, and they are exactly the ones a sample must not
    * miss), the light tail contributes through the deterministic
    * 1/[[JoinEstRate]] KEY sample scaled back up. Key sampling is the
    * correct design — a row sample breaks the product (both sides must
    * see the same keys); hashing the KEY keeps the light-tail estimator
    * unbiased with per-key variance bounded by the heavy floor. The
    * exact side (full per-key aggregate join) rides along as the
    * acceptance harness, exactly like the KMV/CMS sketch queries:
    * production runs the estimate alone, paying two ~1/16-key
    * map-side-combined exchanges plus the heavy set instead of the
    * full join.
    *
    * All integers exact: frequency products sum through DECIMAL(38,0)
    * (HUGEINT in the oracle), the estimate is
    * `heavy_sum + light_sampled_sum·rate`, and the relative error
    * reports as `|est−exact|·10⁶ DIV exact`.
    */
  def joinSizeEstimate(spark: SparkSession, dir: String): DataFrame = {
    def freqs(df: DataFrame, key: String): DataFrame =
      df.select(col(key).as("k")).groupBy("k")
        .agg(count(lit(1)).as("f"))
    joinSizeEstimateCore(
      freqs(Tables.orders(spark, dir), "o_orderkey"),
      freqs(Tables.lineitem(spark, dir), "l_orderkey"))
  }

  /** The estimator core over two (k, f) frequency tables — exposed so
    * the spec can prove the heavy-hitter path on synthetic skew the
    * fixture's uniform keys never trigger.
    */
  private[graft] def joinSizeEstimateCore(fa: DataFrame,
      fb: DataFrame): DataFrame = {
    val keyHash: Column => Column = k =>
      graft.functions.StringFunctions.utf8_poly_id(
        k.cast("string"), Dedup.IdMod)
    val big: Column => Column = _.cast("decimal(38,0)")
    val j = fa.select(col("k"), col("f").as("f_a"))
      .join(fb.select(col("k"), col("f").as("f_b")), Seq("k"))
      .select(col("k"), (big(col("f_a")) * col("f_b")).as("prod"))
      .select(col("k"), col("prod"),
        (col("prod") >= JoinEstHeavyMin).as("heavy"),
        (keyHash(col("k")) % JoinEstRate === 0).as("in_sample"))
    j.agg(
        count(lit(1)).as("n_join_keys"),
        sum(when(col("heavy"), 1L).otherwise(0L)).as("n_heavy_keys"),
        sum(col("prod")).cast("long").as("exact_rows"),
        sum(when(!col("heavy") && col("in_sample"), 1L).otherwise(0L))
          .as("sampled_keys"),
        (sum(when(col("heavy"), col("prod")).otherwise(big(lit(0))))
          + sum(when(!col("heavy") && col("in_sample"), col("prod"))
            .otherwise(big(lit(0)))) * JoinEstRate)
          .cast("long").as("est_rows"))
      .select(col("n_join_keys"), col("n_heavy_keys"),
        col("exact_rows"), col("sampled_keys"), col("est_rows"),
        // diff·10⁶ through DECIMAL — at real corpus sizes the product
        // overflows int64 long before the row counts themselves do
        expr("CAST(CAST(abs(est_rows - exact_rows) AS DECIMAL(38,0))" +
          " * 1000000 DIV exact_rows AS BIGINT)").as("err_ppm"))
  }

  /** The diagnostics→plan loop as a driver query (`q_adaptive_join`):
    * [[graft.operators.AdaptiveJoin]] measures the dim size (and, when
    * that doesn't already settle it, the `q_skew_profile` max-key
    * statistic) and PICKS broadcast / salted / sort-merge — here over
    * lineitem ⋈ part, where part's measured byte size (row count ×
    * sampled avg row width) decides BROADCAST
    * (PlanSpec gates the chosen shape; JoinOpsSpec proves the decision
    * flips across all three regimes on synthetic inputs and that every
    * regime returns the plain-join answer). The oracle is the plain
    * join — strategy invariance IS the correctness gate.
    */
  def adaptiveJoinQuery(spark: SparkSession, dir: String): DataFrame = {
    val fact = Tables.lineitem(spark, dir)
      .select(col("l_partkey"), col("l_orderkey"), col("l_quantity"),
        col("l_extendedprice"))
    val dim = Tables.part(spark, dir).select(
      col("p_partkey").as("l_partkey"), col("p_brand"))
    val (_, joined) = graft.operators.AdaptiveJoin.adaptiveJoin(
      fact, dim, "l_partkey", Ext.SaltRowCap, col("l_orderkey"))
    joined.groupBy("p_brand")
      .agg(count(lit(1)).as("n_items"),
        round(sum(col("l_quantity").cast("decimal(12,2)")).cast("double"),
          2).as("sum_qty"),
        round(sum(col("l_extendedprice").cast("decimal(12,2)"))
          .cast("double"), 2).as("sum_price"))
  }

  /** The adaptive decision FLIP, driver-replayable (`q_adaptive_join`
    * proves one regime's answer; THIS query proves all three): the same
    * events ⋈ customer join run once per forced threshold regime —
    * budget wide open (→ broadcast), budget zero with the fixture's
    * measured hot-key frequency over the cap (→ salted), budget zero
    * with the cap wide open (→ sort-merge). The output carries the
    * CHOSEN strategy label per regime, so the oracle's hardcoded labels
    * gate the decision function itself, and the identical aggregate
    * rows gate strategy invariance — both in the driver artifact, not
    * just in a spec.
    */
  def adaptiveJoinRegimes(spark: SparkSession, dir: String): DataFrame = {
    val fact = Tables.events(spark, dir)
      .select(col("user_id"), col("value"), col("event_id"))
    val dim = Tables.customer(spark, dir)
      .select(col("c_custkey").as("user_id"), col("c_mktsegment"))
    val regimes = Seq(
      // (label, broadcastMaxBytes, rowCap): Long.MaxValue byte budget
      // always broadcasts; a zero budget forces the skew probe, whose
      // verdict the rowCap then flips
      ("small_dim", Long.MaxValue, Ext.SaltRowCap),
      ("big_dim_skewed", 0L, Ext.SaltRowCap),
      ("big_dim_uniform", 0L, Long.MaxValue))
    regimes.map { case (label, budget, cap) =>
      val (strategy, joined) = graft.operators.AdaptiveJoin.adaptiveJoin(
        fact, dim, "user_id", cap, col("event_id"), budget)
      joined.agg(
          count(lit(1)).as("n_events"),
          countDistinct(col("user_id")).as("n_users"),
          round(sum(col("value").cast("decimal(12,2)")).cast("double"), 2)
            .as("sum_value"))
        .select(lit(label).as("regime"),
          lit(strategy.label).as("strategy"),
          col("n_events"), col("n_users"), col("sum_value"))
    }.reduce(_ unionByName _)
  }

  /** The adaptive-AGGREGATION decision flip, driver-replayable
    * (`q_adaptive_agg`, VERDICT r14 #2 — `q_adaptive_join_regimes`'
    * twin on the groupBy side): the same per-event-type aggregate
    * (count + sum + TWO exact distincts: users and active days) run
    * once per forced threshold regime — cap wide open (→ Catalyst's
    * multi-distinct Expand plan, every input row replicated once per
    * aggregate family) and cap zero with the fixture's measured
    * hot-key frequency over it (→ the hand-lowered per-family shape,
    * [[graft.operators.AdaptiveAgg]]: one two-level pass per distinct
    * family, the distinct column spreading the hot key, joined back on
    * the group key). Output carries the CHOSEN strategy label per
    * regime so the oracle's hardcoded labels gate the decision
    * function, and the identical aggregate rows gate strategy
    * invariance — both in the driver artifact. PlanSpec gates the
    * physical split: the per-family plan must carry NO Expand, the
    * Expand plan must.
    */
  def adaptiveAggRegimes(spark: SparkSession, dir: String): DataFrame = {
    val fact = Tables.events(spark, dir)
      .select(col("event_type"), col("user_id"),
        to_date(col("ts")).as("day"), col("value"))
    val regimes = Seq(
      // cap wide open: no key can exceed it → Expand; cap zero: the
      // measured max-key statistic always exceeds it → per-family
      ("uniform", Long.MaxValue),
      ("hot_key", 0L))
    regimes.map { case (label, cap) =>
      val (strategy, agg) = graft.operators.AdaptiveAgg.adaptiveAgg(
        fact, "event_type", Seq("user_id", "day"), "value", cap)
      agg.select(lit(label).as("regime"),
        lit(strategy.label).as("strategy"),
        col("event_type"), col("n_rows"),
        col("n_user_id").as("n_users"), col("n_day").as("n_days"),
        col("sum_value"))
    }.reduce(_ unionByName _)
  }

  /** The adaptive-WINDOW decision flip, driver-replayable
    * (`q_adaptive_window` — the skew trilogy's third leg, same
    * forced-regime contract as `q_adaptive_join_regimes` and
    * `q_adaptive_agg`): per-event-type `row_number()` ordered by the
    * unique (ts, event_id), run once per forced cap regime — wide open
    * (→ plain per-key Window) and zero (→ the range-partitioned
    * two-phase prefix rank, [[graft.operators.AdaptiveWindow]], whose
    * hot-key sort is split across tasks). Labels hardcoded in the
    * oracle gate the decision; identical rank rows gate strategy
    * invariance. Output is every event's rank (row-count-sized — the
    * operator's OUTPUT is the ranking; the oracle hashes all of it).
    */
  def adaptiveWindowRegimes(spark: SparkSession, dir: String): DataFrame = {
    val fact = Tables.events(spark, dir)
      .select(col("event_id"), col("event_type"), col("ts"))
    val regimes = Seq(("uniform", Long.MaxValue), ("hot_key", 0L))
    regimes.map { case (label, cap) =>
      val (strategy, ranked) = graft.operators.AdaptiveWindow
        .adaptiveRank(fact, "event_type", Seq("ts", "event_id"), "rnk",
          cap)
      ranked.select(lit(label).as("regime"),
        lit(strategy.label).as("strategy"),
        col("event_id"), col("event_type"),
        col("rnk").cast("long").as("rnk"))
    }.reduce(_ unionByName _)
  }

  val queries: Map[String, Q] = Map(
    "q_adaptive_window" -> adaptiveWindowRegimes _,
    "q_bloom_join" -> bloomJoin _,
    "q_semi_anti" -> semiAnti _,
    "q_join_size_estimate" -> joinSizeEstimate _,
    "q_adaptive_join" -> adaptiveJoinQuery _,
    "q_adaptive_join_regimes" -> adaptiveJoinRegimes _,
    "q_adaptive_agg" -> adaptiveAggRegimes _,
    "q_mv_refresh" -> mvRefresh _)

  val oracles: Map[String, String] = Map(
    "q_adaptive_join" ->
      """SELECT p_brand, count(*) AS n_items,
        |  round(CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE), 2)
        |    AS sum_qty,
        |  round(CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE),
        |    2) AS sum_price
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |GROUP BY p_brand""".stripMargin,
    "q_adaptive_join_regimes" ->
      """WITH agg AS (SELECT count(*) AS n_events,
        |    count(DISTINCT user_id) AS n_users,
        |    round(CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE), 2)
        |      AS sum_value
        |  FROM events JOIN customer ON user_id = c_custkey)
        |SELECT 'small_dim' AS regime, 'broadcast' AS strategy,
        |  n_events, n_users, sum_value FROM agg
        |UNION ALL SELECT 'big_dim_skewed', 'salted',
        |  n_events, n_users, sum_value FROM agg
        |UNION ALL SELECT 'big_dim_uniform', 'sort_merge',
        |  n_events, n_users, sum_value FROM agg""".stripMargin,
    "q_adaptive_window" ->
      """WITH r AS (SELECT event_id, event_type,
        |    row_number() OVER (PARTITION BY event_type
        |      ORDER BY ts, event_id) AS rnk
        |  FROM events)
        |SELECT 'uniform' AS regime, 'plain_window' AS strategy,
        |  event_id, event_type, rnk FROM r
        |UNION ALL SELECT 'hot_key', 'range_prefix',
        |  event_id, event_type, rnk FROM r""".stripMargin,
    "q_adaptive_agg" ->
      """WITH agg AS (SELECT event_type, count(*) AS n_rows,
        |    count(DISTINCT user_id) AS n_users,
        |    count(DISTINCT CAST(ts AS DATE)) AS n_days,
        |    round(CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE), 2)
        |      AS sum_value
        |  FROM events GROUP BY event_type)
        |SELECT 'uniform' AS regime, 'expand' AS strategy,
        |  event_type, n_rows, n_users, n_days, sum_value FROM agg
        |UNION ALL SELECT 'hot_key', 'per_family',
        |  event_type, n_rows, n_users, n_days, sum_value FROM agg"""
        .stripMargin,
    "q_bloom_join" ->
      """SELECT o_orderpriority, count(*) AS n_lines,
        |  round(CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE), 2)
        |    AS sum_qty,
        |  round(CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE),
        |    2) AS sum_price
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE o_orderpriority = '1-URGENT'
        |GROUP BY o_orderpriority""".stripMargin,
    "q_semi_anti" ->
      """WITH ok AS (SELECT DISTINCT o_custkey FROM orders)
        |SELECT n_name,
        |  CAST(sum(CASE WHEN ok.o_custkey IS NOT NULL THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_active,
        |  CAST(sum(CASE WHEN ok.o_custkey IS NULL THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_inactive
        |FROM customer JOIN nation ON c_nationkey = n_nationkey
        |LEFT JOIN ok ON c_custkey = ok.o_custkey
        |GROUP BY n_name""".stripMargin,
    "q_mv_refresh" ->
      """SELECT l_returnflag, l_linestatus, count(*) AS n,
        |  round(CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE), 2)
        |    AS sum_qty,
        |  round(CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE)
        |    / count(*), 4) AS avg_price
        |FROM lineitem GROUP BY l_returnflag, l_linestatus""".stripMargin,
    "q_join_size_estimate" ->
      s"""WITH fa AS (SELECT o_orderkey AS k, CAST(count(*) AS BIGINT)
         |    AS f_a FROM orders GROUP BY o_orderkey),
         |fb AS (SELECT l_orderkey AS k, CAST(count(*) AS BIGINT) AS f_b
         |  FROM lineitem GROUP BY l_orderkey),
         |j AS (SELECT k, CAST(f_a AS HUGEINT) * f_b AS prod,
         |    CAST(f_a AS HUGEINT) * f_b >= $JoinEstHeavyMin AS heavy,
         |    ${Dedup.idUtf8Sql("CAST(k AS VARCHAR)")} % $JoinEstRate = 0
         |      AS in_sample
         |  FROM fa JOIN fb USING (k)),
         |agg AS (SELECT CAST(count(*) AS BIGINT) AS n_join_keys,
         |    CAST(sum(CASE WHEN heavy THEN 1 ELSE 0 END) AS BIGINT)
         |      AS n_heavy_keys,
         |    sum(prod) AS exact_h,
         |    CAST(sum(CASE WHEN NOT heavy AND in_sample THEN 1 ELSE 0
         |      END) AS BIGINT) AS sampled_keys,
         |    sum(CASE WHEN heavy THEN prod ELSE 0 END)
         |      + sum(CASE WHEN NOT heavy AND in_sample THEN prod
         |          ELSE 0 END) * $JoinEstRate AS est_h
         |  FROM j)
         |SELECT n_join_keys, n_heavy_keys,
         |  CAST(exact_h AS BIGINT) AS exact_rows, sampled_keys,
         |  CAST(est_h AS BIGINT) AS est_rows,
         |  CAST(abs(est_h - exact_h) * 1000000 // exact_h AS BIGINT)
         |    AS err_ppm
         |FROM agg""".stripMargin)
}
