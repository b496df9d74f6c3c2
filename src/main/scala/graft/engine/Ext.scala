package graft.engine

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Beyond-reference extensions (SURVEY.md §2.5 note, §7.3 "ext" rows):
  * ordering/top-k, window ranking, batch event-time bucketing, JSON
  * extraction, and set operations. The reference never needed these
  * (`display(5)` was its only LIMIT), but "same capabilities" includes
  * presenting ordered results and the driver fixtures carry the event/JSON
  * shapes.
  *
  * Money-column output contract: aggregates over money compute EXACTLY
  * (decimal sums), and the query boundary renders them as
  * `round(cast(double), 2)` — a deliberate API decision, not only a
  * verification convenience. These queries are analytic summaries (top-k,
  * windows, dashboards), where a currency-grain double is the natural
  * return type and is stable across engines; a consumer needing exact
  * decimals (billing-grade pipelines) should take the pre-render
  * aggregate, which every operator here computes first — the cast is
  * always the LAST projection, never inside the arithmetic.
  */
object Ext {
  type Q = (SparkSession, String) => DataFrame

  /** Sort + limit with a unique tie-break key (SURVEY §7.5 risk 6: without
    * it the cut at row N is nondeterministic across engines). Spark executes
    * this as TakeOrderedAndProject — per-partition top-N then a single
    * driver merge; no global sort at any scale.
    */
  def topK(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      .limit(100)
      .select("o_orderkey", "o_custkey", "o_totalprice")

  /** Ranking window: top order per customer (row_number over a
    * deterministic order). One hash partition by o_custkey; skew-safe
    * because customer keys are near-uniform here — for skewed keys at scale,
    * pre-filter with a groupBy max before ranking.
    */
  def windowRank(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    Tables.orders(spark, dir)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select("o_custkey", "o_orderkey", "o_totalprice")
  }

  /** Batch event-time tumbling window (`window($"ts","1 hour")` — SURVEY
    * §1 note / §2.7): hour buckets × event_type. Decimal sums keep the
    * money column exact internally; every final money output is rendered as
    * `round(CAST(exact AS DOUBLE), scale)` — exact decimals render
    * differently across engines (`Decimal('190076.00')` vs `190076.0`),
    * while the double of the same exact value is bit-identical everywhere.
    */
  def eventWindow(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(
        count(lit(1)).as("n"),
        round(sum(col("value").cast("decimal(12,2)")).cast("double"), 2)
          .as("sum_value"),
        round(sum(col("value").cast("decimal(12,2)")).cast("double") /
          count(lit(1)), 6).as("avg_value"))
      .select(col("window.start").as("window_start"), col("event_type"),
        col("n"), col("sum_value"), col("avg_value"))

  /** JSON extraction over the events.props payload (driver fixture;
    * get_json_object is codegen'd — no UDF in the hot path).
    */
  def jsonExtract(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .withColumn("k", get_json_object(col("props"), "$.k").cast("long"))
      .groupBy("event_type")
      .agg(
        count(col("k")).as("n_k"),
        min(col("k")).as("min_k"),
        max(col("k")).as("max_k"),
        sum(col("k")).as("sum_k"))

  /** AS-OF join as a union-sort merge-asof (no join node at all): each
    * purchase event attributed to the user's latest click at-or-before it.
    * Clicks and purchases are unioned into one per-user event stream,
    * ordered so every click precedes the purchases it may serve (ts asc,
    * clicks-before-purchases on ties, click_id desc so the LAST same-ts
    * click seen is the smallest id — the deterministic winner), and
    * `last(click, ignoreNulls)` over rows-unbounded-preceding carries the
    * attribution forward. Linear in |events| with ONE shuffle on user_id —
    * the join+rank formulation materializes every (purchase × prior-click)
    * pair per user first, which goes quadratic on power users (10k clicks ×
    * 100 purchases = 1M intermediate rows) before the rank-1 filter throws
    * 99.99% of it away.
    */
  def asofJoin(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
    val clicks = e.filter(col("event_type") === "click")
      .select(col("user_id"), col("ts"), lit(0).as("kind"),
        col("event_id"),
        struct(col("ts").as("click_ts"), col("event_id").as("click_id"))
          .as("click"))
    val purchases = e.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts"), lit(1).as("kind"),
        col("event_id"), lit(null).cast(clicks.schema("click").dataType)
          .as("click"))
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("kind"), col("event_id").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    clicks.union(purchases)
      .withColumn("attr", last(col("click"), ignoreNulls = true).over(w))
      .filter(col("kind") === 1)
      .select(col("event_id").as("purchase_id"), col("user_id"),
        col("ts").as("purchase_ts"),
        col("attr.click_id").as("click_id"),
        col("attr.click_ts").as("click_ts"),
        (unix_micros(col("ts")) - unix_micros(col("attr.click_ts")))
          .as("gap_us"))
  }

  /** Range (band) join: events of the same user within the hour AFTER each
    * purchase — the conversion-window pattern. Aggregated to one row per
    * purchase so the output is key-unique.
    *
    * The equi-key is (user_id, hour_bucket), NOT user_id alone: a band
    * whose width matches the bucket granularity means every follow event
    * lives in exactly one bucket and every purchase's (ts, ts+1h] window
    * spans at most two, so each purchase probes its own bucket and the
    * next (a 2-row explode) and the band predicate stays as the fine
    * filter inside the join. A user-only equi-key puts a power user's
    * k_purchases × k_events candidate pairs in ONE sort-merge key group
    * before the band filter runs — the same quadratic-per-key failure
    * [[asofJoin]]'s union-sort rewrite eliminated; here the bucket bounds
    * each group to one user-hour. An event matches at most one of a
    * purchase's two probe buckets (the buckets are distinct), so no
    * dedup is needed and the LEFT join + count(non-null) semantics are
    * unchanged. Both sides descend from the SAME events scan, so they
    * carry explicit aliases — without them the equi-key predicate is
    * ambiguous (Spark's "trivially true equals predicate" trap).
    */
  def rangeJoin(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
    val hourUs = 3600L * 1000000L
    def bucket(ts: Column): Column = floor(unix_micros(ts) / hourUs)
    val purchases = e.filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id"),
        col("ts").as("purchase_ts"))
      .withColumn("probe_bucket",
        explode(array(bucket(col("purchase_ts")),
          bucket(col("purchase_ts")) + 1)))
    val follow = e.select(col("event_id").as("f_id"),
      col("user_id"), col("ts").as("f_ts"),
      col("value").as("f_value"))
      .withColumn("f_bucket", bucket(col("f_ts")))
    purchases.as("p").join(follow.as("f"),
        col("p.user_id") === col("f.user_id") &&
          col("p.probe_bucket") === col("f.f_bucket") &&
          col("f.f_ts") > col("p.purchase_ts") &&
          col("f.f_ts") <= col("p.purchase_ts") + expr("INTERVAL 1 HOUR"),
        "left")
      .groupBy(col("purchase_id"), col("purchase_ts"))
      .agg(
        count(col("f_id")).as("n_follow"),
        round(sum(col("f_value").cast("decimal(12,2)")).cast("double"), 2)
          .as("follow_value"))
  }

  /** Snapshot upsert (merge) without a table format: changes full-outer-
    * joined onto the snapshot, change wins per column — the batch MERGE
    * pattern for engines without Delta/Iceberg ACID tables. Changes here
    * are the open orders re-priced 10% up; everything else passes through.
    * At scale both sides shuffle once on the key (or the smaller changes
    * side broadcasts).
    */
  def upsert(spark: SparkSession, dir: String): DataFrame = {
    val snapshot = Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_orderstatus"),
        col("o_totalprice").cast("decimal(18,2)").as("o_totalprice"))
    val changes = snapshot.filter(col("o_orderstatus") === "O")
      .select(col("o_orderkey").as("c_orderkey"),
        lit("U").as("c_status"),
        (col("o_totalprice") * lit(1.1).cast("decimal(3,1)"))
          .as("c_totalprice"))
    snapshot.join(changes, col("o_orderkey") === col("c_orderkey"),
        "full_outer")
      .select(
        coalesce(col("o_orderkey"), col("c_orderkey")).as("o_orderkey"),
        coalesce(col("c_status"), col("o_orderstatus")).as("o_orderstatus"),
        // exact decimal merge arithmetic, double-rendered at the final
        // scale (3: two price decimals × one 1.1 decimal) — see
        // [[eventWindow]] on why no bare decimal leaves a query
        round(coalesce(col("c_totalprice"), col("o_totalprice"))
          .cast("double"), 3).as("o_totalprice"))
  }

  /** Hot-key profiler: per-key cardinality stats that tell you BEFORE a
    * join whether salting/AQE-skew handling is needed — max/avg key-count
    * ratio and the heaviest keys. All integer arithmetic.
    */
  def skewProfile(spark: SparkSession, dir: String): DataFrame = {
    val counts = Tables.lineitem(spark, dir)
      .groupBy("l_suppkey").agg(count(lit(1)).as("n"))
    counts.agg(
      count(lit(1)).as("n_keys"),
      sum(col("n")).as("n_rows"),
      max(col("n")).as("max_key_rows"),
      round(max(col("n")).cast("double") * count(lit(1)) / sum(col("n")), 6)
        .as("skew_ratio"))
  }

  /** Skew-salted fact⋈dim join driven to the plain-join answer: the
    * [[graft.operators.SkewJoin]] utility as a driver-visible query.
    * The salt fan-out is PROFILE-DRIVEN (round-11): the fact side's
    * measured per-key frequency sets `fan = ceil(freq / SaltRowCap)` per
    * key — the [[skewProfile]] statistic wired into the join itself —
    * so a hot user spreads over exactly enough reducers to bound each at
    * [[SaltRowCap]] rows while cold users pay nothing. Salting is
    * result-invariant by construction, so the oracle is simply the
    * UNSALTED join — the correctness gate IS the invariance proof. Money
    * sums follow the exact-decimal-then-render rule.
    */
  val SaltRowCap = 32L

  def saltedJoinQuery(spark: SparkSession, dir: String): DataFrame = {
    val fact = Tables.events(spark, dir)
      .select(col("user_id"), col("event_type"), col("value"),
        col("event_id"))
    val dim = Tables.customer(spark, dir)
      .select(col("c_custkey").as("user_id"), col("c_mktsegment"))
    graft.operators.SkewJoin
      .profiledSaltedJoin(fact, dim, "user_id", SaltRowCap, col("event_id"))
      .groupBy("c_mktsegment", "event_type")
      .agg(
        count(lit(1)).as("n_events"),
        countDistinct(col("user_id")).as("n_users"),
        round(sum(col("value").cast("decimal(12,2)")).cast("double"), 2)
          .as("sum_value"))
  }

  /** Built-in gap session windows (`session_window`, the declarative twin
    * of [[sessionize]] and of the stateful
    * [[graft.streaming.SessionState]]): window.end is last-event + gap by
    * Spark's definition, mirrored in the oracle as max(ts) + INTERVAL.
    */
  def sessionWindow(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        round(sum(col("value").cast("decimal(12,2)")).cast("double"), 2)
          .as("sum_value"))
      .select(col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end_gap"),
        col("user_id"), col("n_events"), col("sum_value"))

  /** Sliding event-time windows (2-hour window, 1-hour slide): each event
    * lands in exactly two windows; the oracle enumerates both aligned
    * window starts per event and re-aggregates.
    */
  def slidingWindow(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(window(col("ts"), "2 hours", "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        round(sum(col("value").cast("decimal(12,2)")).cast("double"), 2)
          .as("sum_value"))
      .select(col("window.start").as("window_start"), col("event_type"),
        col("n"), col("sum_value"))

  /** Approximate aggregates — the 100 TB dashboard variants: HyperLogLog++
    * distinct counts and t-digest-style percentiles next to their exact
    * twins. Engine-specific sketches have no cross-engine oracle (driver
    * records a rows-only check); the ScalaTest asserts relative error
    * bounds against the exact values instead. The exact columns are NOT
    * exempt: [[approxExact]] re-derives them as their own fully
    * hash-gated query, so only the sketches ride the rows-only check.
    */
  def approxStats(spark: SparkSession, dir: String): DataFrame = {
    // Do NOT put countDistinct in the same agg as the sketches: the
    // distinct-aggregate rewrite expands partials to (group, key) grain,
    // so every heavy sketch buffer (the accuracy-10000 percentile
    // summary) would be maintained once PER DISTINCT ORDER instead of
    // once per group — measured 22 s vs 6 s at sf0.1, and the gap grows
    // with key cardinality. The exact count runs as its own two-level
    // aggregate (no Expand at all) and joins back on the 3-row group
    // dimension.
    val li = Tables.lineitem(spark, dir)
    val sketches = li.groupBy("l_returnflag")
      .agg(
        approx_count_distinct(col("l_orderkey"), 0.02).as("approx_orders"),
        round(expr("approx_percentile(l_extendedprice, 0.5, 10000)"), 4)
          .as("p50_approx"),
        count(lit(1)).as("n"))
    val exact = li.groupBy("l_returnflag", "l_orderkey").count()
      .groupBy("l_returnflag").agg(count(lit(1)).as("exact_orders"))
    sketches.join(exact, Seq("l_returnflag"))
      .select(col("l_returnflag"), col("approx_orders"),
        col("exact_orders"), col("p50_approx"), col("n"))
  }

  /** The exact half of [[approxStats]], split out as an oracle-checked
    * query: the sketch columns are legitimately engine-specific, but
    * exact distinct counts and row counts must not hide behind that
    * exemption — this is the hash gate for them.
    */
  def approxExact(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .groupBy("l_returnflag")
      .agg(
        countDistinct(col("l_orderkey")).as("exact_orders"),
        count(lit(1)).as("n"))

  /** Sketch width for [[kmvDistinct]] — 64 order statistics per group
    * (relative error ~1/√(k−2) ≈ 13%; production widens k, the state
    * stays k longs per group either way).
    */
  val KmvK = 64

  /** KMV distinct sketch vs exact — per-source vocabulary size through
    * [[graft.functions.KmvSketch]], the ORACLE-CHECKABLE approximate
    * distinct counter next to [[approxStats]]' engine-native HLL (whose
    * sketch column is exempt from the hash gate precisely because no
    * other engine can replay it; KMV closes that gap — the k smallest
    * distinct values of the portable [[Dedup.IdMod]] poly hash are an
    * order statistic ANY engine derives identically, so estimate and
    * exact BOTH hash-gate). Estimator: buffer short of k ⇒ the buffer
    * size IS the distinct-hash count; full ⇒ (k−1)·M / h₍ₖ₎, one
    * mirrored double division. The estimate counts distinct HASHES —
    * at 31-bit M a ~10⁶ vocabulary adds ~0.02% collision shrinkage;
    * production widens the hash to 64 bits with the same structure.
    *
    * 100 TB shape: the sketch side is ONE pass with map-side partial
    * buffers (≤ k longs per group cross the wire — network
    * O(groups·k), never O(distinct)); the exact side is deliberately
    * computed too (this query is the sketch's acceptance harness —
    * the two-phase distinct exchange it pays is the cost the sketch
    * exists to avoid), and the final join is 20 group rows a side.
    */
  def kmvDistinct(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val hashed = Tables.documents(spark, dir)
      .select(col("source"),
        explode(TextOps.segmentTokens(col("text"))).as("term"))
      .select(col("source"), col("term"),
        graft.functions.StringFunctions
          .utf8_poly_id(col("term"), Dedup.IdMod).as("hv"))
    val exact = hashed.groupBy("source")
      .agg(countDistinct(col("term")).as("n_distinct"))
    val kmv = new graft.functions.KmvSketch(KmvK).toColumn
    val sketch = hashed.select(col("source"), col("hv"))
      .as[(String, Long)].groupByKey(_._1).mapValues(_._2)
      .agg(kmv.name("sketch")).toDF("source", "sketch")
    exact.join(sketch, "source")
      .select(col("source"), col("n_distinct"),
        size(col("sketch")).cast("long").as("n_sketch"),
        when(size(col("sketch")) < KmvK,
          size(col("sketch")).cast("double"))
          .otherwise(round(
            lit((KmvK - 1).toDouble * Dedup.IdMod.toDouble) /
              element_at(col("sketch"), KmvK).cast("double"), 6))
          .as("kmv_est"))
  }

  /** Cross-source vocabulary Jaccard from KMV sketch ALGEBRA — the
    * second half of the [[kmvDistinct]] story: the same ≤k-long buffers
    * that estimate per-group cardinality also estimate PAIRWISE set
    * similarity with no second pass over the data. Estimator
    * (Bar-Yossef et al. 2002 / Beyer et al. 2007): with X = the k
    * smallest distinct hashes of A∪B (computable from the two buffers
    * alone — array_union/sort/slice, all codegen'd builtins),
    * J(A,B) ≈ |X ∩ K(A) ∩ K(B)| / |X|. Both the estimate and the exact
    * Jaccard beside it (the acceptance harness) hash-gate against
    * DuckDB, because the buffers are order statistics of the portable
    * poly hash.
    *
    * 100 TB shape: the exact side's vocabulary self-join — the thing a
    * corpus-pair overlap audit naively runs — is vocab-sized PER PAIR
    * and grows quadratically in the number of corpora; the sketch side
    * touches the corpus ONCE (the kmvDistinct pass), after which every
    * pair costs O(k) array math on a sources²-row frame. 1000 corpora ⇒
    * ~500k pair rows of 64-long arrays, kilobytes each — driver-free,
    * broadcast-joined, constant in corpus bytes.
    */
  def kmvJaccard(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val terms = Tables.documents(spark, dir)
      .select(col("source"),
        explode(TextOps.segmentTokens(col("text"))).as("term"))
    val vocab = terms.distinct()
    val counts = vocab.groupBy("source").agg(count(lit(1)).as("nv"))
    val kmv = new graft.functions.KmvSketch(KmvK).toColumn
    val sk = terms
      .select(col("source"),
        graft.functions.StringFunctions
          .utf8_poly_id(col("term"), Dedup.IdMod).as("hv"))
      .as[(String, Long)].groupByKey(_._1).mapValues(_._2)
      .agg(kmv.name("sketch")).toDF("source", "sketch")
    // exact pair intersection: the vocab-sized join the sketch replaces
    val inter = vocab.as("a")
      .join(vocab.as("b"),
        col("a.term") === col("b.term") &&
          col("a.source") < col("b.source"))
      .groupBy(col("a.source").as("source_a"),
        col("b.source").as("source_b"))
      .agg(count(lit(1)).as("n_inter"))
    // all source pairs (sources² is dimension-sized; BNLJ on 1-row-per-
    // source aggregates, never a corpus-sized cartesian)
    val pairs = counts.as("ca")
      .join(counts.as("cb"), col("ca.source") < col("cb.source"))
      .select(col("ca.source").as("source_a"),
        col("cb.source").as("source_b"),
        col("ca.nv").as("na"), col("cb.nv").as("nb"))
    val combined =
      slice(array_sort(array_union(col("sk_a"), col("sk_b"))), 1, KmvK)
    val bothMin = array_intersect(combined,
      array_intersect(col("sk_a"), col("sk_b")))
    pairs
      .join(inter, Seq("source_a", "source_b"), "left")
      .na.fill(0L, Seq("n_inter"))
      .join(sk.select(col("source").as("source_a"),
        col("sketch").as("sk_a")), Seq("source_a"))
      .join(sk.select(col("source").as("source_b"),
        col("sketch").as("sk_b")), Seq("source_b"))
      .select(col("source_a"), col("source_b"), col("n_inter"),
        (col("na") + col("nb") - col("n_inter")).as("n_union"),
        round(col("n_inter").cast("double") /
          (col("na") + col("nb") - col("n_inter")).cast("double"), 6)
          .as("jaccard_exact"),
        round(size(bothMin).cast("double") /
          size(combined).cast("double"), 6).as("jaccard_kmv"))
  }

  /** Sample size for [[kmvQuantiles]]' hash reservoir: 256 (hash, value)
    * pairs per group — nearest-rank error concentrates within
    * ~±√(q(1−q)/k) ≈ ±3 rank-percent at the median; production widens
    * k, the cross-shuffle state stays k pairs per group either way.
    */
  val ReservoirK = 256

  /** The quantile ranks probed: q = num/den held as EXACT RATIONALS so
    * the nearest-rank index `⌈q·n⌉ = (num·n + den − 1) DIV den` is pure
    * integer arithmetic — no `ceil(0.9 · n)` double boundary can flip
    * between engines.
    */
  val QuantRanks: Seq[(String, Int, Int)] =
    Seq(("p25", 1, 4), ("p50", 1, 2), ("p75", 3, 4), ("p90", 9, 10))

  /** Oracle-checkable quantile sketch vs exact — the percentile
    * counterpart of [[kmvDistinct]], retiring the last non-ML rows-only
    * exemption (`q_approx_stats` keeps the engine-native
    * `approx_percentile` as documented engine-specific; THIS query's
    * estimates hash-gate). Per (l_returnflag) group, the
    * [[graft.functions.HashReservoirSketch]] keeps the k smallest
    * distinct (hash, cents) pairs under the portable poly hash of the
    * UNIQUE row key (l_orderkey:l_linenumber — hashing row identity,
    * not the value, preserves occurrence multiplicity), i.e. a
    * deterministic uniform sample any engine re-derives bit-for-bit;
    * the quantile estimate is the nearest-rank element of the sorted
    * sample values. Values are integer cents via the mirrored
    * `floor(price·100 + 0.5)` (one double formula, identical in IEEE on
    * both engines), and every rank index is integer ([[QuantRanks]]) —
    * the whole output surface is BIGINT, no float gate anywhere.
    *
    * 100 TB shape: the sketch side is ONE partial aggregation — ≤ k
    * (hash, value) pairs per group cross the wire, never O(rows). The
    * exact nearest-rank side (the acceptance harness, same contract as
    * kmvDistinct's exact countDistinct) pays one value-grouped count,
    * a per-flag cumulative window (the documented skew surface: group
    * count is the partition count; the production escape at extreme
    * group skew is sampled rank thresholds), and a broadcast totals
    * join-back.
    */
  def kmvQuantiles(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val rows = Tables.lineitem(spark, dir).select(
      col("l_returnflag").as("flag"),
      expr("CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)")
        .as("cents"),
      graft.functions.StringFunctions.utf8_poly_id(
        concat(col("l_orderkey").cast("string"), lit(":"),
          col("l_linenumber").cast("string")), Dedup.IdMod).as("hv"))
    val res = new graft.functions.HashReservoirSketch(ReservoirK).toColumn
    val sk = rows.select(col("flag"), col("hv"), col("cents"))
      .as[(String, Long, Long)].groupByKey(_._1)
      .mapValues(t => (t._2, t._3))
      .agg(res.name("sketch")).toDF("flag", "sketch")
    val est = sk
      .select(col("flag"), size(col("sketch")).as("m"),
        array_sort(expr("transform(sketch, x -> x._2)")).as("vals"))
      .select(col("flag") +: col("m").cast("long").as("m_sample") +:
        QuantRanks.map { case (nm, a, b) =>
          element_at(col("vals"),
            expr(s"CAST((m * $a + ${b - 1}) DIV $b AS INT)"))
            .as(s"${nm}_est")
        }: _*)
    val counts = rows.groupBy("flag", "cents")
      .agg(count(lit(1)).as("cnt"))
    val totals = counts.groupBy("flag").agg(sum("cnt").as("n"))
    val cum = counts
      .withColumn("cum", sum("cnt").over(
        Window.partitionBy("flag").orderBy("cents")))
      .join(broadcast(totals), Seq("flag"))
    val exact = cum.groupBy("flag").agg(
      max(col("n")).as("n"),
      QuantRanks.map { case (nm, a, b) =>
        min(when(
          col("cum") >= expr(s"CAST((n * $a + ${b - 1}) DIV $b AS BIGINT)"),
          col("cents"))).as(s"${nm}_exact")
      }: _*)
    exact.join(est, Seq("flag"))
      .select(col("flag") +: col("n") +: col("m_sample") +:
        QuantRanks.flatMap { case (nm, _, _) =>
          Seq(col(s"${nm}_exact"), col(s"${nm}_est"))
        }: _*)
  }

  /** Columns profiled by [[tableStats]] and two planted rows carrying
    * NULLs (the fixture's columns are fully populated, so the null
    * accounting needs them to prove anything).
    */
  private val StatCols = Seq("doc_id", "lang", "source", "n_chars")
  private[graft] val StatsPlantedRows
      : PlantedRows[(Long, Option[String], Option[String], Option[Long])] =
    PlantedRows(StatCols: _*)(
      (994001L, None, None, None),
      (994002L, None, Some("srcX"), None))

  /** ANALYZE-style per-column table statistics — the catalog profile a
    * cost-based optimizer (or a data-quality dashboard) reads: row
    * count, null count, EXACT distinct count, the KMV sketch estimate
    * beside it (the bounded-state column any 100 TB profile actually
    * ships — ≤k longs per column cross the wire, vs the exact side's
    * per-column distinct exchange, priced here as the acceptance
    * harness), and the min/max zone-map bounds over the RENDERED string
    * domain (binary collation in both engines, so the bounds
    * hash-gate; a typed zone map per column family is the production
    * variant). ONE corpus pass: the column stack explodes map-side
    * (rows×4, the A10 pivot shape), then a single cname aggregation —
    * no per-column scans, no Expand (single distinct aggregate).
    */
  def tableStats(spark: SparkSession, dir: String): DataFrame = {
    val src = StatsPlantedRows.onto(Tables.documents(spark, dir)
      .withColumn("n_chars", col("n_chars").cast("long")))
    val stacked = src.select(explode(array(StatCols.map(c =>
        struct(lit(c).as("cname"), col(c).cast("string").as("v"))): _*))
        .as("s"))
      .select(col("s.cname").as("cname"), col("s.v").as("v"))
      // affine post-mix mod the PRIME IdMod: raw poly order statistics
      // collapse on sequential-id domains (consecutive rendered ids
      // hash to consecutive values, so the k smallest cover a sliver of
      // the range and the estimator explodes ~10^5x — measured on
      // doc_id); the mix maps any arithmetic progression to a
      // near-equidistributed one (step coprime to p), restoring the
      // uniformity the KMV estimator needs. Engine-portable integer
      // arithmetic, mirrored verbatim in the oracle.
      .withColumn("hv", when(col("v").isNotNull,
        (graft.functions.StringFunctions.utf8_poly_id(col("v"),
          Dedup.IdMod) * lit(1103515245L) + lit(12345L)) % Dedup.IdMod))
    val kmv = udaf(new graft.functions.KmvSketchSql(KmvK),
      org.apache.spark.sql.Encoders.LONG)
    stacked.groupBy("cname")
      .agg(count(lit(1)).as("n_rows"),
        sum(when(col("v").isNull, 1L).otherwise(0L)).as("n_nulls"),
        countDistinct(col("v")).as("ndv_exact"),
        kmv(col("hv")).as("sketch"),
        min(col("v")).as("min_str"), max(col("v")).as("max_str"))
      .select(col("cname"), col("n_rows"), col("n_nulls"),
        col("ndv_exact"),
        size(col("sketch")).cast("long").as("n_sketch"),
        when(size(col("sketch")) < KmvK,
          size(col("sketch")).cast("double"))
          .otherwise(round(
            lit((KmvK - 1).toDouble * Dedup.IdMod.toDouble) /
              element_at(col("sketch"), KmvK).cast("double"), 6))
          .as("ndv_kmv"),
        col("min_str"), col("max_str"))
  }

  /** Set operations (union / intersect / except) over two key sets:
    * customers that ordered vs customers that produced events. Each count
    * is a 1-row aggregate; the three are unioned with a tag column.
    */
  def setOps(spark: SparkSession, dir: String): DataFrame = {
    val a = Tables.orders(spark, dir).select(col("o_custkey").as("k"))
    val b = Tables.events(spark, dir).select(col("user_id").as("k"))
    def tag(name: String, df: DataFrame): DataFrame =
      df.distinct().agg(count(lit(1)).as("n")).select(lit(name).as("op"),
        col("n"))
    tag("union", a.union(b))
      .union(tag("intersect", a.intersect(b)))
      .union(tag("except", a.except(b)))
  }

  /** Rollup (grouping-set hierarchy): per (returnflag, linestatus) with
    * subtotals and a grand total — absent from the reference (SURVEY §2.5
    * note) but table stakes for reporting engines. Decimal sums keep the
    * subtotal arithmetic exact at every level.
    */
  def rollup(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .rollup("l_returnflag", "l_linestatus")
      .agg(
        count(lit(1)).as("n"),
        round(sum(col("l_quantity").cast("decimal(12,2)")).cast("double"), 2)
          .as("sum_qty"))

  /** Cube (full grouping-set lattice): [[rollup]]'s hierarchy plus the
    * cross marginals — per-linestatus totals regardless of returnflag,
    * which the rollup cannot express. Spark plans both through one Expand
    * + one aggregation (each input row fans out to its grouping sets
    * map-side, partials combine before the shuffle), so the lattice costs
    * one exchange at any scale — the reason CUBE beats four hand-written
    * unions at 100 TB.
    */
  def cube(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .cube("l_returnflag", "l_linestatus")
      .agg(
        count(lit(1)).as("n"),
        round(sum(col("l_quantity").cast("decimal(12,2)")).cast("double"), 2)
          .as("sum_qty"))

  /** Histogram bin width for [[histogram]] (chars per bin). */
  val HistBinChars = 50

  /** Fixed-width histogram of document lengths — the distribution report
    * every corpus refresh publishes. One map-side-combined aggregation on
    * the bin key: the shuffle carries bin-count-sized partials (≤ a few
    * hundred bins regardless of corpus size), the canonical
    * aggregate-then-move shape. Integer `DIV` binning is exact on both
    * engines; an equi-DEPTH variant is [[quantileBins]].
    */
  def histogram(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .filter(col("n_chars").isNotNull)
      .groupBy(expr(s"n_chars DIV $HistBinChars").as("bin"))
      .agg(count(lit(1)).as("n"),
        min(col("n_chars")).as("min_chars"),
        max(col("n_chars")).as("max_chars"))
      .select((col("bin") * HistBinChars).as("bin_lo"), col("n"),
        col("min_chars"), col("max_chars"))

  /** Pearson correlation per group from EXACT algebraic partials: n, Σx,
    * Σy, Σxy, Σx², Σy² accumulate as decimals (order-insensitive — the
    * reduction-order float drift that makes naive `corr()` unreproducible
    * across engines and cluster layouts is designed out), then r derives
    * in ONE fixed double expression both engines evaluate identically
    * (IEEE ops on identical inputs), rounded to 6. The partials are the
    * same mergeable shape as [[graft.engine.JoinOps.mvRefresh]]'s state,
    * so an incremental refresh of a correlation monitor follows the same
    * delta-merge plan.
    */
  def correlation(spark: SparkSession, dir: String): DataFrame = {
    val x = col("l_quantity").cast("decimal(12,2)")
    val y = col("l_extendedprice").cast("decimal(12,2)")
    Tables.lineitem(spark, dir)
      .groupBy("l_returnflag")
      .agg(count(lit(1)).as("n"),
        sum(x).as("sx"), sum(y).as("sy"),
        sum(x * y).as("sxy"), sum(x * x).as("sxx"), sum(y * y).as("syy"))
      .select(col("l_returnflag"), col("n"),
        expr("round((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)" +
          " - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))" +
          " / sqrt((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)" +
          " - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))" +
          " * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)" +
          " - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))), 6)")
          .as("pearson_r"))
  }

  /** Smoothing pseudo-count for [[targetEncode]]. */
  val TeAlpha = 10

  /** Smoothed target encoding: per-category mean of a binary target,
    * shrunk toward the global prior by [[TeAlpha]] pseudo-observations —
    * the leakage-resistant categorical encoding feature pipelines use
    * where one-hot explodes ([[Reshape]] pivot dummies) and raw means
    * overfit rare categories. Category = customer market segment; target
    * = "customer placed ≥1 order" (a LEFT SEMI existence flag, the
    * [[graft.engine.JoinOps.semiAnti]] shape feeding a feature instead
    * of an audit).
    *
    * Exact everywhere it matters: counts are integers, the global prior
    * rides a 1-row broadcast (collect-scalar kept in-plan), and the one
    * double expression evaluates identically on both engines, rounded
    * to 6.
    */
  def targetEncode(spark: SparkSession, dir: String): DataFrame = {
    val pos = Tables.customer(spark, dir)
      .join(Tables.orders(spark, dir).select(col("o_custkey")),
        col("c_custkey") === col("o_custkey"), "left_semi")
      .groupBy("c_mktsegment").agg(count(lit(1)).as("n_pos"))
    val cat = Tables.customer(spark, dir)
      .groupBy("c_mktsegment").agg(count(lit(1)).as("n"))
      .join(pos, Seq("c_mktsegment"), "left")
      .na.fill(0L, Seq("n_pos"))
    val glob = cat.agg(sum(col("n")).cast("long").as("g_n"),
      sum(col("n_pos")).cast("long").as("g_pos"))
    cat.crossJoin(broadcast(glob))
      .select(col("c_mktsegment"), col("n"), col("n_pos"),
        expr(s"round((n_pos + $TeAlpha * (CAST(g_pos AS DOUBLE) / g_n))" +
          s" / (n + $TeAlpha), 6)").as("enc"))
  }

  /** Per-user inter-arrival gaps via lag — the explicit lag/lead coverage
    * ([[windowRunning]] covers frames, [[windowRank]] covers ranking) and
    * the feature a behavioral pipeline derives first (time-since-last-
    * event). Integer microsecond arithmetic; one exchange on user_id,
    * ordering inside the window only — no global sort. Ties on (ts,
    * event_id) are broken by the unique event_id so lag is total on both
    * engines.
    */
  def windowLag(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id")
      .orderBy(col("tsu"), col("event_id"))
    Tables.events(spark, dir)
      .select(col("user_id"), col("event_id"),
        unix_micros(col("ts")).as("tsu"))
      .withColumn("gap_us", col("tsu") - lag(col("tsu"), 1).over(w))
      .select("user_id", "event_id", "gap_us")
  }

  /** Conversion window for [[funnel]] (micros): the purchase must land
    * within this span of the first view for the journey to count. 72 h
    * against the fixture's 30-day event log (per-user first-view →
    * purchase spans run 4–229 h, so the window genuinely splits the
    * population instead of passing or failing everyone).
    */
  val FunnelWindowUs: Long = 72L * 3600 * 1000000

  /** Ordered-funnel analysis (view → click → purchase) with a conversion
    * window — the behavioral query every event pipeline runs: how far
    * does each user get, and how many convert within the window of
    * first touch? Semantics are first-touch greedy (first view, then first
    * click after it, then first purchase after that), a total
    * data-defined rule both engines replay exactly on integer micros.
    *
    * Shape: three filtered per-user `min` aggregations, each conditioned
    * on the previous step's timestamp — funnel-as-relational-algebra
    * instead of a per-user UDF state machine, so every step is a
    * map-side-combined aggregate and the step tables (user-sized, tiny
    * vs the event log) broadcast back. At 100 TB the event scan happens
    * THREE times but each pass prunes to one event type at the scan
    * (pushed filter) — cheaper than shuffling whole per-user event
    * arrays into one task per user, and AQE shares the user_id
    * partitioning across the step joins.
    */
  def funnel(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
      .select(col("user_id"), col("event_type"),
        unix_micros(col("ts")).as("tsu"))
    val v = e.filter(col("event_type") === "view")
      .groupBy("user_id").agg(min(col("tsu")).as("v_us"))
    val c = e.join(broadcast(v), "user_id")
      .filter(col("event_type") === "click" && col("tsu") > col("v_us"))
      .groupBy("user_id").agg(min(col("tsu")).as("c_us"))
    val p = e.join(broadcast(c), "user_id")
      .filter(col("event_type") === "purchase" && col("tsu") > col("c_us"))
      .groupBy("user_id").agg(min(col("tsu")).as("p_us"))
    val users = e.select("user_id").distinct()
    users.join(broadcast(v), Seq("user_id"), "left")
      .join(broadcast(c), Seq("user_id"), "left")
      .join(broadcast(p), Seq("user_id"), "left")
      .select(col("user_id"), col("v_us"), col("c_us"), col("p_us"),
        (when(col("p_us").isNotNull, 3)
          .when(col("c_us").isNotNull, 2)
          .when(col("v_us").isNotNull, 1)
          .otherwise(0)).cast("int").as("step"),
        when(col("p_us").isNotNull &&
            col("p_us") - col("v_us") <= FunnelWindowUs, 1)
          .otherwise(0).cast("int").as("converted"))
  }

  /** Exact interpolated percentiles per group (median + p90). */
  def percentile(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .groupBy("l_returnflag")
      .agg(
        round(expr("percentile(l_extendedprice, 0.5)"), 4).as("p50_price"),
        round(expr("percentile(l_extendedprice, 0.9)"), 4).as("p90_price"),
        count(lit(1)).as("n"))

  /** Equi-depth quantile binning (feature discretization): ntile quartiles
    * of extended price within each return flag, reported as per-bin
    * profiles — the binning step a feature pipeline runs before bucketed
    * encodings. The ntile window orders by a UNIQUE key triple so bin
    * assignment is total-order deterministic on both engines. Scale note:
    * the exact path sorts each group; at 100 TB the same report comes
    * from approx-quantile CUTPOINTS broadcast as literals (the
    * [[approxStats]] family) — this query is the exact gate for that.
    */
  val NBins = 4

  def quantileBins(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("l_returnflag"))
      .orderBy(col("l_extendedprice"), col("l_orderkey"),
        col("l_linenumber"))
    Tables.lineitem(spark, dir)
      .select(col("l_returnflag"), col("l_extendedprice"),
        col("l_orderkey"), col("l_linenumber"))
      .withColumn("bin", ntile(NBins).over(w))
      .groupBy("l_returnflag", "bin")
      .agg(
        count(lit(1)).as("n"),
        round(min(col("l_extendedprice")), 2).as("min_price"),
        round(max(col("l_extendedprice")), 2).as("max_price"),
        round(sum(col("l_extendedprice").cast("decimal(18,2)"))
          .cast("double"), 2).as("sum_price"))
  }

  /** Running-window analytics over the event stream: per-user cumulative
    * sum (exact decimal), previous event type, and sequence number. The
    * (ts, event_id) ordering key is unique per user, so frames are
    * deterministic (ROWS frame stated explicitly on both engines).
    */
  def windowRunning(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    Tables.events(spark, dir).select(
      col("user_id"), col("event_id"), col("ts"),
      round(sum(col("value").cast("decimal(12,2)"))
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .cast("double"), 2).as("running_value"),
      lag(col("event_type"), 1).over(w).as("prev_type"),
      row_number().over(w).as("seq"))
  }

  /** Gap-based sessionization (30-minute inactivity closes a session):
    * lag -> new-session flag -> running sum = session ordinal -> per-session
    * aggregate. The canonical event-pipeline operator; one shuffle on
    * user_id, everything else window arithmetic within the partition.
    */
  def sessionize(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    val gapUs = 1800L * 1000000L
    Tables.events(spark, dir)
      .withColumn("us", unix_micros(col("ts")))
      .withColumn("new_sess",
        when(col("us") - lag(col("us"), 1).over(w) > gapUs ||
          lag(col("us"), 1).over(w).isNull, lit(1L)).otherwise(lit(0L)))
      .withColumn("session_seq",
        sum(col("new_sess"))
          .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy("user_id", "session_seq")
      .agg(
        count(lit(1)).as("n_events"),
        min(col("ts")).as("session_start"),
        max(col("ts")).as("session_end"))
  }

  /** Event-sourced SCD type-2 build: compress each user's event stream
    * into its state-CHANGE history with validity intervals — the
    * dimension-versioning shape every warehouse (and every corpus
    * metadata store tracking document-state transitions) maintains. Lag
    * detects changes, then version/valid_to rank the surviving change
    * rows; every window rides the SAME (user_id, (ts, event_id))
    * partitioning and sort, so the whole query is one exchange + one
    * sort, and the filter between the two window blocks preserves both.
    * Per-user history lengths bound the window work — the same skew
    * envelope as sessionize.
    */
  def scd2(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    Tables.events(spark, dir)
      .withColumn("prev_type", lag(col("event_type"), 1).over(w))
      .filter(col("prev_type").isNull ||
        col("prev_type") =!= col("event_type"))
      .withColumn("version", row_number().over(w))
      .withColumn("valid_to", lead(col("ts"), 1).over(w))
      .select(col("user_id"), col("version"),
        col("event_type").as("state"), col("ts").as("valid_from"),
        col("valid_to"),
        when(col("valid_to").isNull, lit(1)).otherwise(lit(0))
          .as("is_current"))
  }

  /** Trailing time-RANGE window: per event, count and sum of the user's
    * activity in the preceding hour — the rolling-feature shape
    * ([[windowRunning]] covers ROWS frames; time-based features need
    * RANGE, where the frame is "everything within Δt", not "the last k
    * rows"). The frame orders by the single numeric micros column, so
    * ties are included wholesale and the result is tie-order-independent
    * — deterministic on both engines by construction, where a ROWS frame
    * over tied timestamps would not be. One exchange on user_id; the
    * decimal sum keeps the money math exact inside the frame.
    */
  def rollingRange(spark: SparkSession, dir: String): DataFrame = {
    val hourUs = 3600L * 1000000L
    val w = Window.partitionBy(col("user_id")).orderBy(col("tsu"))
      .rangeBetween(-hourUs, Window.currentRow)
    Tables.events(spark, dir)
      .select(col("user_id"), col("event_id"),
        unix_micros(col("ts")).as("tsu"), col("value"))
      .select(col("user_id"), col("event_id"), col("tsu"),
        count(lit(1)).over(w).cast("long").as("n_1h"),
        round(sum(col("value").cast("decimal(12,2)")).over(w)
          .cast("double"), 2).as("sum_1h"))
  }

  /** Point-in-time (temporal) join: each purchase event looked up against
    * the [[scd2]] state history AS OF its own timestamp — the
    * lookahead-proof feature join every ML pipeline needs (training rows
    * must see the dimension as it WAS, not as it is; a plain dim join
    * silently leaks the future). Interval semantics are
    * `[valid_from, valid_to)`: a state change at the purchase's exact
    * timestamp IS visible (its interval opens there), and zero-length
    * intervals (two changes at one timestamp) are skipped in favor of
    * the surviving version — both engines replay this totally.
    *
    * Scale shape: the [[asofJoin]] union-sort rewrite applied to
    * interval lookup — history rows and purchases merge into ONE
    * per-user ordered stream and `last(state, ignoreNulls)` carries the
    * current interval forward, so the query is one exchange on user_id
    * and linear in |events| + |history|. The interval-join formulation
    * the oracle uses would materialize every (purchase × candidate
    * interval) pair per user first — quadratic on power users, the same
    * failure the as-of rewrite eliminates.
    */
  def pitJoin(spark: SparkSession, dir: String): DataFrame = {
    val st = struct(col("version").as("v"), col("state").as("s"),
      unix_micros(col("valid_from")).as("since_us"))
    val h = scd2(spark, dir)
      .select(col("user_id"), unix_micros(col("valid_from")).as("tsu"),
        lit(0).as("kind"), col("version"),
        lit(null).cast("long").as("purchase_id"), st.as("st"))
    val p = Tables.events(spark, dir)
      .filter(col("event_type") === "purchase")
      .select(col("user_id"), unix_micros(col("ts")).as("tsu"),
        lit(1).as("kind"), lit(null).cast("int").as("version"),
        col("event_id").as("purchase_id"),
        lit(null).cast(
          "struct<v:int,s:string,since_us:bigint>").as("st"))
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("tsu"), col("kind"), col("version"), col("purchase_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    h.unionByName(p)
      .withColumn("cur", last(col("st"), ignoreNulls = true).over(w))
      .filter(col("kind") === 1)
      .select(col("purchase_id"), col("user_id"),
        col("tsu").as("purchase_us"),
        col("cur.s").as("state"),
        col("cur.v").as("state_version"),
        col("cur.since_us").as("state_since_us"))
  }

  /** Per-user journey cap for [[eventSequences]] — training pipelines cap
    * behavioral context windows, and the cap is what bounds the aggregation
    * buffer: a bot account with 10⁹ events costs the same 64-slot state as
    * a median user.
    */
  val SeqCap = 64

  /** Trajectory assembly: each user's chronological event-type journey as
    * one training example — the sequence-building pass behind behavioral /
    * session-based models (and the batch shape of conversation-turn
    * assembly). The journey is capped at [[SeqCap]] events BEFORE
    * collection (the inverted-index postings rule): `row_number` ranks
    * within the user, the filter drops the tail, and only then does
    * `collect_list` run — so per-user state is ≤ cap regardless of skew.
    * Both window specs and the final aggregate ride ONE hash partitioning
    * on `user_id` (the unordered total-count window adds no exchange, and
    * the groupBy's clustering requirement is satisfied by the existing
    * partitioning) — the whole query is a single shuffle of (user_id, ts,
    * event_id, type) tuples, never payloads.
    *
    * Determinism: ties in `ts` break on the unique `event_id` in both
    * engines; the struct sort is by the integer rank, so the concatenated
    * journey is a pure function of the data. `span_s` is
    * floor-epoch-second difference — Spark's `unix_timestamp` truncates
    * and DuckDB's `date_diff('second',…)` counts boundary crossings,
    * which is the same diff-of-truncations number.
    */
  def eventSequences(spark: SparkSession, dir: String): DataFrame = {
    val wOrd = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    val wAll = Window.partitionBy(col("user_id"))
    Tables.events(spark, dir)
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("rn", row_number().over(wOrd))
      .withColumn("n_events", count(lit(1)).over(wAll))
      .filter(col("rn") <= SeqCap)
      .groupBy(col("user_id"), col("n_events"))
      .agg(
        concat_ws(">",
          transform(sort_array(collect_list(struct(col("rn"),
            col("event_type")))), x => x.getField("event_type")))
          .as("journey"),
        min(col("ts")).as("first_ts"), max(col("ts")).as("last_ts"))
      .select(col("user_id"), col("n_events"), col("journey"),
        (unix_timestamp(col("last_ts")) - unix_timestamp(col("first_ts")))
          .cast("long").as("span_s"))
  }

  /** Exactness bound for [[robustOutliers]]' cent quantization: the
    * whole pipeline is integer arithmetic AFTER `round(value·100)`, but
    * that round happens in DOUBLE, which represents integers exactly
    * only below 2^53 — beyond it Spark and an oracle engine can
    * legitimately round the same value to different cents and the
    * cross-engine hash silently diverges. Guarded at 2^52 for headroom;
    * a larger value domain must rescale or move to DECIMAL, and the
    * in-plan assert makes that a loud job failure instead of a silent
    * wrong answer.
    */
  val RobustOutliersMaxCents: Long = 1L << 52

  /** Robust per-group outlier detection — the median/MAD monitor a
    * data-quality pipeline runs per segment (mean/stddev monitors are
    * themselves corrupted by the outliers they hunt; the median and the
    * median-absolute-deviation are not). The whole statistic chain is
    * EXACT INTEGER arithmetic so both engines hash-match bit-for-bit:
    * values quantize to cents (`round(value·100)`), medians double into
    * half-cent / quarter-cent units so the 0.5-interpolation of an
    * even-count median stays integral, and the outlier test
    * `|x−med| > 3·MAD` becomes the cross-multiplied `2·dev2 > 3·mad4` —
    * no float ever reaches a comparison.
    *
    * Exactness bound: the doubling/quadrupling runs on values that have
    * already passed through a double→BIGINT cast, and Spark truncates
    * that cast where DuckDB rounds — the two agree only while every
    * intermediate (up to 4·cents) is exactly representable in a double,
    * i.e. |value| < 2^52 cents ≈ 4.5e13 dollars. The events fixture is
    * orders of magnitude below; a value domain approaching that bound
    * must re-quantize (e.g. to whole dollars) before this monitor.
    *
    * Plan shape: one grouped exact-percentile pass for the median, the
    * group-count-sized result broadcast back for per-row deviations, a
    * second pass for the MAD, broadcast back again for the count — three
    * aggregates, two broadcast join-backs, nothing group-unbounded. At
    * 100 TB the exact `percentile` (which buffers a group's values)
    * swaps for `approx_percentile` in the same plan; the fixture keeps
    * the exact form because the oracle gate demands bit equality.
    */
  def robustOutliers(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .select(col("event_type"),
        expr("CAST(round(value * 100) AS BIGINT)").as("c"))
      // assert_true(null) throws, so null values (no cents to quantize)
      // are passed through explicitly
      .filter(expr(
        s"""assert_true(c IS NULL OR abs(c) <= $RobustOutliersMaxCents,
           |  'robustOutliers: |value|*100 exceeds 2^52 — double rounding
           |  is no longer exact; rescale or widen to DECIMAL') IS NULL"""
          .stripMargin))
    val med = ev.groupBy("event_type")
      .agg(expr("CAST(2 * percentile(c, 0.5) AS BIGINT)").as("med2"))
    val dev = ev.join(broadcast(med), "event_type")
      .withColumn("dev2", abs(col("c") * 2 - col("med2")))
    val mad = dev.groupBy("event_type")
      .agg(expr("CAST(2 * percentile(dev2, 0.5) AS BIGINT)").as("mad4"))
    dev.join(broadcast(mad), "event_type")
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        min(col("med2")).as("med2"),
        min(col("mad4")).as("mad4"),
        count(when(col("dev2") * 2 > col("mad4") * 3, true))
          .as("n_outliers"))
  }

  /** Per-group cut for [[groupTopK]]. */
  val GroupTopKK = 3

  /** Per-key top-k WITHOUT the window sort — [[topK]]'s global
    * TakeOrderedAndProject asymmetry applied per group, via the
    * [[graft.functions.TopKByScore]] bounded Aggregator: each customer's
    * three biggest orders, computed as a partial aggregate that combines
    * k-slot buffers map-side and ships ≤ k entries per key — where the
    * [[windowRank]] shape must exchange AND SORT every order row first.
    * Same answer, an order-of-magnitude less shuffle+sort at fact-table
    * scale; PlanSpec asserts the plan carries an ObjectHashAggregate and
    * NO Sort or Window operator. The oracle is the window form — the
    * equivalence of the two shapes is exactly the claim being gated.
    */
  def groupTopK(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val topk = new graft.functions.TopKByScore(GroupTopKK).toColumn
    Tables.orders(spark, dir)
      .select(col("o_custkey"), col("o_totalprice"), col("o_orderkey"))
      .as[(Long, Double, Long)]
      .groupByKey(_._1)
      .mapValues(t => (t._2, t._3))
      .agg(topk.name("topk"))
      .toDF("o_custkey", "topk")
      .select(col("o_custkey"), posexplode(col("topk")))
      .select(col("o_custkey"), (col("pos") + 1).cast("int").as("rank"),
        col("col._2").as("o_orderkey"),
        round(col("col._1"), 2).as("o_totalprice"))
  }

  // ===== watermark-lateness audit =====================================

  /** Microbatch size for the lateness replay: arrival order is the
    * ingest sequence (`event_id` — the fixture's generation order), and
    * the watermark available to batch `b` is the max event time over
    * batches `< b` minus the candidate delay — exactly Structured
    * Streaming's semantics (the watermark a batch sees was computed at
    * the END of the previous batch).
    */
  val WatermarkBatch = 1000L

  /** Candidate watermark delays (minutes) the audit prices. */
  val WatermarkDelaysMin = Seq(5, 15, 60)

  /** Planted late arrivals: (event_id, user_id, minutes_late). The
    * fixture stream arrives perfectly event-time-ordered (0 inversions —
    * measured), so genuine lateness is planted through the same
    * planted-row pattern as the multimodal/dedup fixtures: arrival ids
    * far past the corpus (they land in the final microbatches, where the
    * watermark is the corpus max) with event times `minutes_late` behind
    * that max — a row is then late under delay D iff minutes_late > D,
    * giving every audited delay a distinct count.
    */
  private[graft] val LatePlanted: PlantedRows[(Long, Long, Int)] =
    PlantedRows("event_id", "user_id", "late_min")(
        (100000001L, 1L, 2), (100000002L, 2L, 8), (100000003L, 3L, 20),
        (100000004L, 4L, 90), (100000005L, 1L, 400))

  /** Watermark-delay audit — the batch replay that SIZES a streaming
    * watermark before deployment: for each candidate delay, how many
    * events (and distinct users) the stream would DROP as too late.
    * Production streams tune `withWatermark` by exactly this offline
    * replay; picking the delay blind either drops data (too tight) or
    * bloats every stateful operator's store (too loose).
    *
    * Scale shape: one exchange groups arrivals into microbatches; the
    * prior-batch running max runs on the BATCH table (one row per
    * microbatch — aggregate-bounded, the sanctioned single-partition
    * window shape) and joins back by batch id; the delay explode is
    * map-side (|delays| small) into one final aggregate of |delays|
    * rows. No corpus self-join, no driver state.
    */
  def watermarkAudit(spark: SparkSession, dir: String): DataFrame = {
    val minuteUs = 60L * 1000000L
    val corpus = Tables.events(spark, dir)
      .select(col("event_id"), col("user_id"),
        unix_micros(col("ts")).as("tsu"))
    val maxRow = corpus.agg(max(col("tsu")).as("corpus_max"))
    val planted = LatePlanted.frame(spark)
      .crossJoin(broadcast(maxRow))
      .select(col("event_id"), col("user_id"),
        (col("corpus_max") - col("late_min") * minuteUs).as("tsu"))
    val arrivals = corpus.unionByName(planted)
      .withColumn("batch", expr(s"event_id DIV $WatermarkBatch"))
    val wmByBatch = arrivals.groupBy("batch")
      .agg(max(col("tsu")).as("bmax"))
      .withColumn("wbase", max(col("bmax")).over(
        Window.orderBy(col("batch"))
          .rowsBetween(Window.unboundedPreceding, -1)))
      .select("batch", "wbase")
    val delays = explode(array(WatermarkDelaysMin.map(lit): _*))
    arrivals.join(wmByBatch, Seq("batch"))
      .withColumn("delay_min", delays)
      .withColumn("late",
        col("wbase").isNotNull &&
          col("tsu") < col("wbase") - col("delay_min").cast("long") * minuteUs)
      .groupBy("delay_min")
      .agg(
        sum(when(col("late"), 1L).otherwise(0L)).as("n_late"),
        countDistinct(when(col("late"), col("user_id"))).as("n_late_users"),
        count(lit(1)).cast("long").as("n_events"),
        round(sum(when(col("late"), 1L).otherwise(0L)).cast("double") /
          count(lit(1)), 6).as("pct_late"))
  }

  val queries: Map[String, Q] = Map(
    "q_watermark_audit" -> watermarkAudit _,
    "q_group_topk" -> groupTopK _,
    "q_robust_outliers" -> robustOutliers _,
    "q_event_sequences" -> eventSequences _,
    "q_rollup" -> rollup _,
    "q_scd2" -> scd2 _,
    "q_pit_join" -> pitJoin _,
    "q_rolling_range" -> rollingRange _,
    "q_percentile" -> percentile _,
    "q_quantile_bins" -> quantileBins _,
    "q_window_running" -> windowRunning _,
    "q_sessionize" -> sessionize _,
    "q_approx_stats" -> approxStats _,
    "q_approx_exact" -> approxExact _,
    "q_kmv_distinct" -> kmvDistinct _,
    "q_kmv_jaccard" -> kmvJaccard _,
    "q_kmv_quantiles" -> kmvQuantiles _,
    "q_table_stats" -> tableStats _,
    "q_upsert" -> upsert _,
    "q_skew_profile" -> skewProfile _,
    "q_salted_join" -> saltedJoinQuery _,
    "q_asof_join" -> asofJoin _,
    "q_range_join" -> rangeJoin _,
    "q_session_window" -> sessionWindow _,
    "q_sliding_window" -> slidingWindow _,
    "q_topk" -> topK _,
    "q_window_rank" -> windowRank _,
    "q_event_window" -> eventWindow _,
    "q_json_extract" -> jsonExtract _,
    "q_cube" -> cube _,
    "q_funnel" -> funnel _,
    "q_histogram" -> histogram _,
    "q_correlation" -> correlation _,
    "q_target_encode" -> targetEncode _,
    "q_window_lag" -> windowLag _,
    "q_set_ops" -> setOps _)

  val oracles: Map[String, String] = Map(
    "q_watermark_audit" -> {
      val delays = WatermarkDelaysMin.mkString(", ")
      s"""WITH corpus AS (SELECT event_id, user_id, epoch_us(ts) AS tsu
         |  FROM events),
         |arr AS (SELECT event_id, user_id, tsu FROM corpus
         |  UNION ALL
         |  SELECT event_id, user_id,
         |    (SELECT max(tsu) FROM corpus) - CAST(late_min AS BIGINT)
         |      * 60000000 AS tsu
         |  FROM ${LatePlanted.valuesSql}),
         |b AS (SELECT *, event_id // $WatermarkBatch AS batch FROM arr),
         |wm AS (SELECT batch, max(bmax) OVER (ORDER BY batch
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS wbase
         |  FROM (SELECT batch, max(tsu) AS bmax FROM b GROUP BY batch)),
         |x AS (SELECT delay_min, user_id,
         |    CASE WHEN wbase IS NOT NULL AND tsu < wbase
         |      - CAST(delay_min AS BIGINT) * 60000000
         |      THEN 1 ELSE 0 END AS late
         |  FROM b JOIN wm USING (batch),
         |    (SELECT unnest([$delays]) AS delay_min))
         |SELECT CAST(delay_min AS INTEGER) AS delay_min,
         |  CAST(sum(late) AS BIGINT) AS n_late,
         |  CAST(count(DISTINCT CASE WHEN late = 1 THEN user_id END)
         |    AS BIGINT) AS n_late_users,
         |  CAST(count(*) AS BIGINT) AS n_events,
         |  round(CAST(sum(late) AS DOUBLE) / count(*), 6) AS pct_late
         |FROM x GROUP BY delay_min""".stripMargin
    },
    "q_group_topk" ->
      s"""SELECT o_custkey, CAST(rn AS INTEGER) AS rank, o_orderkey,
         |  round(o_totalprice, 2) AS o_totalprice
         |FROM (SELECT o_custkey, o_orderkey, o_totalprice,
         |    row_number() OVER (PARTITION BY o_custkey
         |      ORDER BY o_totalprice DESC, o_orderkey) AS rn
         |  FROM orders)
         |WHERE rn <= $GroupTopKK""".stripMargin,
    "q_robust_outliers" ->
      """WITH c AS (SELECT event_type,
        |    CAST(round(value * 100) AS BIGINT) AS c FROM events),
        |m AS (SELECT event_type,
        |    CAST(2 * quantile_cont(c, 0.5) AS BIGINT) AS med2
        |  FROM c GROUP BY event_type),
        |d AS (SELECT c.event_type, c.c, m.med2,
        |    abs(2 * c.c - m.med2) AS dev2
        |  FROM c JOIN m USING (event_type)),
        |s AS (SELECT event_type,
        |    CAST(2 * quantile_cont(dev2, 0.5) AS BIGINT) AS mad4
        |  FROM d GROUP BY event_type)
        |SELECT d.event_type, count(*) AS n, min(d.med2) AS med2,
        |  min(s.mad4) AS mad4,
        |  count(CASE WHEN 2 * d.dev2 > 3 * s.mad4 THEN 1 END)
        |    AS n_outliers
        |FROM d JOIN s USING (event_type)
        |GROUP BY d.event_type""".stripMargin,
    "q_event_sequences" ->
      s"""WITH o AS (SELECT user_id, ts, event_id, event_type,
         |    row_number() OVER (PARTITION BY user_id
         |      ORDER BY ts, event_id) AS rn,
         |    count(*) OVER (PARTITION BY user_id) AS n_events
         |  FROM events)
         |SELECT user_id, n_events,
         |  string_agg(event_type, '>' ORDER BY rn) AS journey,
         |  CAST(date_diff('second', min(ts), max(ts)) AS BIGINT) AS span_s
         |FROM o WHERE rn <= $SeqCap
         |GROUP BY user_id, n_events""".stripMargin,
    "q_scd2" ->
      """WITH chg AS (SELECT user_id, ts, event_id, event_type, lag(event_type, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_type FROM events), v AS (SELECT user_id, event_type, ts, CAST(row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS INTEGER) AS version, lead(ts, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS valid_to FROM chg WHERE prev_type IS NULL OR prev_type <> event_type) SELECT user_id, version, event_type AS state, ts AS valid_from, valid_to, CAST(CASE WHEN valid_to IS NULL THEN 1 ELSE 0 END AS INTEGER) AS is_current FROM v""",
    "q_rolling_range" ->
      """SELECT user_id, event_id, epoch_us(ts) AS tsu,
        |  CAST(count(*) OVER w AS BIGINT) AS n_1h,
        |  round(CAST(sum(CAST(value AS DECIMAL(12,2))) OVER w AS DOUBLE),
        |    2) AS sum_1h
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
        |  RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)""".stripMargin,
    "q_pit_join" ->
      """WITH chg AS (SELECT user_id, ts, event_id, event_type,
        |    lag(event_type, 1) OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id) AS prev_type FROM events),
        |v AS (SELECT user_id, event_type, ts,
        |    CAST(row_number() OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id) AS INTEGER) AS version,
        |    lead(ts, 1) OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id) AS valid_to
        |  FROM chg WHERE prev_type IS NULL OR prev_type <> event_type),
        |p AS (SELECT event_id, user_id, ts FROM events
        |  WHERE event_type = 'purchase')
        |SELECT p.event_id AS purchase_id, p.user_id,
        |  epoch_us(p.ts) AS purchase_us,
        |  v.event_type AS state, v.version AS state_version,
        |  epoch_us(v.ts) AS state_since_us
        |FROM p JOIN v ON p.user_id = v.user_id
        |  AND p.ts >= v.ts
        |  AND (v.valid_to IS NULL OR p.ts < v.valid_to)""".stripMargin,
    "q_rollup" ->
      """SELECT l_returnflag, l_linestatus, count(*) AS n, round(CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE), 2) AS sum_qty FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)""",
    "q_cube" ->
      """SELECT l_returnflag, l_linestatus, count(*) AS n, round(CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE), 2) AS sum_qty FROM lineitem GROUP BY CUBE(l_returnflag, l_linestatus)""",
    "q_funnel" ->
      s"""WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS tsu
         |  FROM events),
         |v AS (SELECT user_id, min(tsu) AS v_us FROM e
         |  WHERE event_type = 'view' GROUP BY user_id),
         |c AS (SELECT e.user_id, min(tsu) AS c_us
         |  FROM e JOIN v USING (user_id)
         |  WHERE event_type = 'click' AND tsu > v_us GROUP BY e.user_id),
         |p AS (SELECT e.user_id, min(tsu) AS p_us
         |  FROM e JOIN c USING (user_id)
         |  WHERE event_type = 'purchase' AND tsu > c_us
         |  GROUP BY e.user_id)
         |SELECT u.user_id, v_us, c_us, p_us,
         |  CAST(CASE WHEN p_us IS NOT NULL THEN 3
         |    WHEN c_us IS NOT NULL THEN 2
         |    WHEN v_us IS NOT NULL THEN 1 ELSE 0 END AS INTEGER) AS step,
         |  CAST(CASE WHEN p_us IS NOT NULL
         |      AND p_us - v_us <= $FunnelWindowUs THEN 1 ELSE 0 END
         |    AS INTEGER) AS converted
         |FROM (SELECT DISTINCT user_id FROM e) u
         |LEFT JOIN v USING (user_id)
         |LEFT JOIN c USING (user_id)
         |LEFT JOIN p USING (user_id)""".stripMargin,
    "q_histogram" ->
      s"""SELECT (n_chars // $HistBinChars) * $HistBinChars AS bin_lo,
         |  count(*) AS n, min(n_chars) AS min_chars,
         |  max(n_chars) AS max_chars
         |FROM documents WHERE n_chars IS NOT NULL
         |GROUP BY n_chars // $HistBinChars""".stripMargin,
    "q_correlation" ->
      """WITH p AS (SELECT l_returnflag, count(*) AS n,
        |    sum(CAST(l_quantity AS DECIMAL(12,2))) AS sx,
        |    sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS sy,
        |    sum(CAST(l_quantity AS DECIMAL(12,2))
        |      * CAST(l_extendedprice AS DECIMAL(12,2))) AS sxy,
        |    sum(CAST(l_quantity AS DECIMAL(12,2))
        |      * CAST(l_quantity AS DECIMAL(12,2))) AS sxx,
        |    sum(CAST(l_extendedprice AS DECIMAL(12,2))
        |      * CAST(l_extendedprice AS DECIMAL(12,2))) AS syy
        |  FROM lineitem GROUP BY l_returnflag)
        |SELECT l_returnflag, n,
        |  round((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
        |    - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
        |    / sqrt((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
        |    - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
        |    * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
        |    - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))), 6) AS pearson_r
        |FROM p""".stripMargin,
    "q_target_encode" ->
      s"""WITH ok AS (SELECT DISTINCT o_custkey FROM orders),
         |cat AS (SELECT c_mktsegment, count(*) AS n,
         |    CAST(sum(CASE WHEN ok.o_custkey IS NOT NULL THEN 1 ELSE 0
         |      END) AS BIGINT) AS n_pos
         |  FROM customer LEFT JOIN ok ON c_custkey = ok.o_custkey
         |  GROUP BY c_mktsegment),
         |g AS (SELECT CAST(sum(n) AS BIGINT) AS g_n,
         |  CAST(sum(n_pos) AS BIGINT) AS g_pos FROM cat)
         |SELECT c_mktsegment, n, n_pos,
         |  round((n_pos + $TeAlpha * (CAST(g_pos AS DOUBLE) / g_n))
         |    / (n + $TeAlpha), 6) AS enc
         |FROM cat CROSS JOIN g""".stripMargin,
    "q_window_lag" ->
      """SELECT user_id, event_id,
        |  epoch_us(ts) - lag(epoch_us(ts), 1) OVER (
        |    PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
        |    AS gap_us
        |FROM events""".stripMargin,
    "q_percentile" ->
      """SELECT l_returnflag, round(quantile_cont(l_extendedprice, 0.5), 4) AS p50_price, round(quantile_cont(l_extendedprice, 0.9), 4) AS p90_price, count(*) AS n FROM lineitem GROUP BY l_returnflag""",
    "q_approx_exact" ->
      """SELECT l_returnflag, count(DISTINCT l_orderkey) AS exact_orders, count(*) AS n FROM lineitem GROUP BY l_returnflag""",
    "q_kmv_distinct" ->
      s"""WITH tok AS (SELECT source, unnest(${TextOps.segmentSql("text")})
         |    AS term FROM documents),
         |ex AS (SELECT source, CAST(count(DISTINCT term) AS BIGINT)
         |    AS n_distinct FROM tok GROUP BY source),
         |h AS (SELECT DISTINCT source,
         |    ${Dedup.idUtf8Sql("term")} AS hv FROM tok),
         |r AS (SELECT source, hv,
         |    row_number() OVER (PARTITION BY source ORDER BY hv) AS rn,
         |    count(*) OVER (PARTITION BY source) AS nd FROM h),
         |kth AS (SELECT source, max(nd) AS nd,
         |    max(CASE WHEN rn = $KmvK THEN hv END) AS hk
         |  FROM r GROUP BY source)
         |SELECT source, n_distinct,
         |  CAST(LEAST(nd, $KmvK) AS BIGINT) AS n_sketch,
         |  CASE WHEN nd < $KmvK THEN CAST(nd AS DOUBLE)
         |    ELSE round(${KmvK - 1} * ${Dedup.IdMod}.0 / hk, 6) END
         |    AS kmv_est
         |FROM ex JOIN kth USING (source)""".stripMargin,
    "q_table_stats" -> {
      val unions = StatCols.map {
        case c @ ("doc_id" | "n_chars") =>
          s"SELECT '$c' AS cname, CAST($c AS VARCHAR) AS v FROM src"
        case c =>
          s"SELECT '$c' AS cname, $c AS v FROM src"
      }.mkString("\n  UNION ALL ")
      s"""WITH src AS (${StatsPlantedRows.ontoSql("documents")}),
         |st AS ($unions),
         |h AS (SELECT DISTINCT cname,
         |    (${Dedup.idUtf8Sql("v")} * 1103515245 + 12345)
         |      % ${Dedup.IdMod} AS hv
         |  FROM st WHERE v IS NOT NULL),
         |r AS (SELECT cname, hv,
         |    row_number() OVER (PARTITION BY cname ORDER BY hv) AS rn,
         |    count(*) OVER (PARTITION BY cname) AS nd FROM h),
         |kth AS (SELECT cname, max(nd) AS nd,
         |    max(CASE WHEN rn = $KmvK THEN hv END) AS hk
         |  FROM r GROUP BY cname),
         |base AS (SELECT cname, CAST(count(*) AS BIGINT) AS n_rows,
         |    CAST(sum(CASE WHEN v IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         |      AS n_nulls,
         |    CAST(count(DISTINCT v) AS BIGINT) AS ndv_exact,
         |    min(v) AS min_str, max(v) AS max_str
         |  FROM st GROUP BY cname)
         |SELECT b.cname, n_rows, n_nulls, ndv_exact,
         |  CAST(LEAST(nd, $KmvK) AS BIGINT) AS n_sketch,
         |  CASE WHEN nd < $KmvK THEN CAST(nd AS DOUBLE)
         |    ELSE round(${KmvK - 1} * ${Dedup.IdMod}.0 / hk, 6) END
         |    AS ndv_kmv,
         |  min_str, max_str
         |FROM base b JOIN kth ON b.cname = kth.cname""".stripMargin
    },
    "q_kmv_quantiles" -> {
      val rowKey =
        "CAST(l_orderkey AS VARCHAR) || ':' || CAST(l_linenumber AS VARCHAR)"
      val estCols = QuantRanks.map { case (nm, a, b) =>
        s"""CAST(max(CASE WHEN vr = (m * $a + ${b - 1}) // $b
           |      THEN cents END) AS BIGINT) AS ${nm}_est""".stripMargin
      }.mkString(",\n    ")
      val exCols = QuantRanks.map { case (nm, a, b) =>
        s"""CAST(min(CASE WHEN cum >= (n * $a + ${b - 1}) // $b
           |      THEN cents END) AS BIGINT) AS ${nm}_exact""".stripMargin
      }.mkString(",\n    ")
      val outCols = QuantRanks
        .map { case (nm, _, _) => s"${nm}_exact, ${nm}_est" }
        .mkString(", ")
      s"""WITH r AS (SELECT l_returnflag AS flag,
         |    CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS cents,
         |    ${Dedup.idUtf8Sql(rowKey)} AS hv
         |  FROM lineitem),
         |sk AS (SELECT flag, hv, cents, row_number() OVER
         |    (PARTITION BY flag ORDER BY hv, cents) AS rk
         |  FROM (SELECT DISTINCT flag, hv, cents FROM r)),
         |sv AS (SELECT flag, cents, row_number() OVER
         |    (PARTITION BY flag ORDER BY cents) AS vr,
         |    count(*) OVER (PARTITION BY flag) AS m
         |  FROM sk WHERE rk <= $ReservoirK),
         |est AS (SELECT flag, CAST(max(m) AS BIGINT) AS m_sample,
         |    $estCols
         |  FROM sv GROUP BY flag),
         |c AS (SELECT flag, cents, count(*) AS cnt FROM r GROUP BY 1, 2),
         |t AS (SELECT flag, sum(cnt) AS n FROM c GROUP BY 1),
         |cm AS (SELECT c.flag, c.cents, t.n,
         |    sum(cnt) OVER (PARTITION BY c.flag ORDER BY c.cents) AS cum
         |  FROM c JOIN t ON c.flag = t.flag),
         |ex AS (SELECT flag, CAST(max(n) AS BIGINT) AS n,
         |    $exCols
         |  FROM cm GROUP BY flag)
         |SELECT ex.flag, n, m_sample, $outCols
         |FROM ex JOIN est ON ex.flag = est.flag""".stripMargin
    },
    "q_kmv_jaccard" ->
      s"""WITH tok AS (SELECT source, unnest(${TextOps.segmentSql("text")})
         |    AS term FROM documents),
         |v AS (SELECT DISTINCT source, term FROM tok),
         |c AS (SELECT source, CAST(count(*) AS BIGINT) AS nv
         |  FROM v GROUP BY source),
         |h AS (SELECT DISTINCT source,
         |    ${Dedup.idUtf8Sql("term")} AS hv FROM v),
         |r AS (SELECT source, hv,
         |    row_number() OVER (PARTITION BY source ORDER BY hv) AS rn
         |  FROM h),
         |sk AS (SELECT source, list(hv ORDER BY hv) AS sketch
         |  FROM r WHERE rn <= $KmvK GROUP BY source),
         |pi AS (SELECT a.source AS source_a, b.source AS source_b,
         |    CAST(count(*) AS BIGINT) AS n_inter
         |  FROM v a JOIN v b
         |    ON a.term = b.term AND a.source < b.source
         |  GROUP BY 1, 2),
         |pairs AS (SELECT ca.source AS source_a, cb.source AS source_b,
         |    ca.nv AS na, cb.nv AS nb
         |  FROM c ca JOIN c cb ON ca.source < cb.source),
         |j AS (SELECT p.source_a, p.source_b,
         |    CAST(COALESCE(pi.n_inter, 0) AS BIGINT) AS n_inter,
         |    p.na, p.nb,
         |    list_slice(list_sort(list_distinct(
         |      list_concat(x.sketch, y.sketch))), 1, $KmvK) AS comb,
         |    list_intersect(x.sketch, y.sketch) AS si
         |  FROM pairs p
         |  LEFT JOIN pi USING (source_a, source_b)
         |  JOIN sk x ON x.source = p.source_a
         |  JOIN sk y ON y.source = p.source_b)
         |SELECT source_a, source_b, n_inter,
         |  na + nb - n_inter AS n_union,
         |  round(CAST(n_inter AS DOUBLE) / (na + nb - n_inter), 6)
         |    AS jaccard_exact,
         |  round(CAST(len(list_intersect(comb, si)) AS DOUBLE)
         |    / len(comb), 6) AS jaccard_kmv
         |FROM j""".stripMargin,
    "q_quantile_bins" ->
      s"""WITH b AS (SELECT l_returnflag, l_extendedprice,
         |    CAST(ntile($NBins) OVER (PARTITION BY l_returnflag
         |      ORDER BY l_extendedprice, l_orderkey, l_linenumber)
         |      AS INTEGER) AS bin
         |  FROM lineitem)
         |SELECT l_returnflag, bin, count(*) AS n,
         |  round(min(l_extendedprice), 2) AS min_price,
         |  round(max(l_extendedprice), 2) AS max_price,
         |  round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)))
         |    AS DOUBLE), 2) AS sum_price
         |FROM b GROUP BY l_returnflag, bin""".stripMargin,
    "q_window_running" ->
      """SELECT user_id, event_id, ts, round(CAST(sum(CAST(value AS DECIMAL(12,2))) OVER (PARTITION BY user_id ORDER BY ts, event_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE), 2) AS running_value, lag(event_type, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_type, CAST(row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS INTEGER) AS seq FROM events""",
    "q_sessionize" ->
      """WITH flagged AS (SELECT user_id, ts, event_id, CASE WHEN epoch_us(ts) - lag(epoch_us(ts), 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) > 1800000000 OR lag(epoch_us(ts), 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL THEN 1 ELSE 0 END AS new_sess FROM events), sessions AS (SELECT user_id, ts, CAST(sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_seq FROM flagged) SELECT user_id, session_seq, count(*) AS n_events, min(ts) AS session_start, max(ts) AS session_end FROM sessions GROUP BY user_id, session_seq""",
    "q_asof_join" ->
      """WITH p AS (SELECT event_id AS purchase_id, user_id, ts AS purchase_ts FROM events WHERE event_type = 'purchase'), c AS (SELECT event_id AS click_id, user_id, ts AS click_ts FROM events WHERE event_type = 'click'), j AS (SELECT p.purchase_id, p.user_id, p.purchase_ts, c.click_id, c.click_ts, row_number() OVER (PARTITION BY p.purchase_id ORDER BY c.click_ts DESC, c.click_id) AS rn FROM p LEFT JOIN c ON p.user_id = c.user_id AND c.click_ts <= p.purchase_ts) SELECT purchase_id, user_id, purchase_ts, click_id, click_ts, epoch_us(purchase_ts) - epoch_us(click_ts) AS gap_us FROM j WHERE rn = 1""",
    "q_range_join" ->
      """WITH p AS (SELECT event_id AS purchase_id, user_id, ts AS purchase_ts FROM events WHERE event_type = 'purchase'), f AS (SELECT event_id AS f_id, user_id, ts AS f_ts, value AS f_value FROM events) SELECT p.purchase_id, p.purchase_ts, count(f.f_id) AS n_follow, round(CAST(sum(CAST(f.f_value AS DECIMAL(12,2))) AS DOUBLE), 2) AS follow_value FROM p LEFT JOIN f ON p.user_id = f.user_id AND f.f_ts > p.purchase_ts AND f.f_ts <= p.purchase_ts + INTERVAL 1 HOUR GROUP BY p.purchase_id, p.purchase_ts""",
    "q_upsert" ->
      """SELECT o_orderkey, CASE WHEN o_orderstatus = 'O' THEN 'U' ELSE o_orderstatus END AS o_orderstatus, round(CAST(CASE WHEN o_orderstatus = 'O' THEN CAST(o_totalprice AS DECIMAL(18,2)) * CAST(1.1 AS DECIMAL(3,1)) ELSE CAST(o_totalprice AS DECIMAL(18,2)) END AS DOUBLE), 3) AS o_totalprice FROM orders""",
    "q_skew_profile" ->
      """SELECT count(*) AS n_keys, CAST(sum(n) AS BIGINT) AS n_rows, max(n) AS max_key_rows, round(CAST(max(n) AS DOUBLE) * count(*) / sum(n), 6) AS skew_ratio FROM (SELECT l_suppkey, count(*) AS n FROM lineitem GROUP BY l_suppkey)""",
    "q_salted_join" ->
      """SELECT c_mktsegment, event_type, count(*) AS n_events, count(DISTINCT user_id) AS n_users, round(CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE), 2) AS sum_value FROM events e JOIN customer c ON e.user_id = c.c_custkey GROUP BY c_mktsegment, event_type""",
    "q_session_window" ->
      """WITH flagged AS (SELECT user_id, ts, value, event_id, CASE WHEN epoch_us(ts) - lag(epoch_us(ts), 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) >= 1800000000 OR lag(epoch_us(ts), 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL THEN 1 ELSE 0 END AS new_sess FROM events), sessions AS (SELECT user_id, ts, value, CAST(sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_seq FROM flagged) SELECT min(ts) AS session_start, max(ts) + INTERVAL 30 MINUTE AS session_end_gap, user_id, count(*) AS n_events, round(CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE), 2) AS sum_value FROM sessions GROUP BY user_id, session_seq""",
    "q_sliding_window" ->
      """SELECT w AS window_start, event_type, count(*) AS n, round(CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE), 2) AS sum_value FROM (SELECT event_type, value, unnest([date_trunc('hour', ts), date_trunc('hour', ts) - INTERVAL 1 HOUR]) AS w FROM events) GROUP BY w, event_type""",
    "q_topk" ->
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 100""",
    "q_window_rank" ->
      """SELECT o_custkey, o_orderkey, o_totalprice FROM (SELECT o_custkey, o_orderkey, o_totalprice, row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rn FROM orders) WHERE rn = 1""",
    "q_event_window" ->
      """SELECT date_trunc('hour', ts) AS window_start, event_type, count(*) AS n, round(CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE), 2) AS sum_value, round(CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE) / count(*), 6) AS avg_value FROM events GROUP BY 1, 2""",
    "q_json_extract" ->
      """SELECT event_type, count(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS n_k, min(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS min_k, max(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_k, CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k FROM events GROUP BY event_type""",
    "q_set_ops" ->
      """SELECT 'union' AS op, count(*) AS n FROM (SELECT DISTINCT o_custkey FROM orders UNION SELECT DISTINCT user_id FROM events) UNION ALL SELECT 'intersect', count(*) FROM (SELECT DISTINCT o_custkey FROM orders INTERSECT SELECT DISTINCT user_id FROM events) UNION ALL SELECT 'except', count(*) FROM (SELECT DISTINCT o_custkey FROM orders EXCEPT SELECT DISTINCT user_id FROM events)""")
}
