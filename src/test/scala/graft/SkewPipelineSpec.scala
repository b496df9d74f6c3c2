package graft

import org.apache.spark.sql.functions._
import graft.engine._
import graft.operators.SkewJoin

/** Salted-join semantics + the composed full-pipeline query. */
class SkewPipelineSpec extends SparkSpec {

  test("salted join returns exactly the plain join's rows") {
    val fact = Tables.orders(spark, sf)
      .select(col("o_custkey").as("k"), col("o_orderkey"), col("o_totalprice"))
    val dim = Tables.customer(spark, sf)
      .select(col("c_custkey").as("k"), col("c_mktsegment"))
    val plain = fact.join(dim, Seq("k"))
    val salted = SkewJoin.saltedJoin(fact, dim, "k", 8,
      spread = Some(col("o_orderkey")))
    assert(salted.count() === plain.count())
    assert(salted.except(plain).count() === 0)
    assert(plain.except(salted).count() === 0)
  }

  test("salted join survives a pathologically hot key") {
    import spark.implicits._
    // 10k rows all on one key + 10 rows spread: the AQE-resistant shape
    val hot = (1 to 10000).map(i => (1L, i.toLong)) ++
      (2 to 11).map(i => (i.toLong, i.toLong))
    val fact = hot.toDF("k", "v")
    val dim = (1 to 11).map(i => (i.toLong, s"d$i")).toDF("k", "name")
    val out = SkewJoin.saltedJoin(fact, dim, "k", 16,
      spread = Some(col("v")))
    assert(out.count() === 10010)
    // per-salt spread of the hot key is balanced within 3x of ideal
    val spread = fact.filter(col("k") === 1)
      .withColumn("s", pmod(col("v"), lit(16))).groupBy("s").count()
      .collect().map(_.getLong(1))
    assert(spread.max <= 3 * (10000 / 16))
  }

  test("profiled salting: hot key splits into exactly ceil(freq/cap) parts") {
    import spark.implicits._
    // key 1: 10000 rows (hot, cap 300 → fan ceil(10000/300)=34);
    // key 2: 301 rows (just over cap → fan 2); key 3: 7 rows (cold → 1)
    val fact = ((1 to 10000).map(i => (1L, i.toLong)) ++
      (1 to 301).map(i => (2L, i.toLong)) ++
      (1 to 7).map(i => (3L, i.toLong))).toDF("k", "v")
    val dim = (1 to 3).map(i => (i.toLong, s"d$i")).toDF("k", "name")
    val fan = SkewJoin.hotKeyFan(fact, "k", 300L).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(fan === Map(1L -> 34L, 2L -> 2L), s"fan map $fan")
    val (sf_, sd) = SkewJoin.profiledSaltParts(fact, dim, "k", 300L,
      org.apache.spark.sql.functions.col("v"))
    // the hot key's rows occupy exactly fan distinct salted sub-keys,
    // the cold key exactly one
    val salts = sf_.groupBy("k")
      .agg(countDistinct(col("__salt")).as("s")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(salts === Map(1L -> 34L, 2L -> 2L, 3L -> 1L), s"salts $salts")
    // dim replication = fan per key (1 for cold): 34 + 2 + 1
    val rep = sd.groupBy("k").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(rep === Map(1L -> 34L, 2L -> 2L, 3L -> 1L), s"dim rep $rep")
    // and the join is still exactly the plain join
    val out = SkewJoin.profiledSaltedJoin(fact, dim, "k", 300L, col("v"))
    val plain = fact.join(dim, Seq("k"))
    assert(out.count() === 10308)
    assert(out.except(plain).count() === 0)
    assert(plain.except(out).count() === 0)
  }

  test("salted count equals plain grouped count") {
    val events = Tables.events(spark, sf)
    val plain = events.groupBy("user_id").count()
      .withColumnRenamed("count", "n")
    val salted = SkewJoin.saltedCount(events, "user_id", 8, col("event_id"))
    assert(salted.except(plain).count() === 0)
    assert(plain.except(salted).count() === 0)
  }

  test("full pipeline keeps one row per filtered customer") {
    val out = Pipeline.fullPipeline(spark, sf)
    val expected = Pipeline.basetableStar(spark, sf)
      .filter(col("c_mktsegment").like("%URE%") ||
        col("c_mktsegment").like("%MACH%")).count()
    assert(out.count() === expected)
    assert(out.select("c_custkey").distinct().count() === expected)
    // dummies are filled, recode domain is closed
    val recodes = out.select("attr_big_spender").distinct()
      .collect().map(_.getString(0)).toSet
    assert(recodes.subsetOf(Set("1", "0", "Missing")))
    assert(out.filter(col("click").isNull).count() === 0)
  }

  test("as-of join: one row per purchase, non-negative gap, no future clicks") {
    val asof = Ext.asofJoin(spark, sf)
    val purchases = Tables.events(spark, sf)
      .filter(col("event_type") === "purchase").count()
    assert(asof.count() === purchases)
    assert(asof.filter(col("gap_us") < 0).count() === 0)
    assert(asof.filter(col("click_ts") > col("purchase_ts")).count() === 0)
  }

  test("range join: one row per purchase, follow events bounded by window") {
    val rj = Ext.rangeJoin(spark, sf)
    val purchases = Tables.events(spark, sf)
      .filter(col("event_type") === "purchase").count()
    assert(rj.count() === purchases)
    assert(rj.filter(col("n_follow") < 0).count() === 0)
    // purchases with zero follow events have null summed value
    assert(rj.filter(col("n_follow") === 0 &&
      col("follow_value").isNotNull).count() === 0)
  }

  test("watermark audit: late counts follow the planted L > D rule") {
    val rows = Ext.watermarkAudit(spark, sf).collect()
      .map(r => r.getInt(0) -> (r.getLong(1), r.getLong(3)))
      .toMap
    assert(rows.keySet === Ext.WatermarkDelaysMin.toSet)
    for (d <- Ext.WatermarkDelaysMin) {
      // the corpus arrives event-time-ordered (zero genuine lateness),
      // so late rows are exactly the planted ones with minutes_late > D
      val expected = Ext.LatePlanted.rows.count(_._3 > d).toLong
      assert(rows(d)._1 === expected, s"delay $d")
    }
    // wider delay never drops more than a tighter one
    val byDelay = Ext.WatermarkDelaysMin.map(rows(_)._1)
    assert(byDelay === byDelay.sorted.reverse)
    // every audited delay sees the same universe of arrivals
    assert(rows.values.map(_._2).toSet.size === 1)
  }

  test("GraftSession factory config registers SQL functions") {
    val s = GraftSession.getOrCreate(4)
    val v = s.sql("SELECT cosine_sim(array(CAST(3.0 AS FLOAT)), array(CAST(2.0 AS FLOAT)))")
      .collect()(0).getDouble(0)
    assert(math.abs(v - 1.0) < 1e-12)
    assert(s.sql("SELECT size(kmv_sketch(CAST(7 AS BIGINT)))")
      .collect()(0).getInt(0) === 1)
    assert(s.conf.get("spark.sql.shuffle.partitions") === "4")
    assert(s.conf.get("spark.sql.session.timeZone") === "UTC")
    assert(s.conf.get("spark.sql.parquet.inferTimestampNTZ.enabled") ===
      "false")
    // AQE runs at Spark's defaults, not factory-set values
    Seq("spark.sql.adaptive.enabled",
      "spark.sql.adaptive.coalescePartitions.enabled",
      "spark.sql.adaptive.skewJoin.enabled")
      .foreach(k => assert(s.conf.get(k) === "true", k))
    assert(s.sparkContext.getConf.get("spark.ui.enabled") === "false")
  }
}
