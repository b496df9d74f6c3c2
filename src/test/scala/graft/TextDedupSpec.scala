package graft

import org.apache.spark.sql.functions._
import graft.engine._

/** Text-analysis + dedup behavior on the planted-near-dup fixtures. */
class TextDedupSpec extends SparkSpec {

  /** The full-scale corpus the production-cap test plants blocks into. */
  private val Sf01Dir = "/root/testdata/sf0.1"

  /** Exit-registered temp dir (bare createTempDirectory leaks per run). */
  private def tmpFixtureDir(prefix: String): String =
    graft.engine.TempArtifacts.tempDir(prefix)

  test("fingerprints are injective over the distinct fixture texts") {
    val fp = TextOps.docFingerprint(spark, sf)
    val distinctTexts = Tables.documents(spark, sf)
      .select("text").distinct().count()
    assert(fp.select("fingerprint").distinct().count() === distinctTexts)
  }

  test("fingerprint matches a driver-side reimplementation") {
    val row = Tables.documents(spark, sf).select("doc_id", "text")
      .orderBy("doc_id").limit(1).collect()(0)
    val expected = row.getString(1).foldLeft(0L)(
      (acc, ch) => (acc * 31 + ch.toInt) % 1000000007L)
    val got = TextOps.docFingerprint(spark, sf)
      .filter(col("doc_id") === row.getLong(0))
      .collect()(0).getAs[Long]("fingerprint")
    assert(got === expected)
  }

  test("text quality ratios are within [0,1] and tokens positive") {
    val bad = TextOps.textQuality(spark, sf).filter(
      col("n_tokens") <= 0 ||
        col("stopword_ratio") < 0 || col("stopword_ratio") > 1 ||
        col("distinct_ratio") <= 0 || col("distinct_ratio") > 1 ||
        col("quality_score") < 0 || col("quality_score") > 1)
    assert(bad.count() === 0)
  }

  test("token counts: regex tokenization agrees with whitespace here") {
    // fixture text is strictly space-separated lowercase words, so the
    // BPE-ish regex pass must find exactly the whitespace tokens
    val bad = TextOps.tokenCount(spark, sf)
      .filter(col("ws_tokens") =!= col("re_tokens"))
    assert(bad.count() === 0)
  }

  test("bigram coverage matches an exact in-memory recompute") {
    val docs = Tables.documents(spark, sf).select("doc_id", "text")
      .collect().map(r => (r.getLong(0),
        Option(r.getString(1)).map(_.split(" ", -1)).getOrElse(Array.empty)))
    def bigrams(ws: Array[String]): Seq[String] =
      if (ws.length < 2) Seq.empty
      else ws.sliding(2).map(p => p(0) + " " + p(1)).toSeq
    val counts = docs.iterator.flatMap(d => bigrams(d._2)).toSeq
      .groupBy(identity).map { case (b, xs) => (b, xs.size.toLong) }
    val common = counts.filter(_._2 >= TextOps.BigramMinCount).keySet
    val expected = docs.flatMap { case (id, ws) =>
      val bgs = bigrams(ws)
      if (bgs.isEmpty) None
      else {
        val hits = bgs.count(common).toLong
        Some(id -> ((bgs.size.toLong, hits,
          hits * 1000000L / bgs.size)))
      }
    }.toMap
    val got = TextOps.bigramCoverage(spark, sf).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2),
        r.getLong(3)))).toMap
    assert(got === expected)
    // coverage is a proper ratio and the common set is non-trivial
    assert(got.values.forall { case (n, h, c) =>
      h <= n && c >= 0 && c <= 1000000L })
    assert(got.values.exists(_._2 > 0))
  }

  test("unigram prob matches an exact in-memory recompute") {
    val rows = TextOps.unigramProb(spark, sf).collect()
    // independent truth: the whole statistic in plain Scala Longs
    // (split with limit -1 mirrors Spark's trailing-empty handling)
    val docs = Tables.documents(spark, sf).select("doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getString(1).split(" ", -1)))
    val cnt = docs.iterator.flatMap(_._2).toSeq
      .groupBy(identity).map { case (t, xs) => (t, xs.size.toLong) }
    val total = cnt.values.sum
    val byId = docs.toMap
    assert(rows.length === docs.length)
    rows.foreach { r =>
      val toks = byId(r.getAs[Long]("doc_id"))
      val n = toks.length.toLong
      val sumCnt = toks.iterator.map(cnt).sum
      assert(r.getAs[Long]("n_tokens") === n)
      assert(r.getAs[Long]("sum_cnt") === sumCnt)
      val p = r.getAs[Double]("mean_prob")
      assert(p > 0 && p <= 1)
      assert(p === BigDecimal(sumCnt.toDouble / n / total)
        .setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble)
    }
  }

  test("exact dedup preserves total row count") {
    val d = Dedup.dedupExact(spark, sf)
    val total = d.agg(sum("n_copies")).collect()(0).getLong(0)
    assert(total === Tables.documents(spark, sf).count())
  }

  test("minhash LSH finds high-jaccard pairs and only pairs >= threshold") {
    val pairs = Dedup.dedupMinhash(spark, sf).collect()
    assert(pairs.nonEmpty, "fixture has planted near-dups; none found")
    assert(pairs.forall(_.getAs[Double]("jaccard") >= Dedup.MinhashThreshold))
  }

  test("minhash candidates are confirmed by exact ngram-jaccard pass") {
    // every minhash pair (tau=0.6) must also appear in the exact
    // rare-shingle-blocked pass (tau=0.5) — LSH may MISS pairs but must
    // never report a pair the exact computation rejects
    val mh = Dedup.dedupMinhash(spark, sf)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = Dedup.dedupNgramJaccard(spark, sf)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(mh.subsetOf(exact))
  }

  test("dedup sensitivity: full sweep present, monotone, pair-consistent") {
    val rows = Dedup.dedupSensitivity(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .sortBy(_._1)
    // one row per sweep point even where nothing survives
    assert(rows.map(_._1) === Dedup.SweepThresholds.map(_.toLong))
    // tightening a threshold can only shrink the surviving set
    rows.sliding(2).foreach { case Array((_, p1, d1), (_, p2, d2)) =>
      assert(p2 <= p1 && d2 <= d1, s"sweep not monotone: $p1->$p2")
    }
    rows.foreach { case (_, p, d) =>
      assert(d <= 2 * p, "more implicated docs than pair endpoints")
      if (p > 0) assert(d >= 2, "a surviving pair implicates two docs")
    }
    // the loosest sweep point sees every pair the production threshold
    // keeps: exact rational >= 0.6 admits everything IEEE >= 0.6 does
    // except boundary dust, and the fixture has no boundary-dust pairs
    assert(rows.head._2 >= Dedup.dedupMinhash(spark, sf).count(),
      "sweep@60 lost pairs the production pass keeps")
    assert(rows.head._2 > rows.last._2 || rows.head._2 == 0,
      "fixture sweep should separate at least one threshold")
  }

  test("lsh recall canary: exact recount of both sides and both miss directions") {
    val r = Dedup.lshRecall(spark, sf).head
    val (ne, nl, nc) = (r.getLong(0), r.getLong(1), r.getLong(2))
    assert(nc <= math.min(ne, nl))
    assert(r.getLong(4) === nl - nc && r.getLong(5) === ne - nc)
    if (ne > 0)
      assert(math.abs(r.getDouble(3) - nc.toDouble / ne) < 1e-6)
    // recount both sides from the underlying queries
    val exact = Dedup.dedupNgramJaccard(spark, sf).collect()
      .filter(_.getDouble(2) >= Dedup.MinhashThreshold)
      .map(x => (x.getLong(0), x.getLong(1))).toSet
    val lsh = Dedup.dedupMinhash(spark, sf).collect()
      .map(x => (x.getLong(0), x.getLong(1))).toSet
    assert(ne === exact.size.toLong && nl === lsh.size.toLong)
    assert(nc === (exact intersect lsh).size.toLong)
    assert(ne > 0, "fixture must exercise the canary")
  }

  test("dup source matrix: conserves pair mass, ordered keys, exact recount") {
    val cells = Dedup.dupSourceMatrix(spark, sf).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getDouble(4)))
    assert(cells.nonEmpty)
    cells.foreach { case (a, b, p, d, j) =>
      assert(a <= b, "source pair must be unordered-canonical")
      assert(d >= 2 && d <= 2 * p)
      assert(j >= Dedup.MinhashThreshold - 1e-6 && j <= 1.0 + 1e-6)
    }
    // the matrix is a pure re-labeling of the verified pairs
    val srcOf = Tables.documents(spark, sf).select("doc_id", "source")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      .withDefaultValue("planted") // the dedup corpus's planted rows
    val pairs = Dedup.dedupMinhash(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(cells.map(_._3).sum === pairs.length.toLong, "pair mass")
    // exact recount of the heaviest cell, mean included
    val (ha, hb, hp, _, hj) = cells.maxBy(_._3)
    val mine = pairs.filter { case (x, y, _) =>
      val (sa, sb) = (srcOf(x), srcOf(y))
      val (lo, hi) = if (sa <= sb) (sa, sb) else (sb, sa)
      lo == ha && hi == hb
    }
    assert(mine.length.toLong === hp)
    val mean = BigDecimal(mine.map(p => math.round(p._3 * 1000000L))
      .sum.toDouble / (mine.length * 1000000L))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(hj === mean)
  }

  test("dedup clusters: pairs share roots, one keeper per component") {
    val clusters = Dedup.dedupClusters(spark, sf)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(2)))
      .toMap
    assert(clusters.nonEmpty)
    // every near-dup pair must land in the same component
    Dedup.dedupMinhash(spark, sf).select("doc_a", "doc_b").collect()
      .foreach { r =>
        val (a, b) = (r.getLong(0), r.getLong(1))
        assert(clusters(a)._1 === clusters(b)._1, s"pair ($a,$b) split")
      }
    // root is the component minimum and the only keeper
    clusters.groupBy(_._2._1).foreach { case (root, members) =>
      assert(members.keys.min === root)
      assert(members.count(_._2._2) === 1)
      assert(members(root)._2)
    }
  }

  test("planted multilingual near-dup pair survives minhash end to end") {
    // the UTF-8 id contract gate: the accented/CJK/emoji/Cyrillic planted
    // pair must surface as a confirmed near-dup, proving non-ASCII text
    // flows through shingle ids -> LSH -> exact-jaccard verification
    val Seq(a, b) = Dedup.MultilingualDedupRows.take(2).map(_._1)
    val hit = Dedup.dedupMinhash(spark, sf)
      .filter(col("doc_a") === a && col("doc_b") === b).collect()
    assert(hit.length === 1, "planted multilingual pair missing")
    assert(hit(0).getAs[Double]("jaccard") >= 0.9)
  }

  test("v2 shingle grid catches the unsegmented CJK pair the v1 grid is blind to") {
    // the composed/decomposed + whitespace-free planted pair: under the
    // current (v2) NFC+segmentation grid it must surface as a confirmed
    // near-dup; under the legacy v1 whitespace grid each doc is ONE
    // token and yields zero shingles — the blindness the version bump
    // fixes, demonstrated side by side through the version-keyed builder
    val Seq(a, b) = Dedup.MultilingualDedupRows
      .filter(r => r._1 == 910004L || r._1 == 910005L).map(_._1)
    val hit = Dedup.dedupMinhash(spark, sf)
      .filter(col("doc_a") === a && col("doc_b") === b).collect()
    assert(hit.length === 1, "planted CJK pair missing under the v2 grid")
    assert(hit(0).getAs[Double]("jaccard") >= 0.9)
    val v1 = Dedup.shingleIdsAt(spark, sf, 1)
      .filter(col("doc_id").isin(a, b)).count()
    assert(v1 === 0L, "v1 whitespace grid should yield no shingles here")
    val v2 = Dedup.shingleIdsAt(spark, sf, 2)
      .filter(col("doc_id").isin(a, b)).count()
    assert(v2 > 0L)
    // NFC folding: the decomposed doc's shingle VOCABULARY overlaps the
    // composed doc's (shared prefix grams fingerprint identically)
    val sids = Dedup.shingleIdsAt(spark, sf, 2)
      .filter(col("doc_id").isin(a, b))
      .groupBy("sid").count().filter(col("count") === 2).count()
    assert(sids > 40L, s"only $sids shared shingle ids — NFC fold broken?")
  }

  test("persisted band index is version-named: old-grid indexes are never read") {
    // build (or reuse) the current index via the bucketed probe, then
    // assert the catalog table the session holds embeds the grid version
    Dedup.dedupIncrementalBucketed(spark, sf).collect()
    val tables = spark.catalog.listTables().collect().map(_.name)
      .filter(_.startsWith("graft_corpus_band_index"))
    assert(tables.nonEmpty)
    assert(tables.forall(_.startsWith(
      s"graft_corpus_band_index_v${Dedup.ShingleGridVersion}_")),
      s"unversioned index table name: ${tables.mkString(",")}")
  }

  test("split leakage: accounts for every pair, flags cross-split dups") {
    val pairs = Dedup.dedupMinhash(spark, sf)
    val leak = Dedup.splitLeakage(spark, sf).collect()
    // the gate is a pure re-labeling: pair mass is conserved
    assert(leak.map(_.getLong(2)).sum === pairs.count())
    // unordered labels: (a, b) always lexicographic, so no mirrored rows
    assert(leak.forall(r => r.getString(0) <= r.getString(1)))
    // the fixture corpus demonstrably leaks: at least one near-dup pair
    // crosses the split boundary (the signal the gate exists to raise)
    assert(leak.exists(r => r.getString(0) != r.getString(1)),
      "fixture shows no cross-split leakage; gate untestable")
  }

  test("dedup weights: count-preserving, keepers carry component size") {
    val w = Dedup.dedupWeights(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    // total weight = raw corpus size (nothing lost, nothing invented)
    assert(w.map(_._2).sum === Dedup.dedupDocs(spark, sf).count())
    assert(w.map(_._1).distinct.length === w.length)
    val cl = Dedup.dedupClusters(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
    // exactly the cluster keepers plus the untouched remainder survive
    val keepers = cl.filter(_._3).map(_._1).toSet
    val members = cl.map(_._1).toSet
    assert(w.map(_._1).toSet ===
      keepers ++ (Dedup.dedupDocs(spark, sf).select("doc_id").collect()
        .map(_.getLong(0)).toSet -- members))
    // a keeper's weight is its component's cardinality; others carry 1
    val sizes = cl.groupBy(_._2).map { case (root, rs) => root -> rs.length }
    for ((id, weight) <- w)
      assert(weight ===
        (if (keepers(id)) sizes(id).toLong else 1L), s"doc $id")
  }

  test("simhash: identical token sets get identical signatures") {
    val sig = Dedup.dedupSimhash(spark, sf)
    // one signature per doc, planted multilingual rows included
    assert(sig.count() === Tables.documents(spark, sf).count()
      + Dedup.MultilingualDedupRows.size)
    // doc tokens -> signature must be a function: join docs with equal
    // distinct-token sets and check signatures match
    val toks = Tables.documents(spark, sf).select(
      col("doc_id"), sort_array(array_distinct(split(col("text"), " ")))
        .as("tokset"))
    val withSig = toks.join(sig, "doc_id")
    val conflicting = withSig.as("a").join(withSig.as("b"),
        col("a.tokset") === col("b.tokset") &&
          col("a.doc_id") < col("b.doc_id"))
      .filter(col("a.simhash16") =!= col("b.simhash16"))
    assert(conflicting.count() === 0)
  }

  test("lang id is deterministic and within the known label set") {
    val langs = TextOps.langId(spark, sf).select("predicted_lang")
      .distinct().collect().map(_.getString(0)).toSet
    assert(langs.subsetOf(
      TextOps.LangMarkers.map(_._1).toSet + "unknown"))
  }

  test("salient terms: dense top-k ranks and rarity dominates at equal tf") {
    val st = TextOps.salientTerms(spark, sf).cache()
    try {
      assert(st.filter(col("rank") < 1 ||
        col("rank") > TextOps.SalientK).count() === 0)
      // per doc: ranks are dense from 1 (no gaps, no dup ranks)
      val badDocs = st.groupBy("doc_id")
        .agg(count(lit(1)).as("n"), max(col("rank")).as("mx"))
        .filter(col("n") =!= col("mx"))
      assert(badDocs.count() === 0)
      // within one doc, equal tf => strictly rarer term never ranks worse
      val pairs = st.as("a").join(st.as("b"),
        col("a.doc_id") === col("b.doc_id") &&
          col("a.tf") === col("b.tf") && col("a.df") < col("b.df"))
      assert(pairs.filter(col("a.rank") > col("b.rank")).count() === 0)
    } finally st.unpersist()
  }

  test("decontamination never flags benchmark docs; ratios are in (0,1]") {
    val out = Dedup.decontaminate(spark, sf).cache()
    try {
      assert(out.filter(col("doc_id") % Dedup.DecontamBenchMod === 0)
        .count() === 0)
      assert(out.filter(col("n_hits") > col("n_shingles") ||
        col("n_hits") < 1).count() === 0)
      assert(out.filter(col("contamination") <= 0 ||
        col("contamination") > 1).count() === 0)
    } finally out.unpersist()
  }

  test("LSH bucket cap keeps candidates linear under identical-doc blocks") {
    // 200 identical docs share every band key; unguarded that is one
    // bucket of 19 900 candidate pairs × 4 bands. The cap must drop the
    // degenerate buckets from the pairwise join, the signature/bucket star
    // fallbacks must re-link the block star-wise (199 pairs, not 19 900),
    // and small-bucket near-dups must keep generating candidates.
    val tmp = tmpFixtureDir("lsh-guard")
    import spark.implicits._
    val block = (1L to 200L).map(i =>
      (i, "alpha beta gamma delta epsilon zeta eta theta iota kappa",
        "en", "web", 40L))
    val base = "one two three four five six seven eight nine ten " +
      "eleven twelve thirteen fourteen fifteen sixteen"
    val near = Seq(
      (900L, base + " seventeen", "en", "web", 40L),
      (901L, base + " eighteen", "en", "web", 40L))
    (block ++ near).toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$tmp/documents.parquet")
    // retrieve the lsh_bucket_guard observed metric: a silent cap
    // regression (guard stops counting / stops capping) must fail by name
    @volatile var observed: Option[Long] = None
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          durationNs: Long): Unit =
        qe.observedMetrics.get("lsh_bucket_guard").foreach(row =>
          observed = Some(row.getAs[Long]("rows_in_oversize_buckets")))
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      val cand = Dedup.lshCandidates(spark, tmp)
      val blockPairs = cand.filter(col("doc_a") <= 200 && col("doc_b") <= 200)
      assert(blockPairs.count() === 199,
        "identical-doc block must collapse to star pairs, not k²/2")
      assert(blockPairs.filter(col("doc_a") =!= 1).count() === 0,
        "star fallback must link every block member to the group min")
      assert(cand.filter(col("doc_a") === 900 && col("doc_b") === 901)
        .count() === 1, "small-bucket near-dup pair lost to the guard")
      // listener delivery is async — poll the bus briefly
      val deadline = System.nanoTime() + 10e9.toLong
      while (observed.isEmpty && System.nanoTime() < deadline)
        Thread.sleep(50)
      assert(observed.contains(200L * Dedup.Bands),
        s"expected 800 rows in oversize buckets (200 docs x 4 bands), " +
          s"observed $observed")
    } finally spark.listenerManager.unregister(listener)
  }

  test("oversize-bucket star links a >cap distinct-signature block") {
    // 120 near-dup docs (56 common tokens + 4 unique): band buckets exceed
    // the cap while ~half the signatures are DISTINCT, so neither the
    // pairwise join nor the full-signature fallback alone can cover the
    // block — the oversize-bucket star must keep every doc connected, and
    // clustering must unify the block into one component.
    val tmp = tmpFixtureDir("lsh-star")
    import spark.implicits._
    val common = (0 until 56).map(i => s"w$i").mkString(" ")
    val docs = (1L to 120L).map(i =>
      (i, common + " " + (0 until 4).map(j => s"u${i}x$j").mkString(" "),
        "en", "web", 40L))
    docs.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$tmp/documents.parquet")
    val pairs = Dedup.dedupMinhash(spark, tmp)
      .filter(col("doc_a") <= 120 && col("doc_b") <= 120).cache()
    try {
      val linked = pairs.select(col("doc_a").as("d"))
        .union(pairs.select(col("doc_b").as("d"))).distinct().count()
      assert(linked === 120,
        "every block member must appear in at least one verified pair")
      val roots = Dedup.dedupClusters(spark, tmp)
        .filter(col("doc_id") <= 120)
        .select("component_root").distinct().collect()
      assert(roots.map(_.getLong(0)).toSeq === Seq(1L),
        "block must cluster into one component rooted at doc 1")
    } finally pairs.unpersist()
  }

  test("secondary sub-bucket split recovers direct pairs in giant buckets") {
    // Two families (A, B) over a shared core plus an overlap group carrying
    // both family blocks: at cap 6 every family band bucket is oversize, so
    // pre-split the B-family's direct pairs could only come from star edges.
    // The second-band re-key must place them in sub-cap sub-buckets and
    // emit their full pairwise candidates (model-derived expected set).
    val tmp = tmpFixtureDir("lsh-sub")
    import spark.implicits._
    val core = (0 until 8).map(i => s"c$i").mkString(" ")
    val blockA = (0 until 12).map(i => s"a$i").mkString(" ")
    val blockB = (0 until 12).map(i => s"b$i").mkString(" ")
    val docs =
      (1L to 8L).map(i => (i, s"$core $blockA ua$i", "en", "web", 40L)) ++
      (9L to 16L).map(i => (i, s"$core $blockB ub$i", "en", "web", 40L)) ++
      (17L to 20L).map(i =>
        (i, s"$core $blockA $blockB uo$i", "en", "web", 40L))
    docs.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$tmp/documents.parquet")
    val cand = Dedup.lshCandidates(spark, tmp, cap = 6)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // pairs reachable ONLY through the sub-bucket split at cap 6
    // (derived from an independent model of the guard; all are J >= 0.6)
    val expected = Set((10L, 11L), (10L, 14L), (10L, 15L), (10L, 16L),
      (11L, 14L), (11L, 15L), (11L, 16L), (14L, 15L), (14L, 16L),
      (15L, 16L))
    assert(expected.subsetOf(cand),
      s"sub-bucket split pairs missing: ${expected -- cand}")
  }

  test("production cap 64 stays linear with adversarial blocks in sf0.1") {
    // The oversize-guard tests above trigger the degenerate paths on
    // small fixtures (via the test-only `cap` parameter where needed);
    // this one pins the PRODUCTION configuration — cap = LshBucketCap =
    // 64, no parameter override — against the full sf0.1 corpus (5 000
    // docs) with two planted adversarial blocks:
    //   block1: 150 IDENTICAL docs — every band bucket AND every
    //     second-band sub-bucket holds 150 > 64 rows, so the pairwise
    //     join and the sub-bucket split both stay silent and coverage
    //     must come from the full-signature star (guard part 2);
    //   block2: 140 near-dup docs (60 shared tokens + 4 unique each) —
    //     signatures mostly DISTINCT, the shared band buckets exceed the
    //     cap, and most sub-buckets do too, so coverage must come from
    //     the oversize-bucket star (guard part 3).
    // The gate: candidate volume incident to each block is LINEAR in
    // block size (an unguarded pass would emit ~11k/9.7k pairwise
    // candidates), and the guard's observed metric reports the skipped
    // volume.
    // registered for JVM-exit cleanup like every other on-disk artifact
    // (a bare createTempDirectory would leak ~1 MB per suite run)
    val tmp = graft.engine.TempArtifacts.tempDir("lsh-sf01")
    import spark.implicits._
    val block1 = (800001L to 800150L).map(i =>
      (i, "alpha beta gamma delta epsilon zeta eta theta iota kappa",
        "en", "web", 40L))
    val core = (0 until 60).map(i => s"w$i").mkString(" ")
    val block2 = (810001L to 810140L).map(i =>
      (i, core + " " + (0 until 4).map(j => s"u${i}x$j").mkString(" "),
        "en", "web", 40L))
    Tables.documents(spark, Sf01Dir)
      .unionByName((block1 ++ block2)
        .toDF("doc_id", "text", "lang", "source", "n_chars"))
      .write.parquet(s"$tmp/documents.parquet")
    @volatile var observed: Option[Long] = None
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          durationNs: Long): Unit =
        qe.observedMetrics.get("lsh_bucket_guard").foreach(row =>
          observed = Some(row.getAs[Long]("rows_in_oversize_buckets")))
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      val cand = Dedup.lshCandidates(spark, tmp).cache()
      try {
        // block1: exactly the 149-star to the block min — nothing else
        val b1 = cand.filter(col("doc_a") >= 800001L &&
          col("doc_b") <= 800150L && col("doc_a") <= 800150L)
        assert(b1.count() === 149,
          "identical block must collapse to its signature star")
        assert(b1.filter(col("doc_a") =!= 800001L).count() === 0)
        // block2: linear candidate volume (10x block size allows star
        // edges per band plus residual sub-cap pairs; the unguarded
        // all-pairs volume is 9 730) and near-total star connectivity
        val b2 = cand.filter(col("doc_a") >= 810001L &&
          col("doc_a") <= 810140L && col("doc_b") <= 810140L &&
          col("doc_b") >= 810001L).cache()
        try {
          val n2 = b2.count()
          assert(n2 <= 10L * 140,
            s"block2 candidates $n2 — guard failed to stay linear")
          val linked = b2.select(col("doc_a").as("d"))
            .union(b2.select(col("doc_b").as("d"))).distinct().count()
          assert(linked >= 133,
            s"only $linked of 140 block2 docs reached by star edges")
        } finally b2.unpersist()
        // no cross-contamination: planted blocks never pair with the
        // sf0.1 corpus (disjoint vocabularies)
        assert(cand.filter(col("doc_a") < 800000L &&
          col("doc_b") >= 800000L).count() === 0)
        // the guard metric must account for both planted blocks: all
        // 150 block1 rows x 4 bands, plus block2's oversize share
        val deadline = System.nanoTime() + 10e9.toLong
        while (observed.isEmpty && System.nanoTime() < deadline)
          Thread.sleep(50)
        assert(observed.exists(_ >= 150L * Dedup.Bands),
          s"guard metric undercounts oversize rows: $observed")
      } finally cand.unpersist()
    } finally spark.listenerManager.unregister(listener)
  }

  test("incremental dedup links new docs to corpus only, star-capped") {
    // corpus: a 150-doc identical block (oversize at cap 64) plus one
    // near-dup partner; delta: one doc identical to the block (must get
    // ONE star edge to the block min, not 150 pairwise edges) and one
    // near-dup of the partner (small-bucket pairwise path). Corpus-corpus
    // and delta-delta near-dups must never surface.
    val tmp = tmpFixtureDir("inc-dedup")
    import spark.implicits._
    val mod = Dedup.IncrementalDeltaMod
    val blockText = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val blockIds = (5000L to 5200L).filter(_ % mod != 0).take(150)
    val base = "one two three four five six seven eight nine ten " +
      "eleven twelve thirteen fourteen fifteen sixteen"
    val corpusDocs = blockIds.map(i => (i, blockText, "en", "web", 40L)) ++
      Seq((7001L, base + " seventeen", "en", "web", 40L),
        // corpus-corpus near-dup pair: must NOT appear in the output
        (7002L, "red orange yellow green blue indigo violet pink", "en", "web", 40L),
        (7003L, "red orange yellow green blue indigo violet black", "en", "web", 40L))
    val deltaDocs = Seq(
      (1100L, blockText, "en", "web", 40L),
      (2200L, base + " eighteen", "en", "web", 40L),
      // delta-delta near-dup pair: must NOT appear either
      (3300L, "cats dogs birds fish mice goats sheep cows", "en", "web", 40L),
      (4400L, "cats dogs birds fish mice goats sheep bulls", "en", "web", 40L))
    (corpusDocs ++ deltaDocs).toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$tmp/documents.parquet")
    val out = Dedup.dedupIncremental(spark, tmp).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      assert(r.getLong(0) % mod === 0, s"doc_new ${r.getLong(0)} not in delta")
      assert(r.getLong(1) % mod > 0, s"doc_corpus ${r.getLong(1)} not in corpus")
    }
    val blockHits = out.filter(_.getLong(0) == 1100L)
    assert(blockHits.length === 1,
      "oversize block must star-link the delta doc once, not pairwise")
    assert(blockHits(0).getLong(1) === blockIds.min)
    assert(blockHits(0).getAs[Double]("jaccard") === 1.0)
    val cross = out.filter(r => r.getLong(0) == 2200L && r.getLong(1) == 7001L)
    assert(cross.length === 1, "cross-boundary near-dup pair missing")
    assert(cross(0).getAs[Double]("jaccard") >= 0.8)
    // the persisted-index probe is bit-identical to the direct pass —
    // same candidates, same verification, different physical shape
    val key = (r: org.apache.spark.sql.Row) =>
      (r.getLong(0), r.getLong(1), r.getAs[Double]("jaccard"))
    assert(Dedup.dedupIncrementalBucketed(spark, tmp).collect().map(key).toSet
      === out.map(key).toSet)
  }

  test("a verbatim copy of a benchmark doc is fully contaminated") {
    // every 3+-token text duplicated across the benchmark boundary must
    // surface with contamination 1.0 (all its shingles are benchmark
    // shingles by construction)
    val docs = Tables.documents(spark, sf)
      .filter(size(split(col("text"), " ")) >= 3)
    val benchTexts = docs
      .filter(col("doc_id") % Dedup.DecontamBenchMod === 0)
      .select(col("text")).distinct()
    val copies = docs
      .filter(col("doc_id") % Dedup.DecontamBenchMod =!= 0)
      .join(benchTexts, "text").select("doc_id")
    val flagged = Dedup.decontaminate(spark, sf)
      .filter(col("contamination") === 1.0).select("doc_id")
    assert(copies.except(flagged).count() === 0)
  }

  test("chunk dedup: counts partition, and each fingerprint keeps one") {
    val cd = Dedup.chunkDedup(spark, sf)
    assert(cd.filter(col("n_kept") + col("n_dup") =!= col("n_chunks"))
      .count() === 0)
    // a doc that is an exact copy of an earlier doc keeps ZERO chunks
    // (every chunk already seen) — so the bound is 0..n_chunks
    assert(cd.filter(col("n_kept") < 0 ||
      col("n_kept") > col("n_chunks")).count() === 0)
    // global keep-first: kept chunks across the corpus = distinct
    // fingerprints; total chunks = independent per-doc replay
    val chunks = Tables.documents(spark, sf)
      .select(col("doc_id"), split(col("text"), " ").as("t"))
      .select(col("doc_id"),
        explode(sequence(lit(1), size(col("t")),
          lit(Dedup.ChunkWords))).as("p"), col("t"))
      .select(md5(concat_ws(" ",
        slice(col("t"), col("p"), lit(Dedup.ChunkWords)))).as("fp"))
    val (total, distinctFp) =
      (chunks.count(), chunks.distinct().count())
    val agg = cd.agg(sum("n_chunks"), sum("n_kept")).head
    assert(agg.getLong(0) === total)
    assert(agg.getLong(1) === distinctFp)
  }

  test("array stats: word-sum + separators reconstruct n_chars exactly") {
    // text is words joined by single spaces, so sum(word lengths) +
    // (n_words − 1) separators must equal the stored n_chars — a
    // cross-column identity that catches any HOF off-by-one
    val joined = TextOps.arrayStats(spark, sf)
      .join(Tables.documents(spark, sf).select("doc_id", "n_chars"),
        "doc_id")
    assert(joined.filter(
      col("sum_len") + col("n_words") - 1 =!= col("n_chars"))
      .count() === 0)
    assert(joined.filter(col("max_len") > col("sum_len") ||
      col("n_long") > col("n_words")).count() === 0)
  }

  test("regex extract: count and first match are consistent") {
    val re = TextOps.regexExtract(spark, sf)
    assert(re.filter(col("n_s_words") === 0 &&
      col("first_s_word").isNotNull).count() === 0)
    assert(re.filter(col("n_s_words") > 0 &&
      col("first_s_word").isNull).count() === 0)
    assert(re.filter(col("first_s_word").isNotNull &&
      !col("first_s_word").rlike("^s[a-z]+$")).count() === 0)
    assert(re.filter(col("n_s_words") > 0).count() > 0,
      "fixture should contain s-initial words")
  }

  test("containment: gate on the smaller side holds; pairs ordered") {
    val cp = Dedup.dedupContainment(spark, sf)
    assert(cp.filter(col("doc_a") >= col("doc_b")).count() === 0)
    assert(cp.filter(col("containment_a") > 1.0 ||
      col("containment_b") > 1.0 || col("containment_a") <= 0.0 ||
      col("containment_b") <= 0.0).count() === 0)
    // max(c_a, c_b) IS containment-of-the-smaller — the gate
    assert(cp.filter(greatest(col("containment_a"),
      col("containment_b")) < Dedup.ContainmentThreshold - 1e-6)
      .count() === 0)
    // the fixture's planted near-dups must produce containment pairs
    assert(cp.count() > 0, "no containment pairs found on the fixture")
  }

  test("nfc normalization folds the planted NFD row onto its NFC twin") {
    val tn = TextOps.textNormalize(spark, sf)
    // exactly the planted decomposed row changes; ASCII is untouched
    assert(tn.filter(col("changed") === 1).count() === 1)
    assert(tn.filter(col("changed") === 1).head.getLong(0) === 920001L)
    val norm = tn.filter(col("doc_id").isin(920001L, 920002L))
      .select("norm_text").distinct()
    assert(norm.count() === 1,
      "NFD and NFC spellings must normalize to the same string")
    // codepoint counts equal after normalization (marks folded away)
    val cps = tn.filter(col("doc_id").isin(920001L, 920002L))
      .select("n_cp").distinct()
    assert(cps.count() === 1)
  }

  test("simhash pairs: bounded hamming, ordered, hamming-0 core present") {
    val sp = Dedup.simhashPairs(spark, sf)
    assert(sp.filter(col("hamming") < 0 ||
      col("hamming") > Dedup.SimPairsMaxHamming).count() === 0)
    assert(sp.filter(col("doc_a") >= col("doc_b")).count() === 0)
    assert(sp.count() > 0, "fixture near-dups must produce pairs")
    // identical signatures (exact copies among the planted dup rows)
    // must surface as hamming-0 pairs via the signature star
    assert(sp.filter(col("hamming") === 0).count() > 0)
    // deterministic across evaluations
    assert(sp.exceptAll(Dedup.simhashPairs(spark, sf)).count() === 0)
  }

  test("dup transitivity: exact in-memory graph replay") {
    val row = Dedup.dupTransitivity(spark, sf).head
    val edges = Dedup.dedupMinhash(spark, sf)
      .select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val nodes = edges.flatMap(e => Seq(e._1, e._2))
    val deg = nodes.toSeq.map(v =>
      edges.count(e => e._1 == v || e._2 == v).toLong)
    val wedges = deg.map(d => d * (d - 1) / 2).sum
    val tris = (for {
      (a, b) <- edges; (b2, c) <- edges if b2 == b
      if edges.contains((a, c))
    } yield (a, b, c)).size.toLong
    assert(row.getLong(0) === nodes.size.toLong)
    assert(row.getLong(1) === edges.size.toLong)
    assert(row.getLong(2) === wedges)
    assert(row.getLong(3) === tris)
    assert(3 * tris <= wedges, "each triangle closes 3 distinct wedges")
    if (wedges > 0)
      assert(row.getLong(4) === 3 * tris * 1000000L / wedges)
  }

  test("boilerplate lines: planted semantics — removal, padding, empty-out") {
    val byId = TextOps.boilerplateLines(spark, sf).collect()
      .map(r => r.getLong(0) -> r).toMap
    // shared nav/footer lines stripped, unique content survives in order
    assert(byId(950001L).getString(1) ===
      "unique fact one about storage engines")
    assert(byId(950001L).getLong(3) === 2L, "two boilerplate lines removed")
    // padded variant: removal keys on the TRIMMED line
    assert(byId(950005L).getString(1) ===
      "unique fact four with padded boilerplate")
    // pure-boilerplate doc empties to '' (not null)
    assert(byId(950004L).getString(1) === "")
    assert(byId(950004L).getLong(2) === byId(950004L).getLong(3))
    // null text propagates null everywhere
    assert(byId(950006L).isNullAt(1) && byId(950006L).isNullAt(2))
  }

  test("corpus overlap: exact set identities hold and sides are nonempty") {
    val r = Dedup.corpusOverlap(spark, sf).head
    val (nA, nB, inter, union) =
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
    assert(nA > 0 && nB > 0)
    assert(inter <= math.min(nA, nB))
    assert(union === nA + nB - inter, "inclusion-exclusion")
    assert(r.getLong(4) === inter * 1000000L / union)
    assert(r.getLong(5) === inter * 1000000L / nA)
    assert(r.getLong(6) === inter * 1000000L / nB)
    // parity halves of one fixture share vocabulary: overlap is real
    assert(inter > 0, "parity snapshots must share shingles")
  }

  test("quality rules: each planted row trips exactly its one rule") {
    val byId = TextOps.qualityRules(spark, sf).collect()
      .map(r => r.getLong(0) -> r).toMap
    // flag columns are 2..6: too_short, too_long, low_stopword,
    // bad_word_len, repetitive
    def flags(id: Long): Seq[Boolean] =
      (2 to 6).map(byId(id).getBoolean)
    assert(flags(990001L) === Seq(true, false, false, false, false))
    assert(flags(990002L) === Seq(false, true, false, false, false))
    assert(flags(990003L) === Seq(false, false, false, false, true))
    assert(flags(990004L) === Seq(false, false, false, true, false))
    assert(flags(990007L) === Seq(false, false, true, false, false))
    assert(flags(990005L).forall(!_) && byId(990005L).getBoolean(8),
      "the all-pass row must keep")
    (990001L to 990004L).foreach { id =>
      assert(byId(id).getLong(7) === 1L && !byId(id).getBoolean(8),
        s"row $id: exactly one failure, not kept")
    }
    // null text: every verdict column stays null
    assert((1 to 8).forall(byId(990006L).isNullAt))
    // CJK rows: segmentation makes the rules see real token structure —
    // the 9-char Han row PASSES (pre-segmentation it was n_tok = 1 and
    // tripped too_short), and the short/repetitive/mixed rows trip
    // EXACTLY their designed rule
    assert(byId(990008L).getLong(1) === 9L, "Han row segments to 9 tokens")
    assert(flags(990008L).forall(!_) && byId(990008L).getBoolean(8),
      "the all-pass Han row must keep")
    assert(flags(990009L) === Seq(true, false, false, false, false))
    assert(flags(990010L) === Seq(false, false, false, false, true))
    assert(flags(990011L) === Seq(false, false, false, true, false))
  }

  test("dedup report: exact span-coverage accounting per source") {
    val rep = Dedup.dedupReport(spark, sf).collect()
    assert(rep.nonEmpty)
    rep.foreach { r =>
      val (nd, ndd, nt, dt, ppm, mx) = (r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6))
      assert(ndd <= nd && dt <= nt,
        s"${r.getString(0)}: coverage cannot exceed the corpus")
      assert(ppm === dt * 1000000L / nt)
      assert(mx == 0L || mx >= Dedup.SubstrMinSpan.toLong)
      assert((ndd == 0L) === (dt == 0L))
    }
    // conservation: the report's duplicated tokens are exactly the span
    // pass's total over the same (planted-free) corpus
    import org.apache.spark.sql.functions.{coalesce, lit, sum}
    val spanTotal = Dedup.substringSpans(
      Tables.documents(spark, sf).select("doc_id", "text"))
      .agg(coalesce(sum("span_tokens"), lit(0L))).collect()
      .head.getLong(0)
    assert(rep.map(_.getLong(4)).sum === spanTotal)
  }

  test("substring scrub: span mass removed exactly, planted quotes cut") {
    val rows = Dedup.substringScrub(spark, sf).collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getString(3), r.getLong(4))))
      .toMap
    // the planted verbatim-quote pair loses exactly its 16-token quote
    // at both (non-chunk-aligned) offsets, neighbors rejoined in order
    assert(rows(993001L)._2 === 16L)
    assert(rows(993001L)._3 === "pza1 pza2 pza3 wza1 wza2")
    assert(rows(993002L)._2 === 16L)
    assert(rows(993002L)._3 === "pzb1 pzb2 pzb3 pzb4 pzb5 pzb6 pzb7 wzb1")
    // per-doc removal equals the detect half's span mass (spans within
    // a doc are maximal, hence disjoint — nothing double-counted)
    val spanMass = Dedup.substringDedup(spark, sf).collect()
      .groupBy(_.getLong(0))
      .map { case (d, sp) => d -> sp.map(_.getLong(3)).sum }
    rows.foreach { case (d, (n, cut, text, fp)) =>
      assert(cut === spanMass.getOrElse(d, 0L), s"doc $d span mass")
      val keptToks = text.split(" ").filter(_.nonEmpty).length.toLong
      assert(keptToks === n - cut, s"doc $d token conservation")
      if (cut === n) assert(text === "" && fp === 0L,
        s"fully-duplicated doc $d must scrub to empty")
    }
    // the fixture exercises both partial and total removal
    assert(rows.values.exists(r => r._2 > 0 && r._2 < r._1))
    assert(rows.values.exists(r => r._1 > 0 && r._2 === r._1))
  }

  test("incremental substring probe: spans nest inside the full-dedup spans") {
    // a delta span requires every window to exist in the STANDING
    // corpus — a strictly stronger condition than the full pass's
    // any-second-occurrence, so each incremental span must sit inside
    // some full-dedup span of the same document
    val inc = Dedup.substringIncremental(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val full = Dedup.substringSpans(
      Tables.documents(spark, sf).select("doc_id", "text")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .groupBy(_._1)
    inc.foreach { case (d, a, b) =>
      assert(d % Dedup.IncrementalDeltaMod === 0L, "delta docs only")
      assert(full.getOrElse(d, Array.empty[(Long, Long, Long)])
        .exists { case (_, fa, fb) => fa <= a && b <= fb },
        s"delta span ($d, $a, $b) not nested in any full span")
    }
  }

  test("segmentation: per-codepoint CJK, whitespace-equivalent Latin") {
    val byId = TextOps.segmentCjk(spark, sf).collect()
      .map(r => r.getLong(0) -> r).toMap
    // columns: ws_tokens(1) seg_tokens(2) n_han(3) n_kana(4)
    // n_hangul(5) n_thai(6)
    def row(id: Long): Seq[Long] = (1 to 6).map(byId(id).getLong(_))
    assert(row(992001L) === Seq(1, 10, 10, 0, 0, 0), "spaceless Han")
    assert(row(992002L) === Seq(4, 9, 6, 0, 0, 0), "mixed Han/Latin")
    assert(row(992003L) === Seq(1, 12, 2, 10, 0, 0), "kana+kanji")
    assert(row(992004L) === Seq(3, 7, 0, 0, 7, 0), "hangul")
    assert(row(992005L) === Seq(1, 20, 0, 0, 0, 20), "Thai")
    // Latin control row AND every fixture doc: seg == ws token count
    assert(row(992006L).take(2) === Seq(6, 6))
    byId.values.filter(_.getLong(0) < 992000L).foreach { r =>
      assert(r.getLong(1) === r.getLong(2),
        s"doc ${r.getLong(0)}: Latin text must segment as whitespace")
    }
  }

  test("bm25 search: ordered top-k, scores replay from raw corpus statistics") {
    val rows = TextOps.bm25Search(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(rows.length === TextOps.Bm25TopK)
    rows.foreach { case (_, h, _) =>
      assert(h >= 1 && h <= TextOps.Bm25QueryTerms.length)
    }
    // TakeOrderedAndProject must return the (score desc, id asc) order
    rows.sliding(2).foreach { case Array(a, b) =>
      assert(a._3 > b._3 || (a._3 == b._3 && a._1 < b._1))
    }
    // replay every returned score from raw corpus statistics
    val texts = Tables.documents(spark, sf).select("doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getString(1)))
    val seg = java.util.regex.Pattern.compile(TextOps.SegPattern)
    def toks(t: String): Seq[String] = {
      val m = seg.matcher(t); val b = Seq.newBuilder[String]
      while (m.find()) b += m.group(); b.result()
    }
    val tokenized = texts.map { case (id, t) => id -> toks(t) }.toMap
    val nDocs = tokenized.size.toLong
    val totalTokens = tokenized.values.map(_.length.toLong).sum
    val dfOf = TextOps.Bm25QueryTerms.map { q =>
      q -> tokenized.values.count(_.contains(q)).toLong
    }.toMap
    def scoreOf(id: Long): (Long, Long) = {
      val ts = tokenized(id); val dlen = ts.length.toLong
      val hits = TextOps.Bm25QueryTerms.filter(ts.contains)
      val micros = hits.map { q =>
        val tf = ts.count(_ == q).toDouble
        val idf = (nDocs - dfOf(q) + 0.5) / (dfOf(q) + 0.5)
        val s = idf * (tf * (TextOps.Bm25K1 + 1)) /
          (tf + TextOps.Bm25K1 * ((1 - TextOps.Bm25B) +
            TextOps.Bm25B * dlen * nDocs / totalTokens.toDouble))
        math.round(BigDecimal(s)
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble * 1e6)
      }
      (hits.length.toLong, micros.sum)
    }
    rows.foreach { case (id, h, s) =>
      assert((h, s) === scoreOf(id), s"doc $id score replay")
    }
  }

  test("anchor text: variants merge, image links excluded, majority tie-break") {
    val rows = TextOps.anchorText(spark, sf).collect()
      .map(r => r.getString(0) -> r).toMap
    // case/whitespace variants of 'Data Guide' collapse to one label
    val t1 = rows("t1.example.org")
    assert((1 to 3).map(t1.getLong(_)) === Seq(3, 3, 1))
    assert(t1.getString(4) === "data guide" && t1.getLong(5) === 3L)
    // the empty (image-style) anchor counts as a link, not as text;
    // the 1-1 tie between labels breaks on text order
    val t2 = rows("t2.example.org")
    assert((1 to 3).map(t2.getLong(_)) === Seq(3, 2, 2))
    assert(t2.getString(4) === "alpha ref" && t2.getLong(5) === 1L)
    rows.values.foreach { r =>
      assert(r.getLong(2) <= r.getLong(1), "text anchors exceed links")
      assert(r.getLong(3) <= r.getLong(2), "distinct texts exceed texts")
      if (r.getLong(2) > 0) {
        assert(r.getString(4) != null && r.getString(4).nonEmpty)
        assert(r.getLong(5) >= 1L && r.getLong(5) <= r.getLong(2))
      }
    }
  }

  test("content flags: categories trip at threshold, embedded terms never count") {
    val rows = TextOps.contentFlags(spark, sf).collect()
      .map(r => r.getLong(0) -> r).toMap
    def counts(id: Long): Seq[Long] = (1 to 3).map(rows(id).getLong(_))
    assert(counts(995001L) === Seq(3, 0, 0) && rows(995001L).getBoolean(8))
    assert(counts(995002L) === Seq(0, 3, 0) && rows(995002L).getBoolean(8))
    assert(counts(995003L) === Seq(0, 0, 4) && rows(995003L).getBoolean(8))
    // one stray instance is context, not topic (threshold boundary)
    assert(counts(995004L) === Seq(0, 0, 1) && !rows(995004L).getBoolean(8))
    // token-level matching: 'nonexplicit' / 'weaponry' must not fire
    assert(counts(995005L) === Seq(0, 0, 0))
    assert(counts(995006L) === Seq(0, 0, 0))
    rows.values.foreach { r =>
      // n_total is the category sum; flagged iff some category trips
      assert(r.getLong(4) === (1 to 3).map(r.getLong(_)).sum)
      val trip = (1 to 3).exists(i =>
        r.getLong(i) >= TextOps.ContentFlagMin)
      assert(r.getBoolean(8) === trip, r.toString)
    }
    // the synthetic corpus itself is clean (all flags planted)
    assert(rows.filter(_._1 < 995000L).values.forall(!_.getBoolean(8)))
  }

  test("line collapse: runs fold to first spelling, non-adjacent repeats survive") {
    val rows = TextOps.lineCollapse(spark, sf).collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getString(3), r.getLong(4))))
      .toMap
    assert(rows(994001L) ===
      ((4L, 2L, "alpha line\nbeta", rows(994001L)._4)))
    // non-consecutive repeat is NOT a run — must survive untouched
    assert(rows(994002L)._2 === 0L &&
      rows(994002L)._3 === "xrep\nyother\nxrep")
    // trimmed-equal run keeps the FIRST original spelling
    assert(rows(994003L) ===
      ((4L, 2L, "pad\ntail", rows(994003L)._4)))
    assert(rows(994004L)._3 === "single")
    assert(rows(994005L) === ((1L, 0L, "", 0L)))
    // idempotence: collapsing leaves no adjacent trimmed-equal pair
    rows.values.foreach { case (_, _, text, _) =>
      val ls = text.split("\n", -1).map(_.trim)
      ls.sliding(2).foreach { w =>
        if (w.length == 2) assert(w(0) != w(1),
          s"adjacent duplicates survive in: $text")
      }
    }
    // the untouched fixture corpus (no newlines) passes through whole
    assert(rows.filter(_._1 < 994000L).values.forall(r =>
      r._1 === 1L && r._2 === 0L))
  }

  test("tokenizer fertility: planted CJK contrast, Latin unity, doc conservation") {
    val rows = TextOps.tokenizerFertility(spark, sf).collect()
      .map(r => r.getString(0) -> r).toMap
    // planted rows: 16 whitespace words, 64 segmented tokens (the
    // per-row counts pinned by the segmentation test) => fertility 4.0
    val planted = rows("xx_planted")
    assert(planted.getLong(1) === 6L)
    assert(planted.getLong(4) === 16L && planted.getLong(5) === 64L)
    assert(planted.getDouble(6) === 4.0)
    // fixture languages are whitespace-segmented: fertility exactly 1
    rows.keys.filter(_ != "xx_planted").foreach { lang =>
      assert(rows(lang).getDouble(6) === 1.0,
        s"$lang: Latin-script fertility must be 1.0")
    }
    // every document lands in exactly one language row
    val corpus = Tables.documents(spark, sf).count()
    assert(rows.values.map(_.getLong(1)).sum === corpus + 6)
  }

  test("native quality_stats equals the HOF-composed statistics" +
      " on adversarial rows and the fixture corpus") {
    import spark.implicits._
    // the displaced composed form (the pre-native qualityFeatures
    // body), kept here as the semantic reference the scanner must match
    def hofStats(df: org.apache.spark.sql.DataFrame) = {
      val t = TextOps.segmentTokens(col("text"))
      val allStops = TextOps.Stopwords ++ TextOps.CjkStopwords
      val wordToks = filter(t,
        x => !x.rlike(s"^[${TextOps.SegPerCharClass}]$$"))
      val bLen = greatest(size(t) - 1, lit(0))
      val big2 = zip_with(slice(t, lit(1), bLen), slice(t, lit(2), bLen),
        (a, b) => concat_ws(" ", a, b))
      df.select(col("text"),
        size(t).cast("long").as("n_tok"),
        size(filter(t, x => x.isInCollection(allStops))).cast("long")
          .as("n_stop"),
        size(wordToks).cast("long").as("n_word"),
        aggregate(wordToks, lit(0L), (acc, x) => acc + length(x))
          .as("sum_wchars"),
        size(big2).cast("long").as("nb"),
        size(array_distinct(big2)).cast("long").as("ndb"))
    }
    def nativeStats(df: org.apache.spark.sql.DataFrame) =
      df.select(col("text"),
        graft.functions.StringFunctions.quality_stats(col("text"),
          TextOps.SegPerCharClass, TextOps.SegWsChars,
          TextOps.Stopwords ++ TextOps.CjkStopwords).as("qs"))
        .select(col("text"), col("qs.n_tok"), col("qs.n_stop"),
          col("qs.n_word"), col("qs.sum_wchars"), col("qs.nb"),
          col("qs.ndb"))
    val planted = Seq(
      "the value data",                    // plain Latin with stopwords
      "我的数据是在这里的",                   // pure Han (per-char tokens)
      "的 是 qq zz 在 的 pp",               // mixed CJK stop + Latin
      "",                                  // empty → all zeros
      " \t\n\r　",                          // whitespace only (incl U+3000)
      "a",                                 // single 1-char word run
      "的",                                 // single CJK stopword token
      "x\u000By",                     // VT is NOT whitespace here
      "𠀀𠀀 word",     // CJK Ext B pair: a WORD run
      "ありがとう ございます",                 // kana per-char
      "ภาษาไทย",                            // Thai per-char
      "alpha beta alpha beta alpha beta")  // repeated bigrams
      .zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
    val corpus = engine.Tables.documents(spark, sf)
      .select(col("doc_id"), col("text"))
    // TokenSetStats (the lexicon-counting sibling): n_tok, distinct
    // tokens, and per-set instance counts vs the HOF composition
    val sets = Seq(TextOps.Stopwords, TextOps.CjkStopwords,
      Seq("alpha", "beta"))
    def hofSetStats(df: org.apache.spark.sql.DataFrame) = {
      val t = TextOps.segmentTokens(col("text"))
      df.select(col("text") +: size(t).cast("long").as("n_tok") +:
        size(array_distinct(t)).cast("long").as("n_distinct") +:
        sets.zipWithIndex.map { case (ws, i) =>
          size(filter(t, x => x.isInCollection(ws))).cast("long")
            .as(s"c$i")
        }: _*)
    }
    def nativeSetStats(df: org.apache.spark.sql.DataFrame) =
      df.select(col("text"),
        graft.functions.StringFunctions.token_set_stats(col("text"),
          TextOps.SegPerCharClass, TextOps.SegWsChars, sets).as("qs"))
        .select(col("text") +: col("qs.n_tok") +:
          col("qs.n_distinct") +:
          sets.indices.map(i =>
            col("qs.set_counts").getItem(i).as(s"c$i")): _*)
    Seq(planted, corpus).foreach { src =>
      val a = hofStats(src).collect().map(r =>
        r.getString(0) -> r.toSeq.drop(1)).toMap
      val b = nativeStats(src).collect().map(r =>
        r.getString(0) -> r.toSeq.drop(1)).toMap
      assert(a.keySet === b.keySet)
      a.foreach { case (text, exp) =>
        assert(b(text) === exp, s"stats diverge on: ${text.take(60)}")
      }
      val c = hofSetStats(src).collect().map(r =>
        r.getString(0) -> r.toSeq.drop(1)).toMap
      val d = nativeSetStats(src).collect().map(r =>
        r.getString(0) -> r.toSeq.drop(1)).toMap
      c.foreach { case (text, exp) =>
        assert(d(text) === exp, s"set stats diverge on: ${text.take(60)}")
      }
    }
  }

  test("memorization audit: verbatim, spliced, and novel generations" +
      " classify exactly") {
    val rows = Dedup.memorizationAudit(spark, sf).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getBoolean(5)))).toMap
    val copies = rows.filter(_._1 >= 7000000L).filter(_._1 < 8000000L)
    val splices = rows.filter(_._1 >= 8000000L).filter(_._1 < 9000000L)
    val novels = rows.filter(_._1 >= 9000000L)
    assert(copies.nonEmpty && splices.nonEmpty && novels.size === 2)
    // verbatim copies: every shingle matches, the run spans the doc
    copies.values.foreach { case (ns, nm, ppm, run, mem) =>
      assert(nm === ns && ppm === 0L && run === ns && mem)
    }
    // prefix splices: a 15-token corpus prefix yields exactly 13
    // matched trigrams in one run (the 14th/15th straddle the novel
    // tail), which clears the memorized floor
    splices.values.foreach { case (_, nm, ppm, run, mem) =>
      assert(nm === 13L && run === 13L && mem)
      assert(ppm > 0L && ppm < 1000000L)
    }
    // novel generations: nothing matches, no run, not memorized
    novels.values.foreach { case (ns, nm, ppm, run, mem) =>
      assert(nm === 0L && ppm === 1000000L && run === 0L && !mem)
      assert(ns > 0L)
    }
  }

  test("shingle profile: buckets partition the shingle set and the" +
      " blocking verdict matches the rare floor") {
    val rows = Dedup.shingleProfile(spark, sf).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getBoolean(6)))
    rows.foreach { case (b, lo, _, _, mn, mx, blockable) =>
      assert(lo === (1L << b))
      // every member frequency lives inside its bucket's range
      assert(mn >= lo && mx < 2 * lo, s"bucket $b holds [$mn,$mx]")
      assert(blockable === (mx <= Dedup.RareShingleMaxFreq))
    }
    // buckets partition the distinct-SID set and the instance mass:
    // totals recount from the raw corpus via the minhash pipeline's own
    // shingle definition (3-token shingles, distinct per doc, keyed by
    // the portable poly id exactly as the engine keys them — a raw
    // string key would drift on the rare sid collision)
    import org.apache.spark.sql.functions._
    def poly(s: String): Long =
      s.getBytes("UTF-8").foldLeft(0L)((acc, b) =>
        (acc * 31 + (b & 0xff)) % Dedup.IdMod)
    val counts = scala.collection.mutable.Map.empty[Long, Long]
      .withDefaultValue(0L)
    // v2 grid replay: NFC + script-aware segmentation (the engine's
    // shingleTokens at ShingleGridVersion), reimplemented driver-side
    val segRe = engine.TextOps.SegPattern.r
    def addDoc(text: String): Unit = {
      val norm = java.text.Normalizer.normalize(
        text, java.text.Normalizer.Form.NFC)
      val t = segRe.findAllIn(norm).toArray
      if (t.length >= 3)
        t.sliding(3).map(w => poly(w.mkString(" "))).toSeq.distinct
          .foreach(sid => counts(sid) += 1)
    }
    engine.Tables.documents(spark, sf)
      .select(col("text")).collect().foreach(r => addDoc(r.getString(0)))
    // planted multilingual rows join the corpus in shingleIds — replay
    Dedup.MultilingualDedupRows.foreach { case (_, text) => addDoc(text) }
    assert(rows.map(_._3).sum === counts.size.toLong,
      "bucket shingle counts do not partition the distinct set")
    assert(rows.map(_._4).sum === counts.values.sum,
      "bucket instance mass does not partition the stream")
  }

  test("degree distribution: exact bucket replay and power-of-two" +
      " boundary correctness") {
    import spark.implicits._
    val deg = TextOps.linkGraph(spark, sf).collect()
      .map(r => r.getLong(1))
    def bucket(n: Long): Int = 63 - java.lang.Long.numberOfLeadingZeros(n)
    val expected = deg.groupBy(bucket).map { case (b, ns) =>
      b -> ((ns.length.toLong, ns.sum, ns.min, ns.max))
    }
    val rows = TextOps.degreeDist(spark, sf).collect()
      .map(r => r.getInt(0) -> ((r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))).toMap
    assert(rows === expected)
    // deg_lo is 2^bucket
    TextOps.degreeDist(spark, sf).collect().foreach { r =>
      assert(r.getLong(1) === (1L << r.getInt(0)))
    }
    // the float-log candidate is integer-corrected: exact powers of two
    // and their neighbors must bucket exactly, far beyond the fixture's
    // degree range
    val probes = Seq(1L, 2L, 3L, 4L, 7L, 8L, 9L, 1023L, 1024L, 1025L,
      (1L << 40) - 1, 1L << 40, (1L << 40) + 1, (1L << 52) - 1, 1L << 52)
    val b0 = "CAST(floor(log2(n_links)) AS INT)"
    val got = probes.toDF("n_links")
      .select(col("n_links"), expr(
        s"$b0 + IF(n_links >= shiftleft(CAST(1 AS BIGINT), $b0 + 1)," +
          s" 1, 0) - IF(n_links < shiftleft(CAST(1 AS BIGINT), $b0)," +
          s" 1, 0)").as("b"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    probes.foreach { n =>
      assert(got(n) === bucket(n), s"misbucketed degree $n")
    }
  }

  test("cdc dedup: shift-resistant where the fixed grid is blind," +
      " token mass conserved") {
    val rows = Dedup.cdcDedup(spark, sf).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5)))).toMap
    val base = rows(996001L)
    val shifted = rows(996002L)
    val half = rows(996003L)
    // the one-token-prepended copy must re-align: it duplicates most of
    // the base's chunks (all boundaries after the insertion are content
    // positions, so they land identically)
    assert(shifted._3 > 0L,
      "CDC found no duplicate chunks in the shifted copy")
    // ... while the FIXED grid shares zero aligned windows: replay
    // chunkDedup's fingerprinting on the planted pair in the driver
    val baseToks = Dedup.CdcPlantedRows(0)._2.split(" ")
    val shiftToks = Dedup.CdcPlantedRows(1)._2.split(" ")
    def gridFps(t: Array[String]): Set[String] =
      (1 to t.length by Dedup.ChunkWords).map(p =>
        t.slice(p - 1, p - 1 + Dedup.ChunkWords).mkString(" ")).toSet
    assert(gridFps(baseToks).intersect(gridFps(shiftToks)).isEmpty,
      "fixture invalid: the fixed grid also survives the shift")
    // the tail-divergent row shares its first half's chunks only:
    // some dup, some novel
    assert(half._3 > 0L && half._3 < half._1)
    // token-mass conservation: chunks tile each planted doc exactly
    assert(base._4 === 64L && shifted._4 === 65L && half._4 === 64L)
    // per-doc accounting identities hold corpus-wide
    rows.values.foreach { case (nc, nk, nd, nt, mx) =>
      assert(nc === nk + nd)
      assert(mx <= nt && nc > 0L)
    }
  }

  test("collocations: exact top-k replay of the integer lift ranking") {
    val rows = TextOps.collocations(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5)))
    // independent driver replay over the raw corpus
    val segRe = TextOps.SegPattern.r
    val uni = scala.collection.mutable.Map.empty[String, Long]
      .withDefaultValue(0L)
    val bg = scala.collection.mutable.Map.empty[String, Long]
      .withDefaultValue(0L)
    Tables.documents(spark, sf).select("text").collect().foreach { r =>
      val ts = segRe.findAllIn(r.getString(0)).toSeq
      ts.foreach(t => uni(t) += 1)
      ts.sliding(2).foreach { w =>
        if (w.length == 2) bg(w(0) + " " + w(1)) += 1
      }
    }
    val n = uni.values.sum
    val expected = bg.toSeq
      .filter(_._2 >= TextOps.CollocMinCount)
      .map { case (b, cab) =>
        val Array(a, t2) = b.split(" ", 2)
        val lift = (BigInt(cab) * n * 100 /
          (BigInt(uni(a)) * uni(t2))).toLong
        (b, cab, uni(a), uni(t2), n, lift)
      }
      .sortBy { case (b, _, _, _, _, lift) => (-lift, b) }
      .take(TextOps.CollocTopK)
    assert(rows.toSeq === expected)
    // a collocation must beat independence: lift over 100 at the top
    assert(rows.head._6 > 100L)
  }

  test("quality calibration: exact per-bin replay and sure-tail behavior") {
    val scored = TextOps.qualityScore(spark, sf).collect()
      .map(r => (r.getDouble(2), r.getBoolean(3), r.getBoolean(4),
        r.getBoolean(5)))
    def bin(margin: Double): Int = {
      val m = math.round(margin * 1000000)
      val mc = math.min(math.max(m, -TextOps.CalClampMicro),
        TextOps.CalClampMicro - 1)
      ((mc + TextOps.CalClampMicro) / TextOps.CalBinMicro).toInt
    }
    val expected = scored.groupBy(t => bin(t._1)).view.mapValues { g =>
      (g.length.toLong, g.count(_._2).toLong, g.count(_._3).toLong,
        g.count(_._4).toLong)
    }.toMap
    val rows = TextOps.qualityCalibration(spark, sf).collect()
    assert(rows.map(_.getInt(0)).toSet === expected.keySet)
    rows.foreach { r =>
      val b = r.getInt(0)
      val (n, lr, rk, ag) = expected(b)
      assert(r.getLong(1) === b * TextOps.CalBinMicro -
        TextOps.CalClampMicro)
      assert((r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)) ===
        ((n, lr, rk, ag)), s"bin $b")
      assert(r.getLong(6) === rk * 1000000L / n)
      // lr_keep is a pure function of the bin: margins in a bin at or
      // above the zero boundary are all keep, below all drop (bin 4's
      // lower bound IS margin 0, exclusive on the keep side only for
      // margin exactly 0 — no fixture margin lands on exactly 0.0)
      if (b >= 4) assert(r.getLong(3) === r.getLong(2), s"bin $b lr")
      else assert(r.getLong(3) === 0L, s"bin $b lr")
    }
    // calibration story: the sure tails agree with the rules far more
    // often than not (the trained scorer is near-perfect on fixture)
    val lo = rows.minBy(_.getInt(0))
    val hi = rows.maxBy(_.getInt(0))
    assert(lo.getLong(6) < hi.getLong(6),
      "rule-keep rate must rise from the drop tail to the keep tail")
  }

  test("vocab growth: exact driver replay of the Heaps curve") {
    val rows = TextOps.vocabGrowth(spark, sf).collect()
      .map(r => r.getInt(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))))
      .toMap.toSeq.sortBy(_._1)
    // independent driver replay: decile by value-range arithmetic,
    // first-seen decile per distinct token, cumulative fold
    val docs = Tables.documents(spark, sf).select("doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getString(1)))
    val mn = docs.map(_._1).min
    val span = docs.map(_._1).max - mn + 1
    val segRe = TextOps.SegPattern.r
    def dec(id: Long): Int =
      (((id - mn + 1) * TextOps.VocabDeciles + span - 1) / span).toInt
    val first = scala.collection.mutable.Map.empty[String, Int]
    val perDec = scala.collection.mutable.Map.empty[Int, (Long, Long)]
      .withDefaultValue((0L, 0L))
    docs.sortBy(_._1).foreach { case (id, text) =>
      val d = dec(id)
      val ts = segRe.findAllIn(text).toSeq
      val (nd, nt) = perDec(d)
      perDec(d) = (nd + 1, nt + ts.size)
      ts.foreach { t =>
        if (!first.contains(t) || first(t) > d) first(t) = d
      }
    }
    rows.foreach { case (d, (docsCum, toksCum, vocabCum, vocabNew)) =>
      assert(docsCum ===
        perDec.filter(_._1 <= d).values.map(_._1).sum, s"docs@$d")
      assert(toksCum ===
        perDec.filter(_._1 <= d).values.map(_._2).sum, s"tokens@$d")
      assert(vocabCum === first.values.count(_ <= d).toLong, s"vocab@$d")
      assert(vocabNew === first.values.count(_ == d).toLong, s"new@$d")
    }
    // the tail checkpoint must account for the whole corpus exactly
    val (dl, (docsAll, toksAll, vocabAll, _)) = rows.last
    assert(dl === TextOps.VocabDeciles)
    assert(docsAll === docs.length.toLong)
    assert(toksAll === perDec.values.map(_._2).sum)
    assert(vocabAll === first.size.toLong)
    // cumulative columns are monotone non-decreasing in decile order
    rows.sliding(2).foreach {
      case Seq((_, a), (_, b)) =>
        assert(a._1 <= b._1 && a._2 <= b._2 && a._3 <= b._3)
      case _ =>
    }
  }

  test("vocab drift: exact driver replay of the TVD identity") {
    val r = TextOps.vocabDrift(spark, sf).head
    val counts = scala.collection.mutable.Map
      .empty[String, (Long, Long)].withDefaultValue((0L, 0L))
    Tables.documents(spark, sf).select("doc_id", "text").collect()
      .foreach { row =>
        val a = row.getLong(0) % 2 == 0
        row.getString(1).split(" ", -1).foreach { t =>
          val (ca, cb) = counts(t)
          counts(t) = if (a) (ca + 1, cb) else (ca, cb + 1)
        }
      }
    val nA = counts.values.map(_._1).sum
    val nB = counts.values.map(_._2).sum
    assert(r.getLong(0) === counts.values.count(_._1 > 0).toLong)
    assert(r.getLong(1) === counts.values.count(_._2 > 0).toLong)
    assert(r.getLong(2) ===
      counts.values.count(v => v._1 > 0 && v._2 > 0).toLong)
    assert(r.getLong(3) === counts.size.toLong)
    assert(r.getLong(4) === nA && r.getLong(5) === nB)
    val sumAbs = counts.values
      .map(v => (BigInt(v._1) * nB - BigInt(v._2) * nA).abs)
      .sum
    val tvd = BigDecimal(
      sumAbs.toDouble / (2.0 * nA.toDouble * nB.toDouble))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(r.getDouble(6) === tvd)
    assert(tvd >= 0.0 && tvd <= 1.0, s"TVD out of range: $tvd")
  }

  test("link graph: planted semantics, host normalization, edge conservation") {
    val byHost = TextOps.linkGraph(spark, sf).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    val ids = Tables.documents(spark, sf).select("doc_id")
      .collect().map(_.getLong(0))
    // hub: every third corpus doc + the planted double-link page (two
    // link INSTANCES, one source doc)
    val hubDocs = ids.count(_ % 3 == 0).toLong
    assert(byHost("hub.example.net") === (hubDocs + 2, hubDocs + 1))
    // src1 group: corpus link1 (doc_id%20==0), noisy link2 (3d≡1 mod 20
    // ⇒ d%20==7), and the planted WWW./:80/mixed-case page all merge
    val n1 = ids.count(_ % 20 == 0).toLong
    val n2 = ids.count(_ % 20 == 7).toLong
    assert(byHost("src1.example.com") === (n1 + n2 + 1, n1 + n2 + 1))
    // link-free and null pages contribute no edges: instance total is
    // exactly 2 per corpus doc + the hub thirds + 3 planted instances
    assert(byHost.values.map(_._1).sum === 2 * ids.length + hubDocs + 3)
    // hosts are normalized: lowercase, no www., no port
    byHost.keys.foreach { h =>
      assert(h == h.toLowerCase && !h.startsWith("www.") && !h.contains(":"),
        s"unnormalized host: $h")
    }
  }

  test("perplexity buckets: exact per-language terciles, monotone in score") {
    val rows = TextOps.perplexityBucket(spark, sf).collect()
      .map(r => (r.getString(1), r.getLong(2), r.getString(3)))
    assert(rows.nonEmpty && rows.forall(_._2 > 0))
    rows.groupBy(_._1).foreach { case (lang, rs) =>
      val n = rs.length.toLong
      val c = rs.groupBy(_._3).view.mapValues(_.length.toLong).toMap
      assert(c.getOrElse("head", 0L) === n / 3, s"$lang head size")
      assert(c.getOrElse("middle", 0L) === 2 * n / 3 - n / 3,
        s"$lang middle size")
      assert(c.getOrElse("tail", 0L) === n - 2 * n / 3, s"$lang tail size")
      // bucket boundaries are monotone in the score (ties may straddle)
      def scores(b: String) = rs.filter(_._3 == b).map(_._2)
      if (scores("head").nonEmpty && scores("middle").nonEmpty)
        assert(scores("head").min >= scores("middle").max)
      if (scores("middle").nonEmpty && scores("tail").nonEmpty)
        assert(scores("middle").min >= scores("tail").max)
    }
  }

  test("session eviction unpersists the memoized anchor and collocation frames") {
    val cacheManager = spark.sharedState.cacheManager
    def cached(df: org.apache.spark.sql.DataFrame) =
      cacheManager.lookupCachedData(
        df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]).nonEmpty
    // start from an empty cache so the final check sees only these queries
    SessionMemo.evictSession(spark)
    spark.catalog.clearCache()
    SparkEntry.queries("q_anchor_text")(spark, sf).collect()
    SparkEntry.queries("q_collocations")(spark, sf).collect()
    val frames = Seq(
      "anchorCounts" -> TextOps.anchorCounts(spark, sf),
      "collocUnigrams" -> TextOps.collocUnigrams(spark, sf))
    frames.foreach { case (n, df) => assert(cached(df), s"$n is not cached") }
    SessionMemo.evictSession(spark)
    frames.foreach { case (n, df) =>
      assert(!cached(df), s"$n stays cached after eviction")
    }
    assert(cacheManager.isEmpty,
      "a frame cached by the two queries outlives eviction")
  }
}
