package graft

import org.apache.spark.sql.execution.ExplainMode
import org.apache.spark.sql.functions._
import graft.engine._

/** Plan-quality gates (the "is this the plan you'd want at 100 TB" checks):
  * column pruning reaches the scan, small dims broadcast, top-k avoids a
  * global sort, approximate aggregates stay within error bounds, and
  * bucketed co-located joins run shuffle-free.
  */
class PlanSpec extends SparkSpec {

  private def plan(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.explainString(ExplainMode.fromString("formatted"))

  test("scan-projection prunes the parquet ReadSchema to selected columns") {
    val p = plan(RelOps.scanProject(spark, sf))
    assert(p.contains("ReadSchema"))
    assert(!p.contains("l_partkey"), "unused column read from parquet")
    assert(!p.contains("l_tax"), "unused column read from parquet")
    assert(p.contains("l_extendedprice"))
  }

  test("fact-dim join broadcasts the dim side") {
    assert(plan(Pipeline.joinInner(spark, sf)).contains("BroadcastHashJoin"))
    assert(plan(Pipeline.joinLeft(spark, sf)).contains("BroadcastHashJoin"))
  }

  test("top-k plans as TakeOrderedAndProject, not a global sort") {
    val p = plan(Ext.topK(spark, sf))
    assert(p.contains("TakeOrderedAndProject"))
  }

  test("filter pushdown reaches the parquet scan for pushable predicates") {
    val df = Tables.lineitem(spark, sf)
      .filter(col("l_quantity") > 30).select("l_orderkey", "l_quantity")
    val p = plan(df)
    assert(p.contains("PushedFilters") && p.contains("GreaterThan(l_quantity"))
  }

  test("null audit adds zero scans beyond the audited plan itself") {
    def scans(s: String): Int =
      s.split("\n").count(_.contains("Scan parquet"))
    // the N-column conditional-count audit fuses into ONE aggregate: same
    // number of table scans as the underlying basetable, not one per column
    val auditScans = scans(plan(Pipeline.nullAudit(spark, sf)))
    val baseScans = scans(plan(Pipeline.basetableStar(spark, sf)))
    assert(auditScans === baseScans)
  }

  test("ref-integrity audit broadcasts its dimension-sized parents") {
    val p = plan(Pipeline.refIntegrity(spark, sf))
    // every parent here is dimension-sized at fixture scale; none of the
    // six orphan checks should fall back to a shuffled join
    assert(p.contains("BroadcastHashJoin"))
    assert(!p.contains("SortMergeJoin"),
      "a dimension-sized parent fell back to a shuffled join")
  }

  test("scd2 rides one exchange + one sort for both window blocks") {
    val p = plan(Ext.scd2(spark, sf))
    val tree = p.split("\n").takeWhile(!_.startsWith("(1)"))
    val exchanges = tree.count(_.contains("Exchange"))
    val sorts = tree.count(_.contains("Sort"))
    val windows = tree.count(_.contains("Window"))
    assert(exchanges === 1, s"scd2 should shuffle once, saw $exchanges")
    assert(sorts === 1,
      s"second window block must reuse the sort, saw $sorts")
    assert(windows === 2)
    // unused event columns never reach the scan (ts's physical type
    // varies by fixture generation — nanos-as-long vs micros timestamp —
    // so assert the pruning, not the rendering)
    assert(p.contains("ReadSchema: struct<event_id:bigint,ts:"))
    assert(!p.contains("value:double") && !p.contains("props:string"),
      s"unused event columns reached the scan:\n$p")
  }

  test("event sequences ride one exchange for both windows + aggregate") {
    val p = plan(Ext.eventSequences(spark, sf))
    val tree = p.split("\n").takeWhile(!_.startsWith("(1)"))
    val exchanges = tree.count(_.contains("Exchange"))
    assert(exchanges === 1,
      s"event sequences should shuffle once, saw $exchanges:\n$p")
    // the cap filter sits between the windows and the collect — per-user
    // aggregation state is bounded before any list is built
    assert(p.contains("collect_list"))
  }

  test("bigram coverage joins the common set back as a broadcast") {
    val p = plan(graft.engine.TextOps.bigramCoverage(spark, sf))
    assert(p.contains("BroadcastHashJoin"),
      s"common-bigram join-back must broadcast:\n$p")
  }

  test("group top-k aggregates k-slot buffers: no Sort, no Window") {
    val p = plan(Ext.groupTopK(spark, sf))
    assert(p.contains("ObjectHashAggregate"),
      s"bounded top-k must run as an object aggregate:\n$p")
    val lines = p.split("\n")
    assert(!lines.exists(_.matches("""\(\d+\) Sort.*""")),
      s"bounded top-k must not sort anywhere:\n$p")
    assert(!lines.exists(_.matches("""\(\d+\) Window.*""")),
      s"bounded top-k must not fall back to a window:\n$p")
  }

  test("robust outliers: both stat join-backs broadcast, never shuffle") {
    val p = plan(Ext.robustOutliers(spark, sf))
    // group-count-sized median and MAD tables must come back as
    // broadcasts; a SortMergeJoin here would shuffle the fact twice
    assert(p.contains("BroadcastHashJoin"),
      s"median/MAD join-backs must broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"a stat join-back fell back to a shuffled join:\n$p")
  }

  test("approximate aggregates stay within 5% of exact") {
    val rows = Ext.approxStats(spark, sf).collect()
    rows.foreach { r =>
      val approx = r.getAs[Long]("approx_orders").toDouble
      val exact = r.getAs[Long]("exact_orders").toDouble
      // rsd=0.02 sketch: 10% is a 5-sigma bound, safely deterministic
      assert(math.abs(approx - exact) / exact < 0.10,
        s"approx $approx vs exact $exact")
    }
  }

  test("bucketed tables join without a shuffle exchange") {
    val tmp = suiteTempDir("buckets")
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10485760")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      Tables.orders(spark, sf)
        .write.bucketBy(8, "o_custkey").sortBy("o_custkey")
        .option("path", s"$tmp/orders").mode("overwrite")
        .saveAsTable("b_orders")
      Tables.customer(spark, sf)
        .write.bucketBy(8, "c_custkey").sortBy("c_custkey")
        .option("path", s"$tmp/customer").mode("overwrite")
        .saveAsTable("b_customer")
      val j = spark.table("b_orders").join(spark.table("b_customer"),
        col("o_custkey") === col("c_custkey"))
      val p = plan(j)
      assert(p.contains("SortMergeJoin"))
      assert(!p.contains("Exchange hashpartitioning"),
        s"bucketed join still shuffles:\n$p")
      assert(j.count() === Tables.orders(spark, sf).count())
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
      spark.sql("DROP TABLE IF EXISTS b_orders")
      spark.sql("DROP TABLE IF EXISTS b_customer")
    }
  }

  test("incremental probe joins the corpus band index with no corpus-side exchange") {
    // the 100 TB contract of the persisted index: repeat batches shuffle
    // only the delta, never the corpus. Broadcast and AQE are disabled so
    // the fixture-sized index takes the same SortMergeJoin shape a
    // production-sized one would, and the tree is concrete for the walk.
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.joins.SortMergeJoinExec
    val prevB = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10485760")
    val prevA = spark.conf.get("spark.sql.adaptive.enabled", "true")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      val cand = Dedup.incrementalProbeCandidates(spark, sf)
      val p = cand.queryExecution.executedPlan
      def isIndexScan(s: SparkPlan): Boolean = s match {
        case f: FileSourceScanExec =>
          f.tableIdentifier.exists(_.table.startsWith("graft_corpus_band_index"))
        case _ => false
      }
      val smj = p.collect { case j: SortMergeJoinExec => j }
      assert(smj.nonEmpty, s"probe did not plan as SortMergeJoin:\n$p")
      val idxSide = smj.head.children
        .find(_.collectFirst { case s if isIndexScan(s) => s }.isDefined)
      assert(idxSide.isDefined, s"no bucketed index scan under the join:\n$p")
      assert(idxSide.get.collect { case e: ShuffleExchangeExec => e }.isEmpty,
        s"corpus index side shuffles:\n${idxSide.get}")
      // and the two physical shapes agree on the answer
      val viaIndex = cand.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(viaIndex.nonEmpty)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevB)
      spark.conf.set("spark.sql.adaptive.enabled", prevA)
    }
  }

  test("frozen-confusion union reuses the tiny cell exchange (one star scan)") {
    // the q_lr_confusion scale contract: the metric branch and the
    // histogram branch both aggregate the SAME <= (2*clamp+1)*4-row
    // (bucket, pred, actual) cell table — r21: the cell table is CACHED
    // (bounded by construction), so the star-join scan and the margin
    // scoring run AT MOST ONCE no matter how the union branches plan
    // (AQE exchange reuse deduped them before; over the shared cached
    // labeled basetable the deduplicated branch stops canonicalizing
    // equal and reuse fails, so the structural pin replaced it). The
    // assertion: NO fresh cell exchange in the executed plan (the
    // cache's population plan is not a child of the scans that read
    // it) and at least two in-memory cache scans, the union branches
    // reading the cached cell table; a fresh exchange would mean a
    // branch recomputes the scoring pass inline.
    import graft.engine.MlSuite
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec,
      QueryStageExec}
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.catalyst.expressions.Attribute
    import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
    val df = MlSuite.lrConfusion(spark, sf)
    df.collect()
    // walk REAL executed operators (through AQE stages; cached
    // relations' population plans are deliberately not children)
    def ops(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => p +: ops(a.executedPlan)
      case q: QueryStageExec => p +: ops(q.plan)
      case _ => p +: p.children.flatMap(ops)
    }
    val all = ops(df.queryExecution.executedPlan)
    val freshCellExchanges = all.count {
      case s: ShuffleExchangeExec => s.outputPartitioning match {
        case h: HashPartitioning =>
          h.expressions.collect { case a: Attribute => a.name } ==
            Seq("bucket", "pred", "actual")
        case _ => false
      }
      case _ => false
    }
    val cellCacheScans = all.count(_.isInstanceOf[InMemoryTableScanExec])
    assert(freshCellExchanges == 0 && cellCacheScans >= 2,
      s"a confusion union branch recomputes the scoring pass inline " +
        s"(fresh cell exchanges=$freshCellExchanges, cache " +
        s"scans=$cellCacheScans):\n${df.queryExecution.executedPlan}")
  }

  test("substring ingest gate probes the bucketed sid index with no corpus-side exchange") {
    // the q_dedup_incremental_bucketed contract applied to the
    // exact-substring gate: repeat batches pay delta-sized work; the
    // standing corpus's sid set reads CO-LOCATED from the bucketBy(sid)
    // table. Broadcast+AQE off so the semi-join shape is concrete.
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.joins.SortMergeJoinExec
    val prevB = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10485760")
    val prevA = spark.conf.get("spark.sql.adaptive.enabled", "true")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      val df = Dedup.substringIncrementalBucketed(spark, sf)
      val p = df.queryExecution.executedPlan
      def isIndexScan(s: SparkPlan): Boolean = s match {
        case f: FileSourceScanExec =>
          f.tableIdentifier.exists(_.table.startsWith("graft_substr_sid_index"))
        case _ => false
      }
      val smj = p.collect { case j: SortMergeJoinExec => j }
        .filter(_.collectFirst { case s if isIndexScan(s) => s }.isDefined)
      assert(smj.nonEmpty, s"sid probe did not plan as SortMergeJoin:\n$p")
      val idxSide = smj.head.children
        .find(_.collectFirst { case s if isIndexScan(s) => s }.isDefined)
      assert(idxSide.isDefined)
      assert(idxSide.get.collect { case e: ShuffleExchangeExec => e }.isEmpty,
        s"corpus sid index side shuffles:\n${idxSide.get}")
      // bit-identical to the recompute twin
      def canon(d: org.apache.spark.sql.DataFrame) = d.collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(canon(df.select("doc_new", "span_start", "span_end")) ===
        canon(Dedup.substringIncremental(spark, sf)
          .select("doc_new", "span_start", "span_end")))
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevB)
      spark.conf.set("spark.sql.adaptive.enabled", prevA)
    }
  }

  test("incremental ANN probes a partition-pruned cell index, corpus shuffle-free") {
    // the per-batch contract: the probe reads ONLY the probed cells'
    // partitions of the persisted index (literal partition filter), and
    // the index side of the candidate join never shuffles — the batch is
    // the broadcast side. AQE off so the physical tree is concrete.
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
    val prevA = spark.conf.get("spark.sql.adaptive.enabled", "true")
    try {
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      val df = Similarity.annIncremental(spark, sf)
      val p = df.queryExecution.executedPlan
      def isIdxScan(s: SparkPlan): Boolean = s match {
        case f: FileSourceScanExec => f.relation.location.rootPaths
          .exists(_.toString.contains("graft_cell_index"))
        case _ => false
      }
      val scans = p.collect { case f: FileSourceScanExec if isIdxScan(f) => f }
      assert(scans.nonEmpty, s"no cell-index scan in plan:\n$p")
      assert(scans.forall(_.partitionFilters.nonEmpty),
        s"cell filter did not reach the index scan as a partition filter:\n$p")
      val bhj = p.collect { case j: BroadcastHashJoinExec => j }
        .filter(_.collectFirst { case s if isIdxScan(s) => s }.isDefined)
      assert(bhj.nonEmpty, s"index probe is not a broadcast join:\n$p")
      // only the INDEX side must be shuffle-free; the batch side windows
      // (delta-sized) before it broadcasts
      val idxSide = bhj.head.children
        .find(_.collectFirst { case s if isIdxScan(s) => s }.isDefined)
      assert(idxSide.isDefined)
      assert(idxSide.get.collect { case e: ShuffleExchangeExec => e }.isEmpty,
        s"corpus index side shuffles:\n${idxSide.get}")
      // behavior: batch queries only, corpus neighbors only, k-bounded
      val rows = df.collect()
      assert(rows.nonEmpty)
      assert(rows.forall(_.getLong(0) < Similarity.NQueryVecs))
      assert(rows.forall(_.getLong(1) >= Similarity.NQueryVecs))
      assert(rows.groupBy(_.getLong(0)).values
        .forall(_.length <= Similarity.TopK))
    } finally { spark.conf.set("spark.sql.adaptive.enabled", prevA) }
  }

  test("pagerank unrolled plan reuses the edge exchange across rounds") {
    // the degree-joined edge subtree is identical in every unrolled
    // round, so the planner must materialize its shuffle once and feed
    // rounds 2..n from a ReusedExchange — re-shuffling the (big) edge
    // list per round is exactly the scale bug this gate pins out. AQE
    // off so the reuse is visible in the static physical tree.
    import org.apache.spark.sql.execution.exchange.{ReusedExchangeExec, ShuffleExchangeExec}
    val prevA = spark.conf.get("spark.sql.adaptive.enabled", "true")
    try {
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      val p = Linkage.pageRank(spark, sf).queryExecution.executedPlan
      val reused = p.collect { case r: ReusedExchangeExec => r }
      assert(reused.nonEmpty, s"no exchange reuse in unrolled plan:\n$p")
      // with PrIters rounds sharing one edge subtree, the distinct edge
      // exchanges must not scale with the round count: the shuffles that
      // remain are the base joins + per-round aggregations, while ≥
      // (PrIters - 1) edge-side repeats collapse into ReusedExchange
      assert(reused.size >= Linkage.PrIters - 1,
        s"expected ≥${Linkage.PrIters - 1} reused exchanges, " +
          s"got ${reused.size}:\n$p")
      // what remains per round is 2 RANK-sized shuffles (the rank side
      // of the join + the contribution aggregation) over the base's ~4
      // edge-build shuffles — the edge list itself is never re-shuffled
      val live = p.collect { case e: ShuffleExchangeExec => e }
      assert(live.size <= 4 + 2 * Linkage.PrIters,
        s"shuffle count ${live.size} grows beyond 2/round:\n$p")
    } finally spark.conf.set("spark.sql.adaptive.enabled", prevA)
  }

  test("dedup plans never narrow to a single partition") {
    // the portable-hash token ids are pure map-side: no global-window
    // dictionary, so nothing in any dedup plan may gather all rows into
    // one task (SinglePartition exchange or partition-less window)
    Seq(Dedup.dedupMinhash _, Dedup.dedupNgramJaccard _,
        Dedup.dedupSimhash _).foreach { q =>
      val p = plan(q(spark, sf))
      // a partition-less window also manifests as this exchange, so one
      // check covers both plan shapes
      assert(!p.contains("SinglePartition"),
        s"single-partition exchange in dedup plan:\n$p")
    }
  }

  test("near-dup self-join keys on the chunk grid, not the label alone") {
    // a label-only equi-join would put a hot label's whole |block|² in one
    // task; the grid keys (label, gi, gj) must reach the physical join
    val p = plan(Similarity.embedNearDup(spark, sf))
    val joinLines = p.split("\n").filter(_.contains("Join"))
    assert(joinLines.exists(l => l.contains("gi") && l.contains("gj")),
      s"near-dup join does not key on the chunk grid:\n$p")
  }

  test("curation funnel stays a two-exchange plan") {
    val p = plan(Curation.corpusCurate(spark, sf))
    // detail-section headers, not the "+-"-prefixed tree rendering (the
    // latter made this gate count zero and pass vacuously)
    val exchanges = p.split("\n")
      .count(_.matches("""\(\d+\) Exchange\s*"""))
    // one shuffle for the fingerprint-keyed keeper window, one for the
    // per-source rollup — gates composition from quietly adding passes
    assert(exchanges <= 2, s"curation funnel grew beyond 2 exchanges:\n$p")
    // the keeper window must shuffle on the portable fingerprints, never
    // the raw document bytes: no exchange key may reference text
    val exchangeKeys = p.split("\n")
      .filter(_.contains("hashpartitioning"))
    assert(exchangeKeys.nonEmpty && !exchangeKeys.exists(_.contains("text#")),
      s"curation shuffle keys on raw text:\n$p")
    // count detail-section scan headers ("(n) Scan parquet"), not the
    // tree rendering too
    assert(p.split("\n").count(
      _.matches("""\(\d+\) Scan parquet\s*""")) === 1,
      s"curation funnel must scan documents once:\n$p")
  }

  test("decontamination broadcasts the benchmark shingle set") {
    val p = plan(Dedup.decontaminate(spark, sf))
    // the corpus must never shuffle against itself: the benchmark side is
    // eval-suite-sized and rides a broadcast into a hash join
    assert(p.contains("BroadcastHashJoin"),
      s"benchmark side must broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"no corpus-sized shuffle join in decontamination:\n$p")
    // the hit/total split must plan as two single-countDistinct
    // aggregates joined back — a dual-countDistinct groupBy would plan
    // an Expand that doubles every corpus row through the shuffle
    assert(!p.contains("Expand"),
      s"dual-countDistinct Expand crept back into decontamination:\n$p")
  }

  test("image decontamination scans and decodes the media table once") {
    // the bench side hashes the benchmark rows alone, so only the corpus
    // side reads the documents parquet behind the media table
    val p = plan(Multimodal.imageDecontaminate(spark, sf))
    assert(p.split("\n").count(
      _.matches("""\(\d+\) Scan parquet\s*""")) === 1,
      s"image decontamination must scan the media table once:\n$p")
  }

  test("bloom decontamination: sort-merge sid join, bloom prunes the probe") {
    // the bloom variant is the benchmark-set-too-big-to-broadcast plan:
    // the exact sid join must be the pinned sort-merge (no broadcast of
    // the bench side), and the k-probe bitmap test must sit on the corpus
    // side as a filter BEFORE that exchange
    val df = Dedup.decontaminateBloom(spark, sf)
    val p = plan(df)
    assert(p.contains("SortMergeJoin"),
      s"bench sid join must be sort-merge in the bloom variant:\n$p")
    assert(p.contains("shiftleft"),
      s"bloom bit test does not reach the plan:\n$p")
    // exactness: bloom + exact confirm == the broadcast path, bit for bit
    val a = df.orderBy("doc_id").collect().map(_.toSeq)
    val b = Dedup.decontaminate(spark, sf)
      .orderBy("doc_id").collect().map(_.toSeq)
    assert(a.length === b.length && a.zip(b).forall(t => t._1 == t._2),
      "bloom-prefiltered result diverges from broadcast decontamination")
  }

  test("incremental dedup probes the corpus with the delta only") {
    // every band-key join must be delta×corpus — a corpus self-join would
    // rebuild the full corpus-vs-corpus pass the incremental shape exists
    // to avoid. Checked structurally on the physical plan: each (band,
    // bkey)-keyed join has exactly one side carrying the delta slice
    // predicate (`% 11 = 0`) and one carrying the corpus slice (`% 11 > 0`)
    val df = Dedup.dedupIncremental(spark, sf)
    val bandJoins = df.queryExecution.sparkPlan.collect {
      case j: org.apache.spark.sql.execution.joins.BaseJoinExec
          if j.leftKeys.exists(_.toString.contains("bkey")) => j
    }
    assert(bandJoins.size === 2,
      s"expected the pairwise + star band-key joins, got ${bandJoins.size}")
    bandJoins.foreach { j =>
      val sides = Seq(j.left.toString, j.right.toString)
      assert(sides.count(_.contains("% 11) = 0")) === 1,
        s"band join must have exactly one delta side:\n${j.treeString}")
      assert(sides.count(_.contains("% 11) > 0")) === 1,
        s"band join must have exactly one corpus side:\n${j.treeString}")
    }
  }

  test("IVF probes push the query filter to the scan; candidates hash-join") {
    val p = plan(Similarity.annIvf(spark, sf))
    // vec_id < NQueryVecs sits on the window partition key, so Catalyst
    // must push it below the ranking straight into the probe-side scan —
    // the probe branch scores NQueryVecs vectors, not the corpus twice
    assert(p.contains("LessThan(vec_id"),
      s"probe filter must reach a parquet scan:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"cell-keyed candidate join must be a broadcast hash join:\n$p")
    assert(!p.contains("SortMergeJoin"), s"no corpus shuffle join:\n$p")
  }

  test("quantization broadcasts its dimension codebook; sampling is scan-only") {
    // the per-dimension min/max codebook is 64 rows — an index artifact
    // that must ride a broadcast back to the dimension stream, never a
    // corpus-sized shuffle join
    val pq = plan(Similarity.embedQuantize(spark, sf))
    assert(pq.contains("BroadcastHashJoin"),
      s"codebook join must broadcast:\n$pq")
    assert(!pq.contains("SortMergeJoin"),
      s"corpus-sized shuffle join in quantization:\n$pq")
    // weighted sampling is ONE map-side pass: any Exchange means the
    // scan-filter-project shape regressed into a shuffle
    val ps = plan(Curation.weightedSample(spark, sf))
    assert(!ps.contains("Exchange"),
      s"weighted sampling must plan zero exchanges:\n$ps")
  }

  test("random projection: corpus path shuffle-free, codebook a broadcast") {
    // the only exchanges allowed are inside the 1-row codebook build
    // (dimension aggregate + its collapse); the corpus side must be
    // scan → broadcast-join → map-side HOF folds → generate, with NO
    // join machinery heavier than the 1-row broadcast nested loop
    val p = plan(Similarity.embedProject(spark, sf))
    assert(p.contains("BroadcastNestedLoopJoin"),
      s"codebook must reach the corpus as a 1-row broadcast:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffleHashJoin"),
      s"corpus-sized join in the projection:\n$p")
    // the corpus scan must feed the broadcast join DIRECTLY — any
    // Exchange between them would mean the map-side HOF folds regressed
    // into a shuffle (exchanges inside the memoized codebook build's
    // cached sub-plan are expected and excluded by this shape check)
    val lines = p.split("\n")
    val bnlj = lines.indexWhere(_.contains("BroadcastNestedLoopJoin"))
    assert(bnlj >= 0 && lines(bnlj + 1).contains(":- Scan parquet"),
      s"corpus scan is not the join's direct child:\n$p")
  }

  test("split leakage: pair table broadcasts against both endpoint labels") {
    // near-dup pairs are dup-sized (<< corpus): both label joins must
    // broadcast the pair side, never shuffle the corpus labels
    val p = plan(Dedup.splitLeakage(spark, sf))
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffleHashJoin"),
      s"corpus-sized shuffle join in the leakage gate:\n$p")
    assert(p.split("\n").count(_.contains("BroadcastHashJoin")) >= 2,
      s"both endpoint joins must broadcast the pair side:\n$p")
  }

  test("inverted index builds in one exchange; snapshot diff shuffles " +
    "fingerprints, not text") {
    // the in-row array_distinct must keep (doc,term) dedup map-side: a
    // pair-keyed distinct() would add a second exchange before the
    // term-keyed window, and the final groupBy must reuse the window's
    // partitioning rather than re-shuffling
    val p = plan(graft.engine.Linkage.invertedIndex(spark, sf))
    // count detail-section headers "(n) Exchange" — the tree rendering
    // prefixes nodes with "+-", which a startsWith miss-counts as zero
    val exchanges = p.split("\n")
      .count(_.matches("""\(\d+\) Exchange\s*"""))
    assert(exchanges == 1,
      s"inverted index must build in exactly one exchange:\n$p")
    // the snapshot diff's join may move 32-byte md5 fingerprints but
    // never raw document text
    val pd = plan(graft.engine.Linkage.snapshotDiff(spark, sf))
    val keys = pd.split("\n").filter(_.contains("hashpartitioning"))
    assert(!keys.exists(_.contains("text#")),
      s"snapshot diff shuffles raw text:\n$pd")
  }

  test("no query plans a CartesianProduct") {
    // nested-loop joins are sanctioned only where the build side is a
    // broadcast of bounded size: the cosine top-k probe set (NQueryVecs
    // rows), q_agg_multi's 1-row collect-scalar kept in-plan, and
    // q_ann_ivf's nCells-row centroid table (every vector scores every
    // centroid by design) — and even there it must be the BROADCAST
    // variant, never a CartesianProduct (which shuffles both full sides
    // everywhere). ml_* queries return driver-assembled local metric
    // tables (no join plans) and pay model fitting to construct — skipped.
    // q_salient_terms carries a 1-row broadcast corpus-size factor, the
    // same collect-scalar-kept-in-plan shape as q_agg_multi.
    // q_semantic_dedup and q_ann_incremental score vectors against the
    // same nCells-row broadcast centroid table as q_ann_ivf
    // q_ann_pq scans the compact code index against a broadcast of the
    // per-query lookup tables — the PQ analog of cosine top-k's probe set
    // q_bm25, q_unigram_prob, and q_drift_ks carry the same 1-row
    // corpus-totals broadcast as q_salient_terms
    // q_embed_project joins its 1-row array codebook the same way (the
    // dimension-sized min/max table collapsed to one broadcast row)
    // q_watermark_audit anchors its planted late rows to the 1-row
    // corpus-max broadcast (same collect-scalar-kept-in-plan shape)
    // q_ann_recall embeds q_sim_cosine_topk as its truth side, so it
    // inherits that query's sanctioned broadcast probe join
    val sanctionedNlj = Set("q_sim_cosine_topk", "q_agg_multi", "q_ann_ivf",
      "q_salient_terms", "q_semantic_dedup", "q_ann_incremental",
      // q_bm25_search folds its 1-row corpus-totals broadcast like
      // q_bm25 (same collect-scalar-kept-in-plan shape)
      "q_kmeans_refine", "q_ann_pq", "q_bm25", "q_bm25_search",
      "q_unigram_prob",
      "q_drift_ks", "q_embed_project", "q_watermark_audit",
      // q_bloom_join broadcasts its 1-row 8 KiB bitmap into the probe
      // filter; q_dup_transitivity folds three 1-row graph aggregates
      // (edges/wedges/triangles) — both the collect-scalar-kept-in-plan
      // shape
      // q_target_encode joins its 1-row global-prior aggregate the same
      // way (collect-scalar kept in-plan); q_negative_sample fans its
      // anchors out over a 1-row corpus-count broadcast
      // q_ann_nprobe_sweep embeds the brute-force truth pass (the
      // NQueryVecs-probe broadcast cross join q_sim_cosine_topk and
      // q_ann_recall are sanctioned for) plus the centroid broadcast
      "q_ann_nprobe_sweep",
      "q_ann_recall", "q_bloom_join", "q_dup_transitivity",
      "q_target_encode", "q_negative_sample",
      // q_coverage_report's 1-row corpus-totals broadcast (same shape)
      // q_mix_temperature folds per-source token sums against its 1-row
      // corpus-totals broadcast (sum tokens + sum tokens^T) — same shape
      // q_epoch_plan folds the source-dimension rows against TWO 1-row
      // totals broadcasts (budget terms, then shortfall/headroom) —
      // same collect-scalar-kept-in-plan shape
      "q_epoch_plan",
      // q_vocab_drift folds per-term side counts against its 1-row
      // side-totals broadcast (N_a, N_b) — same shape
      "q_coverage_report", "q_mix_temperature", "q_vocab_drift",
      // q_vocab_growth assigns ingest-order deciles from its 1-row
      // min/span bounds broadcast (collect-scalar kept in-plan) —
      // the alternative, a global row_number, would be a
      // single-partition sort at corpus scale
      "q_vocab_growth",
      // q_index_forget assembles its one accounting row from four 1-row
      // aggregate broadcasts (before/deleted/dirty/patched) — the
      // collect-scalar-kept-in-plan shape
      "q_index_forget",
      // q_collocations folds the 1-row corpus-token total into the
      // lift ratio (same collect-scalar shape as q_bm25)
      "q_collocations",
      // q_dataset_card assembles its one release row from the 1-row
      // top-language pick and two dup-stat aggregates (collect-scalar
      // kept in-plan, like q_index_forget's accounting row)
      "q_dataset_card",
      // q_data_contract folds its 1-row uniqueness aggregate into the
      // constraint unpivot (collect-scalar kept in-plan); q_ingest_report
      // embeds that same contract pass verbatim
      "q_data_contract", "q_ingest_report",
      // q_kmv_jaccard pairs sources with a `<` non-equi join where BOTH
      // sides are 1-row-per-source aggregates (sources² pair rows of
      // O(k) arrays — dimension-sized by construction, never corpus rows)
      "q_kmv_jaccard",
      // q_dedup_sensitivity's suffix-sum rollup joins the 5-row literal
      // threshold dimension to ≤5 bucket-count aggregate rows with a
      // `>=` non-equi join (5×5 bounded by the sweep size, never corpus
      // rows); q_lsh_recall_sampled folds its 1-row panel-size aggregate
      // (collect-scalar kept in-plan, the q_bm25 shape)
      "q_dedup_sensitivity", "q_lsh_recall_sampled")
    SparkEntry.queries.foreach { case (name, fn) =>
      if (!name.startsWith("ml_")) {
        val p = plan(fn(spark, sf))
        assert(!p.contains("CartesianProduct"),
          s"$name plans a CartesianProduct:\n$p")
        if (name == "q_sim_cosine_topk")
          assert(p.contains("BroadcastNestedLoopJoin"),
            s"cosine top-k lost its broadcast cross join:\n$p")
        else if (!sanctionedNlj(name))
          assert(!p.contains("BroadcastNestedLoopJoin"),
            s"$name plans an unexpected nested-loop join:\n$p")
      }
    }
  }

  test("SinglePartition exchanges only sit above aggregates (all queries)") {
    // a SinglePartition exchange is sanctioned ONLY when its input is
    // already aggregate-bounded (global aggs, 1-row collect-scalar
    // feedback kept in-plan, post-aggregate windows like q_domain_mix's
    // nSources-row frame): the single task then receives pre-aggregated
    // rows, never raw table rows. Checked structurally — the exchange's
    // tree child must be an Aggregate — so any future query that funnels
    // an unbounded frame through one task fails here by name.
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      if (!name.startsWith("ml_")) {
        val p = plan(fn(spark, sf))
        val lines = p.split("\n")
        // detail-section ids whose Exchange argument is SinglePartition
        val spIds = lines.zipWithIndex.collect {
          case (l, i) if l.matches("""\(\d+\) Exchange\s*""") &&
              lines.drop(i + 1).takeWhile(!_.matches("""\(\d+\) .*"""))
                .exists(_.contains("SinglePartition")) =>
            l.replaceAll("""^\((\d+)\).*""", "$1")
        }
        spIds.foreach { id =>
          val treeIdx = lines.indexWhere(_.matches(s""".*Exchange \\($id\\)\\s*"""))
          assert(treeIdx >= 0, s"$name: no tree line for Exchange ($id):\n$p")
          assert(lines(treeIdx + 1).contains("Aggregate"),
            s"$name: SinglePartition exchange ($id) above a non-aggregate " +
              s"(unbounded rows into one task):\n${lines(treeIdx)}\n" +
              s"${lines(treeIdx + 1)}\n$p")
        }
      }
    }
  }

  test("chunk dedup: fingerprints travel, text stays put, two exchanges") {
    val p = plan(Dedup.chunkDedup(spark, sf))
    val exchanges = p.split("\n")
      .count(_.matches("""\(\d+\) Exchange\s*"""))
    // one shuffle on fp for the keep-first window, one on doc_id for the
    // per-doc rollup — composition must not quietly add passes
    assert(exchanges <= 2, s"chunk dedup grew beyond 2 exchanges:\n$p")
    val exchangeKeys = p.split("\n").filter(_.contains("hashpartitioning"))
    assert(exchangeKeys.nonEmpty &&
      !exchangeKeys.exists(l => l.contains("text#") || l.contains("t#")),
      s"chunk dedup shuffles raw text/token arrays:\n$p")
    assert(p.split("\n").count(
      _.matches("""\(\d+\) Scan parquet\s*""")) === 1,
      s"chunk dedup must scan documents once:\n$p")
  }

  test("bloom join: bitmap broadcasts; probe filter sits below the join") {
    val p = plan(engine.JoinOps.bloomJoin(spark, sf))
    // the 1-row bitmap must ride a broadcast (nested-loop on a bounded
    // build side), and the bit-test filter must appear in the plan (the
    // probe-side reduction) — never a shuffle of the bitmap
    assert(p.contains("BroadcastNestedLoopJoin"),
      s"bitmap lost its broadcast:\n$p")
    assert(p.contains("shiftleft"),
      s"bloom bit-test filter missing from the probe side:\n$p")
  }

  test("mv refresh: reads persisted grain-sized state, not the base rows") {
    val p = plan(engine.JoinOps.mvRefresh(spark, sf))
    // exactly two parquet scans: the persisted MV partials + the delta
    // carve of lineitem — a third scan would mean the base rows are
    // being re-read (the corpus-sized refresh this operator exists to
    // avoid)
    assert(p.split("\n").count(
      _.matches("""\(\d+\) Scan parquet\s*""")) === 2,
      s"mv refresh must scan state + delta only:\n$p")
    assert(p.contains("graft_mv_base"),
      s"mv refresh does not read the persisted partials:\n$p")
  }

  test("semi/anti joins keep their semi shapes; nation broadcasts") {
    val p = plan(engine.JoinOps.semiAnti(spark, sf))
    assert(p.contains("LeftSemi"), s"semi join degraded:\n$p")
    assert(p.contains("LeftAnti"), s"anti join degraded:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"nation dim must broadcast:\n$p")
  }

  test("dup transitivity: closure check is a semi join on the pair graph") {
    val p = plan(Dedup.dupTransitivity(spark, sf))
    assert(p.contains("LeftSemi"),
      s"triangle closure must be a semi join (no wedge duplication):\n$p")
  }

  test("pit join is join-free: one union-sort pass, no pair explosion") {
    val p = plan(Ext.pitJoin(spark, sf))
    assert(!p.contains("SortMergeJoin") && !p.contains("BroadcastHashJoin")
      && !p.contains("BroadcastNestedLoopJoin"),
      s"point-in-time lookup must be the union-sort rewrite, not an " +
        s"interval join:\n$p")
    // two user_id exchanges: one under the scd2 history's own windows,
    // one for the merged stream's carry-forward window (Union does not
    // propagate its children's partitioning) — anything more means a
    // join or extra pass crept in
    val exchanges = p.split("\n")
      .count(_.matches("""\(\d+\) Exchange\s*"""))
    assert(exchanges <= 2,
      s"pit join grew beyond the history + merged-stream exchanges:\n$p")
  }

  test("SQL EXISTS rewrites to a semi join (no subquery re-execution)") {
    val p = plan(SqlEntry.sqlQ4(spark, sf))
    assert(p.contains("LeftSemi"),
      s"correlated EXISTS must plan as a left-semi join:\n$p")
  }

  test("SQL IN-subquery (Q18) rewrites to a semi join on the agg list") {
    val p = plan(SqlEntry.sqlQ18(spark, sf))
    assert(p.contains("LeftSemi"),
      s"IN (SELECT … HAVING) must plan as a left-semi join:\n$p")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("SQL NOT EXISTS (Q22) plans anti join; avg gate is scalar subqueries") {
    val p = plan(SqlEntry.sqlQ22(spark, sf))
    assert(p.contains("LeftAnti"),
      s"NOT EXISTS must plan as a left-anti join:\n$p")
    // the balance-average gate must ride scalar subqueries (1-row
    // broadcasts), never a row-space nested-loop join
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("SQL window top-n plans ONE Window and no join") {
    val p = plan(SqlEntry.sqlWindowTopN(spark, sf))
    val windows = p.split("\n")
      .count(_.matches("""\(\d+\) Window\s*"""))
    assert(windows === 1,
      s"row_number top-n must be exactly one Window pass:\n$p")
    // the naive translation is a self-join against the per-customer
    // max/rank — any Join node means the window path degraded
    assert(!p.contains("Join"),
      s"window top-n must not plan a join:\n$p")
  }

  test("SQL ROLLUP plans the Expand grouping-set path") {
    val p = plan(SqlEntry.sqlRollup(spark, sf))
    assert(p.contains("Expand"),
      s"GROUP BY ROLLUP must plan an Expand:\n$p")
    assert(!p.contains("Join") && !p.contains("CartesianProduct"),
      s"rollup must be one expand+aggregate, no join:\n$p")
  }

  test("SQL NOT IN plans a broadcast null-aware anti join (NAAJ)") {
    val p = plan(SqlEntry.sqlNotIn(spark, sf))
    // NOT IN's three-valued NULL semantics need the null-aware variant:
    // a single-column NAAJ plans as BroadcastHashJoin LeftAnti with a
    // null-aware broadcast build of the distinct key list — never a
    // row-space nested loop, and the shipdate cut must reach the scan
    assert(p.contains("LeftAnti") && p.contains("BroadcastHashJoin"),
      s"NOT IN must plan as a broadcast null-aware anti join:\n$p")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"NOT IN degraded to a nested loop:\n$p")
    assert(p.contains("GreaterThanOrEqual(l_shipdate"),
      s"shipdate filter must push to the lineitem scan:\n$p")
  }

  test("SQL extension surface: UDAF rides partial ObjectHashAggregate, no join") {
    val p = plan(SqlEntry.sqlKmv(spark, sf))
    // the registered kmv_sketch Aggregator must plan as a TRUE partial
    // aggregate (map-side combine before each Exchange — the <=k longs
    // per group wire bound), and the distinct + sketch combination must
    // stay a multi-phase aggregate, never a join-back
    assert(p.contains("ObjectHashAggregate"),
      s"kmv_sketch UDAF lost its ObjectHashAggregate machinery:\n$p")
    assert(!p.contains("Join") && !p.contains("CartesianProduct"),
      s"SQL sketch rollup must be pure aggregation, no join:\n$p")
  }

  test("SQL correlated scalar subquery de-correlates to agg + join") {
    val p = plan(SqlEntry.sqlTopOrder(spark, sf))
    // the per-customer max must be ONE aggregate joined back, not a
    // per-row subquery re-execution
    assert(p.contains("HashAggregate") &&
      (p.contains("BroadcastHashJoin") || p.contains("SortMergeJoin")),
      s"correlated scalar subquery did not de-correlate:\n$p")
    assert(!p.contains("ScalarSubquery"),
      s"scalar subquery survived into the physical plan:\n$p")
  }

  test("rolling range window rides one user_id exchange") {
    val p = plan(Ext.rollingRange(spark, sf))
    assert(p.split("\n").count(_.matches("""\(\d+\) Exchange\s*""")) === 1,
      s"trailing-range window must be one user_id exchange:\n$p")
  }

  test("array stats fold inside the row: a zero-exchange map-side plan") {
    val p = plan(TextOps.arrayStats(spark, sf))
    assert(p.split("\n").count(_.matches("""\(\d+\) Exchange\s*""")) === 0,
      s"HOF token stats must not shuffle (explode regression?):\n$p")
    assert(p.split("\n").count(
      _.matches("""\(\d+\) Generate\s*""")) === 0,
      s"HOF token stats must not explode:\n$p")
  }

  test("partitioned export: the lang predicate prunes partitions at scan") {
    // the read-back must skip non-selected language directories entirely:
    // the lang predicate belongs in the scan's PartitionFilters (pruning),
    // not in a per-row Filter above the scan
    val tmp = suiteTempDir("part-export")
    graft.sources.JsonCsvSources.writeParquetPartitioned(
      Tables.documents(spark, sf)
        .select("doc_id", "lang", "source", "n_chars"), tmp, "lang")
    val p = plan(SourceQueries.prunedReadBack(spark, tmp))
    val pf = p.split("\n").filter(_.contains("PartitionFilters"))
    assert(pf.exists(l => l.contains("lang") && l.contains("en")),
      s"lang predicate does not reach PartitionFilters:\n$p")
  }

  test("adaptive agg: per-family plans Expand-free; the multi-distinct " +
      "default carries Expand") {
    // the whole point of the per-family shape is removing Catalyst's
    // multi-distinct Expand (one input replica per aggregate family)
    // from the first exchange: its plan must aggregate on
    // (event_type, family column) first with NO Expand node and join
    // the family results back BROADCAST, while Catalyst's default for
    // two distinct families must show the Expand it exists to avoid.
    // (A SINGLE distinct family needs no hand-lowering — Catalyst's
    // single-distinct rewrite already plans the two-level shape; this
    // gate pins the multi-distinct boundary where the trade is real.)
    import graft.operators.AdaptiveAgg
    val fact = Tables.events(spark, sf)
      .select(col("event_type"), col("user_id"),
        to_date(col("ts")).as("day"), col("value"))
    val perFam = plan(AdaptiveAgg.buildAgg(fact, "event_type",
      Seq("user_id", "day"), "value", AdaptiveAgg.PerFamily))
    assert(!perFam.contains("Expand"),
      s"per-family shape must not Expand:\n$perFam")
    assert(perFam.split("\n").exists(l =>
        l.contains("Keys") && l.contains("event_type") &&
        l.contains("user_id")),
      s"level-1 aggregate must key on (event_type, user_id):\n$perFam")
    assert(perFam.contains("BroadcastHashJoin"),
      s"family join-back must broadcast:\n$perFam")
    val expand = plan(AdaptiveAgg.buildAgg(fact, "event_type",
      Seq("user_id", "day"), "value", AdaptiveAgg.ExpandPlan))
    assert(expand.contains("Expand"),
      s"two-distinct-family default should Expand:\n$expand")
  }

  test("adaptive window: range-prefix windows key on (__pid, key) " +
      "with NO range exchange; plain sorts whole keys") {
    // the hot-key defense is physical: the range-prefix shape must run
    // its row_number window PARTITIONED BY (__pid, key) — so no task
    // sorts a whole key — with the offsets frame joined back broadcast.
    // Since the advice-r15 determinism fix, __pid is a codegen'd
    // expression over frozen boundary literals, NOT a range exchange:
    // the plan must carry ZERO rangepartitioning (one full-data
    // exchange fewer than the old shape, and no exchange-reuse
    // correctness dependence). The plain shape's window must key on
    // event_type alone.
    import graft.operators.AdaptiveWindow
    val fact = Tables.events(spark, sf)
      .select(col("event_id"), col("event_type"), col("ts"))
    val rp = plan(AdaptiveWindow.buildRank(fact, "event_type",
      Seq("ts", "event_id"), "rnk", AdaptiveWindow.RangePrefix))
    assert(!rp.contains("rangepartitioning") &&
        !rp.contains("RANGE_PARTITIONED"),
      s"range-prefix shape must not range-exchange (deterministic " +
        s"literal-boundary __pid instead):\n$rp")
    val rpWin = rp.split("\n").filter(l =>
      l.contains("row_number") && l.contains("windowspecdefinition"))
    assert(rpWin.exists(l => l.contains("__pid") &&
        l.contains("event_type")),
      s"range-prefix window must partition by (__pid, key):\n$rp")
    assert(rp.contains("BroadcastHashJoin"),
      s"offsets join-back must broadcast:\n$rp")
    val pl = plan(AdaptiveWindow.buildRank(fact, "event_type",
      Seq("ts", "event_id"), "rnk", AdaptiveWindow.PlainWindow))
    val plWin = pl.split("\n").filter(l =>
      l.contains("row_number") && l.contains("windowspecdefinition"))
    assert(plWin.nonEmpty && plWin.forall(!_.contains("__pid")),
      s"plain window should key on event_type alone:\n$pl")
  }

  test("salted join: the salt reaches the physical join keys") {
    // the whole point of q_salted_join is that one hot user spreads over
    // its profiled fan-out of reducers — that only happens if __salt is
    // a JOIN KEY of the fact⋈dim join, not a post-join column. The
    // profile (hot-key fan map) joins are broadcast left joins keyed on
    // user_id alone, so the gate is: both sides of SOME join carry
    // __salt, and the fan map never shuffles (broadcast only).
    val p = plan(Ext.saltedJoinQuery(spark, sf))
    val keyLines = p.split("\n").filter(l =>
      l.contains("Left keys") || l.contains("Right keys"))
    assert(keyLines.count(_.contains("__salt")) >= 2,
      s"salt does not reach both sides' join keys:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"profile fan map did not broadcast:\n$p")
  }

  test("range join keys on (user, hour bucket), not the user alone") {
    // a user-only equi-key materializes a power user's full
    // k_purchases × k_events pair set in one SMJ key group before the
    // band filter runs; the hour bucket must reach the physical join keys
    val p = plan(Ext.rangeJoin(spark, sf))
    // formatted mode puts hash-join keys on "Left keys"/"Right keys"
    // detail lines, not the tree line
    val keyLines = p.split("\n").filter(l =>
      l.contains("Left keys") || l.contains("Right keys"))
    assert(keyLines.exists(_.contains("probe_bucket")) &&
        keyLines.exists(_.contains("f_bucket")),
      s"range join does not key on the hour bucket:\n$p")
  }

  test("asofJoin is join-free: one union-sort pass, no pair materialization") {
    val p = plan(Ext.asofJoin(spark, sf))
    assert(!p.toLowerCase.contains("join"),
      s"asofJoin must not contain a join node:\n$p")
    val shuffles = p.split("\n").count(_.contains("Exchange hashpartitioning"))
    assert(shuffles <= 1, s"asofJoin should shuffle once on user_id:\n$p")
  }

  test("sql front door Q5: six-table star broadcasts every dimension") {
    val p = plan(SqlEntry.sqlQ5(spark, sf))
    // supplier/nation/region (and customer at fixture scale) must come
    // in as broadcasts around the two facts — a shuffled join against a
    // dimension table here would shuffle the fact star needlessly
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
    // the date filter pushes to the orders scan
    assert(p.contains("PushedFilters") &&
      p.contains("GreaterThanOrEqual(o_orderdate"), p)
  }

  test("nfc normalize: native expression, no object round-trip, SQL-callable") {
    // round-11 carried this op as mapPartitions; the NfcNormalize
    // Catalyst expression must keep the whole query inside codegen —
    // no SerializeFromObject/DeserializeToObject/MapPartitions nodes
    val p = plan(TextOps.textNormalize(spark, sf))
    Seq("SerializeFromObject", "DeserializeToObject", "MapPartitions")
      .foreach(node => assert(!p.contains(node), s"$node in plan:\n$p"))
    // formatted mode marks codegen'd operators with a leading '*'; the
    // corpus-side projection must carry it
    assert(p.contains("* Project"), s"projection not codegen'd:\n$p")
    // SQL front door: the registered function normalizes a decomposed
    // literal to its precomposed twin (and is the identity on ASCII)
    GraftExtensions.register(spark)
    val row = spark.sql(
      "SELECT nfc_normalize('café') AS c, nfc_normalize('x') AS x," +
        " nfc_normalize(CAST(NULL AS STRING)) AS n").head()
    assert(row.getString(0) == "caf\u00e9")
    assert(row.getString(1) == "x")
    assert(row.isNullAt(2))
  }

  test("drained streaming sessions EQUAL the batch sessionizer's set") {
    val q = graft.streaming.SessionState.runToMemory(spark, sf, "sess_out")
    try {
      // the watermark-heartbeat drain flushes every open session, so the
      // streamed set must equal the batch set EXACTLY (both directions,
      // multiplicity included) — not merely be a closed-prefix subset
      val streamed = spark.table("sess_out").select(
        col("user_id"), col("start_us"), col("end_us"), col("n_events"))
      val batch = Ext.sessionize(spark, sf).select(col("user_id"),
        unix_micros(col("session_start")).as("start_us"),
        unix_micros(col("session_end")).as("end_us"), col("n_events"))
      assert(streamed.exceptAll(batch).count() === 0,
        "streamed session absent from the batch set")
      assert(batch.exceptAll(streamed).count() === 0,
        "batch session never emitted by the drained stream")
      assert(streamed.count() > 0, "no sessions emitted in replay")
    } finally q.stop()
  }
}
