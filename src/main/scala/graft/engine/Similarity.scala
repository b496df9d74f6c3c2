package graft.engine

import org.apache.spark.sql.{Column, DataFrame, Encoder, Encoders, SparkSession}
import org.apache.spark.sql.expressions.{Aggregator, Window}
import org.apache.spark.sql.functions._

import graft.functions.VectorFunctions.cosine_sim

/** Similarity search over the `embeddings` fixture (north-star extension):
  * brute-force cosine top-k (the exact baseline), hyperplane-LSH bucketed
  * ANN (the scale path), label-blocked cosine near-dup, and per-label
  * centroids.
  *
  * The cosine kernel is [[graft.functions.CosineSimilarity]] — a native
  * codegen'd Catalyst expression (one fused loop, no HOF lambda overhead).
  *
  * Scale design: brute force is O(|queries| x |corpus|) — correct as a
  * baseline and for re-ranking, but the production path is the LSH variant:
  * corpus hashed once into 2^planes buckets, queries probe only their
  * bucket, so the candidate set is corpus/2^planes per query. At 100 TB,
  * partition the corpus by bucket (bucketBy on sig) so a query touches one
  * partition; the final exact-cosine re-rank runs on candidates only.
  */
object Similarity {
  type Q = (SparkSession, String) => DataFrame

  val TopK = 10
  val NQueryVecs = 10
  val NearDupThreshold = 0.4

  /** Brute-force cosine top-k: NQueryVecs probe vectors against the full
    * corpus; ranking on the ROUNDED cosine with a vec_id tie-break keeps
    * the cut deterministic across engines (SURVEY §7.5 risk 6).
    */
  def simCosineTopk(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(spark, dir)
    val qv = e.filter(col("vec_id") < NQueryVecs)
      .select(col("vec_id").as("query_id"), col("embedding").as("qe"))
    val corpus = e.select(col("vec_id").as("neighbor_id"),
      col("embedding").as("ce"))
    val cos = round(cosine_sim(col("qe"), col("ce")), 6)
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos_sim").desc, col("neighbor_id"))
    corpus.crossJoin(broadcast(qv))
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("cos_sim", cos)
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= TopK)
      .select("query_id", "neighbor_id", "cos_sim", "rank")
  }

  /** Multi-table sign-random-projection LSH: [[NTables]] independent hash
    * tables of [[PlanesPerTable]] hyperplanes each. Deterministic
    * pseudo-random plane weights (engine-portable, seed-free):
    * w[p][d] = (((7919p + 13)(d+1) + 104729p + 7) mod 1009) - 504.
    *
    * Collision probability per table for angle θ is (1-θ/π)^planes; the
    * table union trades a small constant factor of index size for the
    * recall a single table cannot reach — the standard ANN index topology
    * (one table ≈ one IVF probe).
    */
  val NTables = 4
  val PlanesPerTable = 6

  /** Plane-weight formula constants — shared by [[planeWeights]] and the
    * q_ann_lsh oracle SQL so the two engines derive the same matrix.
    */
  val PwMulA = 7919L
  val PwAddA = 13L
  val PwMulB = 104729L
  val PwAddB = 7L
  val PwMod = 1009L
  val PwShift = 504L

  def planeWeights(dim: Int): Seq[Array[Int]] =
    (0 until NTables * PlanesPerTable).map { p =>
      Array.tabulate(dim)(d =>
        ((((PwMulA * p + PwAddA) * (d + 1) + PwMulB * p + PwAddB) % PwMod)
          - PwShift).toInt)
    }

  /** Array of one bucket signature per table — a single native-expression
    * pass ([[graft.functions.HyperplaneSignatures]]) instead of
    * NTables x PlanesPerTable interpreted HOF reductions.
    */
  private def lshSigs(vec: Column, dim: Int): Column =
    graft.functions.VectorFunctions.lsh_signatures(vec,
      planeWeights(dim).toArray, PlanesPerTable)

  /** ANN: corpus + queries hashed once into NTables buckets (posexplode to
    * (table, sig) keys), candidates = same-bucket pairs unioned across
    * tables, exact cosine re-ranks the deduplicated candidates.
    *
    * Fully ORACLE-CHECKED (round 10): recall is probabilistic IN THE
    * INDEX-DESIGN sense, but every step is deterministic arithmetic —
    * integer plane weights from [[planeWeights]]'s closed formula, sign
    * tests on a dimension-ordered double fold (exact float×int products,
    * identical summation order to DuckDB's `list_reduce`), candidate
    * pairs = same-(table,sig) equality — so the DuckDB twin derives the
    * identical candidate set and ranking. ScalaTest still measures the
    * recall-vs-brute-force curve; the oracle gates the exact output.
    */
  def annLsh(spark: SparkSession, dir: String): DataFrame = {
    val dim = 64
    val e = Tables.embeddings(spark, dir)
      .withColumn("sigs", lshSigs(col("embedding"), dim))
    val qv = e.filter(col("vec_id") < NQueryVecs)
      .select(col("vec_id").as("query_id"), col("embedding").as("qe"),
        posexplode(col("sigs")))
      .withColumnRenamed("pos", "tbl").withColumnRenamed("col", "sig")
    val corpus = e.select(col("vec_id").as("neighbor_id"),
        col("embedding").as("ce"), posexplode(col("sigs")))
      .withColumnRenamed("pos", "tbl").withColumnRenamed("col", "sig")
    val cand = corpus.join(broadcast(qv), Seq("tbl", "sig"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .select("query_id", "neighbor_id", "qe", "ce")
      .dropDuplicates("query_id", "neighbor_id")
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos_sim").desc, col("neighbor_id"))
    cand
      .withColumn("cos_sim", round(cosine_sim(col("qe"), col("ce")), 6))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= TopK)
      .select("query_id", "neighbor_id", "cos_sim", "rank")
  }

  /** IVF-style ANN: a coarse quantizer (per-label centroids — the fixture
    * labels ARE its cluster structure; a production index would fit
    * k-means, the plan is identical from the centroids on) partitions the
    * corpus into cells; each query probes its [[NProbe]] nearest cells and
    * exact cosine re-ranks only the candidates inside them, so the scan is
    * |corpus| * nProbe / nCells instead of |corpus|.
    *
    * Fully ORACLE-CHECKED, unlike hyperplane LSH (whose bucketing is
    * probabilistic by nature): every step is deterministic arithmetic —
    * centroids rounded to 6 decimals (orders of magnitude above double
    * summation noise, see [[embedCentroid]]), assignment/probe scoring via
    * an index-ordered fold identical to the DuckDB twin, ties broken by
    * cell id then neighbor id.
    *
    * Scale shape: centroids are nCells rows → BROADCAST twice (assignment
    * and probing are map-side); the only corpus shuffle is the candidate
    * join keyed by cell. At 100 TB, write the corpus bucketed by cell so
    * probes read only their cells' files.
    *
    * Measured sf0.01 recall vs brute force: 0.48/0.62/0.69/0.80 at
    * nProbe 3/4/5/6 of 10 cells — the fixture's embeddings are only
    * loosely label-clustered (its within-label cosine spread is
    * continuous), so the curve is the honest probes-vs-scan tradeoff, not
    * an artifact. 4 probes = 62% recall for a 60% scan cut.
    */
  val NProbe = 4

  /** Per-cell mean centroids over `rows` (any frame with `embedding` and a
    * `cell` column). nCells rows — always broadcast-sized.
    */
  private def centroidsOf(rows: DataFrame): DataFrame =
    rows.select(col("cell"), posexplode(col("embedding")))
      .groupBy("cell", "pos")
      .agg(round(avg(col("col").cast("double")), 6).as("c"))
      .groupBy("cell")
      .agg(transform(
        array_sort(collect_list(struct(col("pos"), col("c")))),
        s => s.getField("c")).as("centroid"))

  /** Every vector scored against every centroid with its per-vector
    * probe rank (crank 1 = assigned cell). Map-side: centroids broadcast,
    * the window partitions by vec_id which rides the scan's row grain.
    * Shared lineage for [[annIvf]] and [[semanticDedup]] — deliberately
    * NOT cached: materializing a corpus-sized ranked frame is not the
    * 100 TB plan, and caching would block probe-filter pushdown into the
    * parquet scan (plan-gated in PlanSpec).
    */
  private def cellRanked(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(spark, dir)
    val cent = centroidsOf(e.withColumn("cell", col("label")))
    val wAssign = Window.partitionBy(col("vec_id"))
      .orderBy(col("cos_c").desc, col("cell"))
    e.crossJoin(broadcast(cent))
      .withColumn("cos_c",
        round(cosine_sim(col("centroid"), col("embedding")), 6))
      .withColumn("crank", row_number().over(wAssign))
      .drop("centroid")
  }

  def annIvf(spark: SparkSession, dir: String): DataFrame = {
    val ranked = cellRanked(spark, dir)
    val corpus = ranked.filter(col("crank") === 1)
      .select(col("vec_id").as("neighbor_id"), col("embedding").as("ce"),
        col("cell"))
    val probes = ranked
      .filter(col("vec_id") < NQueryVecs && col("crank") <= NProbe)
      .select(col("vec_id").as("query_id"), col("embedding").as("qe"),
        col("cell"))
    // cells partition the corpus and a query probes distinct cells, so
    // candidate (query, neighbor) pairs are already unique — no dedup
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos_sim").desc, col("neighbor_id"))
    corpus.join(broadcast(probes), Seq("cell"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("cos_sim", round(cosine_sim(col("qe"), col("ce")), 6))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= TopK)
      .select("query_id", "neighbor_id", "cos_sim", "rank")
  }

  /** Embedding-cosine near-dup pairs, blocked by `label` (IVF-style coarse
    * partition: near-dups land in the same cluster, so only within-cluster
    * pairs are scored — |corpus|²/k instead of |corpus|²).
    *
    * Within a label the EXACT all-pairs work is irreducible at this
    * threshold: the fixture's within-label cosine distribution is
    * continuous straight through τ=0.4 (hundreds of sf0.1 pairs in
    * [0.40, 0.51]), where hyperplane-LSH candidate recall is ~0.27 for a
    * 4x6 table union — LSH pre-bucketing would silently drop most true
    * pairs, so it cannot replace the block scan for exact output (it
    * remains the right tool for the top-k ANN query, where missing a
    * low-cosine candidate is acceptable by contract).
    *
    * What IS fixable at scale is the skew/memory profile: a plain
    * label-block self-join executes a hot label's whole |block|² as one
    * shuffle-partition task. [[nearDupPairsGrid]] splits each block into
    * `chunks` slices and generates pairs per grid cell (i ≤ j), so the
    * same quadratic work lands in chunks²/2 bounded-memory tasks keyed by
    * (label, i, j) — no single-task blowup, identical output. The chunk
    * count derives from the MEASURED max block size (one dimension-sized
    * agg), so small corpora run the degenerate 1-cell grid and growth is
    * automatic.
    */
  val NearDupChunkRows = 4096

  def embedNearDup(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(spark, dir)
    val maxBlock = e.groupBy("label").count()
      .agg(coalesce(max(col("count")), lit(0L))).head().getLong(0)
    val chunks = math.max(1, math.ceil(maxBlock.toDouble / NearDupChunkRows).toInt)
    nearDupPairsGrid(e, chunks)
  }

  /** Sweep thresholds (integer percents) for [[embedSensitivity]] —
    * the floor (30) is the candidate-generation threshold, so ONE grid
    * pass feeds every sweep point.
    */
  val EmbedSweepPct: Seq[Long] = Seq(30L, 40L, 50L, 70L, 90L)

  /** Cosine-threshold sensitivity for semantic dedup — the embedding
    * analog of `q_dedup_sensitivity`, the table that answers "what does
    * moving the SemDeDup threshold cost/save?": surviving near-dup
    * pairs and implicated vectors at five thresholds, all fed by ONE
    * label-blocked chunk-grid pass at the sweep floor. The only float
    * is the already-hash-gated round(6) cosine; each sweep point
    * compares its integer micros against `pct·10⁴`, so the threshold
    * boundaries are exact on both engines. Zero-pair thresholds stay
    * visible via the left join from the literal threshold dimension
    * (the dedup-sensitivity convention).
    */
  def embedSensitivity(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val e = Tables.embeddings(spark, dir)
    val maxBlock = e.groupBy("label").count()
      .agg(coalesce(max(col("count")), lit(0L))).head().getLong(0)
    val chunks = math.max(1,
      math.ceil(maxBlock.toDouble / NearDupChunkRows).toInt)
    val pairs = nearDupPairsGrid(e, chunks,
      threshold = EmbedSweepPct.min / 100.0)
    val swept = pairs
      .select(col("vec_a"), col("vec_b"),
        expr("CAST(round(cos_sim * 1000000) AS BIGINT)").as("cm"),
        explode(typedLit(EmbedSweepPct)).as("threshold_pct"))
      .filter(col("cm") >= col("threshold_pct") * 10000L)
    val nPairs = swept.groupBy("threshold_pct")
      .agg(count(lit(1)).as("p"))
    val nVecs = swept
      .select(col("threshold_pct"),
        explode(array(col("vec_a"), col("vec_b"))).as("v"))
      .groupBy("threshold_pct").agg(countDistinct(col("v")).as("g"))
    EmbedSweepPct.toDF("threshold_pct")
      .join(nPairs, Seq("threshold_pct"), "left")
      .join(nVecs, Seq("threshold_pct"), "left")
      .select(col("threshold_pct"),
        coalesce(col("p"), lit(0L)).as("n_pairs"),
        coalesce(col("g"), lit(0L)).as("n_dup_vecs"))
  }

  /** All within-label pairs with cosine ≥ [[NearDupThreshold]], via a
    * chunk-grid self-join: row → chunk c = vec_id mod chunks; the a-side
    * replicates each row to cells (c, j) for j ∈ [c, chunks), the b-side
    * to cells (i, c) for i ∈ [0, c], and the equi-join on (label, i, j)
    * realizes every cell of the upper-triangular chunk grid exactly once.
    * A cross-chunk pair matches in exactly one cell (c_a < c_b one way
    * only); same-chunk cells dedup by vec-id order. Emitted as
    * (least, greatest) so the output is bit-identical to the plain
    * a.vec_id < b.vec_id self-join the oracle runs.
    */
  private[graft] def nearDupPairsGrid(e: DataFrame, chunks: Int,
      blockCol: String = "label",
      threshold: Double = NearDupThreshold): DataFrame = {
    val withC = e.withColumn("c",
      pmod(col("vec_id"), lit(chunks)).cast("int"))
    val aSide = withC.select(col(blockCol), col("vec_id").as("ida"),
        col("embedding").as("ea"), col("c").as("gi"))
      .withColumn("gj", explode(sequence(col("gi"), lit(chunks - 1))))
    val bSide = withC.select(col(blockCol), col("vec_id").as("idb"),
        col("embedding").as("eb"), col("c").as("gj"))
      .withColumn("gi", explode(sequence(lit(0), col("gj"))))
    val cos = cosine_sim(col("ea"), col("eb"))
    aSide.join(bSide, Seq(blockCol, "gi", "gj"))
      .filter(col("gi") =!= col("gj") || col("ida") < col("idb"))
      .withColumn("cos_sim", round(cos, 6))
      .filter(col("cos_sim") >= threshold)
      .select(col(blockCol), least(col("ida"), col("idb")).as("vec_a"),
        greatest(col("ida"), col("idb")).as("vec_b"), col("cos_sim"))
  }

  /** SemDeDup-style semantic dedup (Abbas et al. 2023, arXiv:2303.09540):
    * cluster the corpus by nearest centroid, then inside each cluster mark
    * every vector that has a semantically-near neighbor (cosine ≥
    * [[NearDupThreshold]]) with a SMALLER vec_id as a duplicate of the
    * least such neighbor; survivors (`keep = true`) are the
    * semantic-representative subset a curation pipeline trains on.
    *
    * The min-id-representative rule (rather than SemDeDup's
    * farthest-from-centroid choice) makes the output a pure function of
    * the data — deterministic across engines, so the whole query is
    * oracle-checked, not rows-only.
    *
    * Scale shape: assignment is map-side (centroids broadcast, one window
    * keyed by vec_id); within-cell pair scoring reuses the bounded
    * chunk-grid self-join of [[nearDupPairsGrid]] keyed by the ASSIGNED
    * cell, so a hot cell's quadratic work lands in bounded-memory grid
    * tasks; the dup_of reduction and final left join are linear.
    */
  def semanticDedup(spark: SparkSession, dir: String): DataFrame = {
    // materialize the assignment ONCE (production SemDeDup persists its
    // cluster assignments as a table): four consumers read it — the
    // max-cell measure, both self-join sides, and the final verdict join
    // — and would otherwise each re-run the centroid scoring pass
    val assign = cellRanked(spark, dir).filter(col("crank") === 1)
      .select(col("vec_id"), col("embedding"), col("cell"))
      .localCheckpoint()
    val maxCell = assign.groupBy("cell").count()
      .agg(coalesce(max(col("count")), lit(0L))).head().getLong(0)
    val chunks =
      math.max(1, math.ceil(maxCell.toDouble / NearDupChunkRows).toInt)
    val dup = nearDupPairsGrid(assign, chunks, blockCol = "cell")
      .groupBy(col("vec_b").as("vec_id"))
      .agg(min(col("vec_a")).as("dup_of"))
    assign.select("vec_id", "cell")
      .join(dup, Seq("vec_id"), "left")
      .select(col("vec_id"), col("cell"), col("dup_of"),
        col("dup_of").isNull.as("keep"))
  }

  /** Centroids fitted on the EXISTING corpus slice only (vec_id >=
    * [[NQueryVecs]]; the complement is "today's batch"): the incremental
    * path scores new vectors against the index's own quantizer rather
    * than refitting over data that includes them. nCells rows, cached.
    */
  private[graft] def corpusCentroids(spark: SparkSession,
      dir: String): DataFrame =
    SessionMemo.getOrComputeCleanup(spark, s"sim.corpusCent:$dir") {
      centroidsOf(Tables.embeddings(spark, dir)
        .filter(col("vec_id") >= NQueryVecs)
        .withColumn("cell", col("label"))).cache()
    }(df => scala.util.Try(df.unpersist()): Unit)

  /** Persisted corpus cell INDEX — the artifact a production vector store
    * keeps BETWEEN ingest batches. Corpus vectors are assigned to their
    * nearest corpus-centroid cell (map-side: centroids broadcast) and
    * written `partitionBy(cell)`, so a probe restricted to its nProbe
    * cells is a PARTITION-PRUNED scan: only the probed cells' files are
    * read, and the corpus is never rescanned or reshuffled per batch.
    * Memoized per (session, dir): built once, probed every batch.
    */
  private def corpusCellIndex(spark: SparkSession, dir: String): String =
    SessionMemo.getOrComputeCleanup(spark, s"sim.cellIndex:$dir") {
      val wAssign = Window.partitionBy(col("vec_id"))
        .orderBy(col("cos_c").desc, col("cell"))
      val assigned = Tables.embeddings(spark, dir)
        .filter(col("vec_id") >= NQueryVecs)
        .crossJoin(broadcast(corpusCentroids(spark, dir)))
        .withColumn("cos_c",
          round(cosine_sim(col("centroid"), col("embedding")), 6))
        .withColumn("crank", row_number().over(wAssign))
        .filter(col("crank") === 1)
        .select(col("vec_id").as("neighbor_id"), col("embedding").as("ce"),
          col("cell"))
      // registered for JVM-exit deletion AND deleted eagerly when the
      // memo entry is invalidated/evicted
      val path = TempArtifacts.tempDir(
        s"graft_cell_index_${math.abs(dir.hashCode.toLong)}")
      assigned.write.partitionBy("cell").mode("overwrite").parquet(path)
      path
    } { path => TempArtifacts.delete(path) }

  /** Incremental (delta-vs-corpus) ANN — the per-batch shape: each new
    * vector finds its top-k among the EXISTING corpus through the
    * persisted [[corpusCellIndex]]. The batch assigns map-side against
    * the broadcast corpus centroids, the probed cell set (bounded by
    * nCells — an index dimension, not data-sized) becomes a literal
    * partition filter on the index scan, and the candidate join
    * broadcasts the batch — so per-batch cost is |batch| x nProbe
    * cell-scans with NO corpus-side shuffle (plan-gated in PlanSpec).
    */
  def annIncremental(spark: SparkSession, dir: String): DataFrame = {
    val cent = corpusCentroids(spark, dir)
    val wAssign = Window.partitionBy(col("vec_id"))
      .orderBy(col("cos_c").desc, col("cell"))
    val probes = Tables.embeddings(spark, dir)
      .filter(col("vec_id") < NQueryVecs)
      .crossJoin(broadcast(cent))
      .withColumn("cos_c",
        round(cosine_sim(col("centroid"), col("embedding")), 6))
      .withColumn("crank", row_number().over(wAssign))
      .filter(col("crank") <= NProbe)
      .select(col("vec_id").as("query_id"), col("embedding").as("qe"),
        col("cell"))
    // driver-side cell list: nCells-bounded (10 here, thousands at 100 TB)
    // — the price of a LITERAL partition filter the scan can prune on
    val probedCells = probes.select("cell").distinct()
      .collect().map(_.getInt(0)).sorted
    // explicit schema: an EMPTY corpus writes a data-file-less index,
    // which schema inference cannot read back (and a production reader
    // never infers — the index schema is part of its contract)
    val e = Tables.embeddings(spark, dir)
    val idxSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("neighbor_id",
        e.schema("vec_id").dataType),
      org.apache.spark.sql.types.StructField("ce",
        e.schema("embedding").dataType),
      org.apache.spark.sql.types.StructField("cell",
        e.schema("label").dataType)))
    val idx = spark.read.schema(idxSchema)
      .parquet(corpusCellIndex(spark, dir))
      .filter(col("cell").isin(probedCells.map(Int.box): _*))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos_sim").desc, col("neighbor_id"))
    idx.join(broadcast(probes), Seq("cell"))
      .withColumn("cos_sim", round(cosine_sim(col("qe"), col("ce")), 6))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= TopK)
      .select("query_id", "neighbor_id", "cos_sim", "rank")
  }

  /** One Lloyd (k-means) refinement of the IVF coarse quantizer: the
    * E-step is the existing nearest-centroid assignment ([[cellRanked]],
    * label-mean seeded), the M-step recomputes each cell's centroid as
    * the mean of its ASSIGNED members — the quantizer-training pass a
    * production vector index runs where no labels exist. Emitted
    * dimension-exploded with the member count, fully oracle-checked;
    * further iterations re-run the same plan with the previous output as
    * the seed (each round is one broadcast + one corpus-grain groupBy —
    * the canonical distributed Lloyd shape).
    */
  def kmeansRefine(spark: SparkSession, dir: String): DataFrame =
    cellRanked(spark, dir).filter(col("crank") === 1)
      .select(col("cell"), posexplode(col("embedding")))
      .groupBy("cell", "pos")
      .agg(
        round(sum(col("col").cast("double")) / count(lit(1)), 6)
          .as("centroid"),
        count(lit(1)).as("n_members"))
      .withColumnRenamed("pos", "dim")

  /** Per-label centroid, dimension-exploded (posexplode -> groupBy): the
    * oracle-checkable form. Summation via double accumulation; the per-cell
    * error is ~1e-14 relative, far below the round-6 granularity.
    */
  def embedCentroid(spark: SparkSession, dir: String): DataFrame =
    Tables.embeddings(spark, dir)
      .select(col("label"), posexplode(col("embedding")))
      .groupBy("label", "pos")
      .agg(
        round(sum(col("col").cast("double")) / count(lit(1)), 6)
          .as("centroid"),
        count(lit(1)).as("n"))
      .withColumnRenamed("pos", "dim")

  /** Typed Aggregator computing a full vector mean in one pass (buffer =
    * running sums + count) — the custom-UDAF variant of [[embedCentroid]]
    * for callers that want the centroid as one array row instead of 64
    * exploded rows (SURVEY §7.4). Exercised in ScalaTest.
    */
  class VectorMeanAggregator(dim: Int)
      extends Aggregator[Array[Float], (Array[Double], Long), Array[Double]] {
    def zero: (Array[Double], Long) = (Array.fill(dim)(0.0), 0L)
    def reduce(b: (Array[Double], Long), v: Array[Float]): (Array[Double], Long) = {
      var i = 0
      while (i < dim && i < v.length) { b._1(i) += v(i); i += 1 }
      (b._1, b._2 + 1)
    }
    def merge(x: (Array[Double], Long), y: (Array[Double], Long)): (Array[Double], Long) = {
      var i = 0
      while (i < dim) { x._1(i) += y._1(i); i += 1 }
      (x._1, x._2 + y._2)
    }
    def finish(b: (Array[Double], Long)): Array[Double] =
      if (b._2 == 0) Array.empty else b._1.map(_ / b._2)
    def bufferEncoder: Encoder[(Array[Double], Long)] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[(Array[Double], Long)]()
    def outputEncoder: Encoder[Array[Double]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[Double]]()
  }

  /** Product-quantization ANN (asymmetric distance): the MEMORY-bound
    * scale path, complementary to IVF's candidate pruning. The embedding
    * space splits into [[PqNSub]] subspaces of [[PqSubDim]] dims; each
    * subspace gets a codebook (per-label subvector means, round-6 — the
    * same deterministic label-as-cluster stand-in as [[annIvf]], and the
    * plan is identical once codebooks exist); a corpus vector is encoded
    * as [[PqNSub]] small ints — 16 codes instead of 64 floats, a 16×
    * compression that is what lets a 100 TB corpus's index live in
    * cluster RAM. Queries never decode: each query precomputes a
    * per-subspace table of dot products against every codebook entry
    * (nSub × nCodes doubles), the tables broadcast, and the approximate
    * cosine is a zip_with/element_at FOLD over the code array — a pure
    * map-side scan of the compact index with NO corpus shuffle; only the
    * per-query top-k window exchanges the scored rows.
    *
    * The ADC pass only builds a SHORTLIST of [[PqShortlist]] candidates
    * per query; exact cosine re-ranks the shortlist — the standard
    * compressed-scan + rerank architecture, and the rerank is what buys
    * the recall (measured sf0.01 recall@10 vs brute force: 0.14 with no
    * rerank, 0.58 at shortlist 40, 0.77 at 80 — the shipped config —
    * while exact-reading only shortlist/|corpus| ≈ 16% of the raw
    * vectors; IVF at nProbe 4 sits at 0.62 for a 60% scan cut, so PQ
    * trades a compact always-in-RAM index for slightly more exact reads).
    *
    * Fully oracle-checked like [[annIvf]]: codebooks round to 6 decimals,
    * encoding argmin ties break by code id, shortlist and final ranks
    * order by the ROUNDED score then neighbor id — every step
    * deterministic arithmetic with a DuckDB twin.
    */
  val PqNSub = 16
  val PqSubDim = 4
  val PqShortlist = 8 * TopK

  private def pqSub(e: DataFrame): DataFrame =
    e.select(col("vec_id"), col("label"),
      explode(sequence(lit(0), lit(PqNSub - 1))).as("s"),
      col("embedding"))
      .select(col("vec_id"), col("label"), col("s"),
        slice(col("embedding"), col("s") * PqSubDim + 1, lit(PqSubDim))
          .as("sv"))

  /** Per-subspace codebooks: (s, code, centroid subvector, its squared
    * norm). nSub × nLabels rows — always broadcast-sized.
    */
  private def pqCodebook(sub: DataFrame): DataFrame =
    sub.select(col("s"), col("label").as("code"), posexplode(col("sv")))
      .groupBy("s", "code", "pos")
      .agg(round(avg(col("col").cast("double")), 6).as("c"))
      .groupBy("s", "code")
      .agg(transform(
        array_sort(collect_list(struct(col("pos"), col("c")))),
        st => st.getField("c")).as("cv"))
      .withColumn("cnorm2",
        aggregate(col("cv"), lit(0.0), (a, x) => a + x * x))
      // dense position of the code within its subspace codebook: the
      // element_at fold must index by POSITION, never the raw label value
      // (labels need not be contiguous — gappy labels would index past
      // the end of the lookup row)
      .withColumn("cidx", row_number().over(
        Window.partitionBy(col("s")).orderBy(col("code"))) - 1)

  def annPq(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(spark, dir)
    val sub = pqSub(e)
    val cb = pqCodebook(sub)
    // encode the corpus: nearest codebook entry per (vector, subspace),
    // then pivot to one compact code array + reconstructed norm per
    // vector. The per-(vector, subspace) argmin is a min_by AGGREGATE,
    // not a row_number window: the aggregate partial-combines map-side
    // (each task forwards one row per group, not one per candidate code)
    // and needs no sort — the window form shuffles the full
    // (vector × subspace × codes) stream and sorts every group. The
    // (l2, code) ordering struct is unique within a group (codes are
    // distinct), so the argmin keeps the window's exact tie-break.
    val enc = sub.filter(col("vec_id") >= NQueryVecs)
      .join(broadcast(cb), Seq("s"))
      .withColumn("l2", aggregate(
        zip_with(col("sv"), col("cv"),
          (x, c) => (x.cast("double") - c) * (x.cast("double") - c)),
        lit(0.0), (a, x) => a + x))
      .groupBy("vec_id", "s")
      .agg(min_by(struct(col("cidx"), col("cnorm2")),
        struct(col("l2"), col("code"))).as("best"))
      .groupBy("vec_id")
      .agg(
        transform(
          array_sort(collect_list(struct(col("s"), col("best.cidx")))),
          st => st.getField("cidx")).as("codes"),
        sum(col("best.cnorm2")).as("rnorm2"))
    // per-query lookup tables: dot(query subvector, codebook entry) for
    // every (subspace, code) — nSub × nCodes doubles per query, broadcast
    val qd = sub.filter(col("vec_id") < NQueryVecs)
      .join(broadcast(cb), Seq("s"))
      .withColumn("qpart", aggregate(
        zip_with(col("sv"), col("cv"), (x, c) => x.cast("double") * c),
        lit(0.0), (a, x) => a + x))
      .select(col("vec_id").as("query_id"), col("s"), col("code"),
        col("qpart"))
      .groupBy("query_id", "s")
      .agg(transform(
        array_sort(collect_list(struct(col("code"), col("qpart")))),
        st => st.getField("qpart")).as("lutRow"))
      .groupBy("query_id")
      .agg(transform(array_sort(collect_list(struct(col("s"), col("lutRow")))),
        st => st.getField("lutRow")).as("lut"))
    val qn = e.filter(col("vec_id") < NQueryVecs)
      .select(col("vec_id").as("query_id"),
        sqrt(aggregate(col("embedding"), lit(0.0),
          (a, x) => a + x.cast("double") * x.cast("double"))).as("qnorm"))
    val adot = aggregate(
      zip_with(col("codes"), col("lut"),
        (c, row) => element_at(row, c.cast("int") + 1)),
      lit(0.0), (a, x) => a + x)
    val wShort = Window.partitionBy(col("query_id"))
      .orderBy(col("approx_cos").desc, col("neighbor_id"))
    val short = enc.crossJoin(broadcast(qd.join(qn, Seq("query_id"))))
      .withColumn("approx_cos",
        round(adot / (col("qnorm") * sqrt(col("rnorm2"))), 6))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        col("approx_cos"))
      .withColumn("srank", row_number().over(wShort))
      .filter(col("srank") <= PqShortlist)
      .select("query_id", "neighbor_id")
    // exact rerank: only the shortlist's raw vectors are read back — the
    // (queries × shortlist)-row probe set broadcasts into the corpus scan
    val qe = e.filter(col("vec_id") < NQueryVecs)
      .select(col("vec_id").as("query_id"), col("embedding").as("qe"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos_sim").desc, col("neighbor_id"))
    e.select(col("vec_id").as("neighbor_id"), col("embedding").as("ce"))
      .join(broadcast(short.join(qe, Seq("query_id"))), Seq("neighbor_id"))
      .withColumn("cos_sim", round(cosine_sim(col("qe"), col("ce")), 6))
      .select(col("query_id"), col("neighbor_id"), col("cos_sim"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= TopK)
  }

  /** Scalar int8 quantization of the embedding corpus (per-dimension
    * min/max codebook): code = floor((x-dmin)/(dmax-dmin)·254 + 0.5) - 127
    * in [-127, 127] — the 4× memory cut that lets a brute-force or IVF
    * scan hold its vectors in executor RAM at corpus scale, complementary
    * to PQ's 16× (scalar quantization preserves per-dimension locality
    * and needs no codebook training; PQ compresses harder). Emitted as
    * per-vector integrity stats (exact code sum, max reconstruction
    * error, RMSE) that the oracle re-derives; the code arrays themselves
    * stay distributed.
    *
    * Scale shape: the codebook is DIMENSION-sized (64 min/max rows — an
    * index artifact), computed in one aggregate and BROADCAST back;
    * quantization and reconstruction are then pure map-side arithmetic.
    * Every float widens to double before arithmetic and both engines
    * evaluate the same IEEE expression tree, so the codes (and the
    * order-free code_sum / max_abs_err) are bit-identical; only RMSE
    * crosses a summation order, at ~1e-16 relative — far under round-6.
    * A constant dimension (dmax = dmin) quantizes to code 0 and
    * reconstructs exactly.
    */
  val QuantLevels = 254

  /** Per-dimension min/max codebook, memoized per (session, dir): both
    * [[embedQuantize]] and [[embedProject]] derive their codes from it,
    * so one corpus pass serves both queries in a sweep (64 cached rows).
    */
  private[graft] def dimStats(spark: SparkSession, dir: String): DataFrame =
    SessionMemo.getOrComputeCleanup(spark, s"sim.dimStats:$dir") {
      Tables.embeddings(spark, dir)
        .select(col("vec_id"), posexplode(col("embedding")))
        .select(col("pos"), col("col").cast("double").as("v"))
        .groupBy("pos")
        .agg(min(col("v")).as("dmin"), max(col("v")).as("dmax"))
        .cache()
    }(df => scala.util.Try(df.unpersist()): Unit)

  def embedQuantize(spark: SparkSession, dir: String): DataFrame = {
    val dims = Tables.embeddings(spark, dir)
      .select(col("vec_id"), posexplode(col("embedding")))
      .select(col("vec_id"), col("pos"), col("col").cast("double").as("v"))
    val stats = dimStats(spark, dir)
    val range = col("dmax") - col("dmin")
    val code = when(col("dmax") === col("dmin"), lit(0L))
      .otherwise(
        floor((col("v") - col("dmin")) / range * QuantLevels + 0.5)
          .cast("long") - 127)
    val deq = when(col("dmax") === col("dmin"), col("dmin"))
      .otherwise(col("dmin") +
        (col("code") + 127).cast("double") * range / QuantLevels)
    dims.join(broadcast(stats), Seq("pos"))
      .withColumn("code", code)
      .withColumn("err", abs(col("v") - deq))
      .groupBy("vec_id")
      .agg(
        count(lit(1)).as("n_dims"),
        sum(col("code")).as("code_sum"),
        round(max(col("err")), 6).as("max_abs_err"),
        round(sqrt(avg(col("err") * col("err"))), 6).as("rmse"))
  }

  /** Sparse sign random projection (the Achlioptas s=3 family, √s scale
    * dropped — downstream distance comparisons are scale-invariant) of
    * the int8-quantized corpus down to [[ProjDims]] components: the
    * Johnson–Lindenstrauss dimensionality cut that makes a brute-force
    * prefilter 4× narrower than even the int8 codes, feeding exact
    * rerank the same way PQ's dot tables do. The "matrix" is never
    * materialized: entry (i, j) is a hash of the index pair —
    * `(i·31 + j·17 + 5) mod 6` → {+1, −1, 0, 0, 0, 0} — so both engines
    * derive identical ±1 signs and the projection over INTEGER codes is
    * exact-integer end to end (a float JL transform could never
    * hash-match across engines; the integer one is also the
    * production answer to cross-run index drift).
    *
    * Scale shape: ONE dimension-sized aggregate builds the min/max
    * codebook, collapsed to a single array row and broadcast back
    * (a plan literal, same as the PQ dot tables); quantization and all
    * [[ProjDims]] component folds are then per-row higher-order
    * `transform`/`aggregate` — the corpus is NEVER exploded to
    * (vec, dim) rows and the output rides the scan's partitioning with
    * no shuffle at all.
    */
  val ProjDims = 16

  def embedProject(spark: SparkSession, dir: String): DataFrame = {
    val codebook = dimStats(spark, dir)
      .agg(expr("array_sort(collect_list(struct(pos, dmin, dmax)))").as("cb"))
    val codes = // same IEEE expression tree as [[embedQuantize]]'s codes
      s"""transform(sequence(0, size(embedding) - 1), i ->
         |  CASE WHEN cb[i].dmax = cb[i].dmin THEN 0L
         |    ELSE CAST(floor((CAST(embedding[i] AS DOUBLE) - cb[i].dmin)
         |      / (cb[i].dmax - cb[i].dmin) * $QuantLevels + 0.5) AS BIGINT)
         |      - 127L END)""".stripMargin
    val proj =
      s"""transform(sequence(0, ${ProjDims - 1}), j ->
         |  aggregate(sequence(0, size(codes) - 1), 0L, (acc, i) ->
         |    acc + CASE (i * 31 + j * 17 + 5) % 6
         |      WHEN 0 THEN codes[i] WHEN 1 THEN -codes[i]
         |      ELSE 0L END))""".stripMargin
    Tables.embeddings(spark, dir)
      .crossJoin(broadcast(codebook))
      .withColumn("codes", expr(codes))
      .select(col("vec_id"), posexplode(expr(proj)).as(Seq("out_dim", "proj")))
  }

  /** Probe counts for [[annNprobeSweep]] — all below the cell count so
    * every sweep point is a real approximation (probing every cell is
    * brute force with extra steps).
    */
  val NprobeSweep: Seq[Int] = Seq(1, 2, 4, 8)

  /** IVF nprobe tuning table — the recall-vs-cost curve an operator
    * reads before fixing the probe count, the ANN analog of
    * [[graft.engine.Dedup.dedupSensitivity]]. ONE centroid/assignment
    * pass and ONE brute-force truth pass feed every sweep point:
    * because a truth neighbor is retrieved at probe count p iff its
    * assigned cell ranks ≤ p among the query's centroid preferences
    * (candidate sets are nested in p, and a truth hit that enters the
    * candidates can never be pushed out of the top-k — its global rank
    * already is ≤ k), each truth pair carries a MIN-NPROBE = that
    * crank, and recall@p is a filter-count. Cost is priced as scored
    * candidate rows: Σ probed-cell sizes per query (the query's own
    * row included when its cell is probed — the distance-computation
    * count an IVF engine pays). Re-running the ANN query per probe
    * count — the naive sweep — would pay the centroid join and top-k
    * window four times for nested candidate sets.
    */
  def annNprobeSweep(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ranked = cellRanked(spark, dir)
    val assign = ranked.filter(col("crank") === 1)
      .select(col("vec_id").as("neighbor_id"), col("cell"))
    val truth = simCosineTopk(spark, dir).select("query_id", "neighbor_id")
    val qRank = ranked.filter(col("vec_id") < NQueryVecs)
      .select(col("vec_id").as("query_id"), col("cell"), col("crank"))
    val minNp = truth.join(assign, Seq("neighbor_id"))
      .join(qRank, Seq("query_id", "cell"))
      .select(col("query_id"), col("crank").as("min_np"))
    val np = explode(typedLit(NprobeSweep)).as("nprobe")
    val trueByNp = truth.select(np)
      .groupBy("nprobe").agg(count(lit(1)).as("t"))
    val hitByNp = minNp.select(col("min_np"), np)
      .filter(col("min_np") <= col("nprobe"))
      .groupBy("nprobe").agg(count(lit(1)).as("h"))
    val cellSize = assign.groupBy("cell").agg(count(lit(1)).as("csize"))
    val costByNp = qRank.join(cellSize, Seq("cell"))
      .select(col("csize"), col("crank"), np)
      .filter(col("crank") <= col("nprobe"))
      .groupBy("nprobe").agg(sum(col("csize")).as("c"))
    NprobeSweep.toDF("nprobe")
      .join(trueByNp, Seq("nprobe"), "left")
      .join(hitByNp, Seq("nprobe"), "left")
      .join(costByNp, Seq("nprobe"), "left")
      .select(col("nprobe").cast("long").as("nprobe"),
        coalesce(col("t"), lit(0L)).as("n_true"),
        coalesce(col("h"), lit(0L)).as("n_hit"),
        round(coalesce(col("h"), lit(0L)).cast("double") / col("t"), 6)
          .as("recall"),
        coalesce(col("c"), lit(0L)).as("n_scored"))
  }

  /** ANN index recall canary — the monitor a production vector-search
    * deployment runs continuously: per sampled query, the fraction of
    * the TRUE cosine top-k (brute force over the sample) that the LSH
    * index actually returned. Recall decay is how index staleness,
    * bad re-bucketing, or a drifting embedding distribution surfaces
    * FIRST; deploying an ANN index without this gauge means silently
    * degraded retrieval. The brute-force side is priced per-QUERY
    * (the [[NQueryVecs]] sample), not per-corpus — the standard
    * sampled-canary cost model, identical at any corpus size.
    *
    * What it reports on the fixture is itself informative: mean top-10
    * recall 0.13 (sf0.01) for the 4-table × 12-plane LSH index. The
    * fixture embeddings are near-uniform, the regime where hyperplane
    * buckets carry least signal (IVF's learned cells reach 0.62 on the
    * same corpus, SimilaritySpec); clustered production embeddings sit
    * far higher. That decision — add tables, raise planes, or switch to
    * IVF — is exactly what this monitor exists to trigger, which is why
    * it reports the honest number rather than tuning the fixture.
    */
  def annRecall(spark: SparkSession, dir: String): DataFrame = {
    val truth = simCosineTopk(spark, dir).select("query_id", "neighbor_id")
    val approx = annLsh(spark, dir)
      .select(col("query_id"), col("neighbor_id"), lit(1L).as("hit"))
    truth.join(approx, Seq("query_id", "neighbor_id"), "left")
      .groupBy("query_id")
      .agg(
        count(lit(1)).cast("long").as("n_true"),
        sum(coalesce(col("hit"), lit(0L))).as("n_hit"),
        round(sum(coalesce(col("hit"), lit(0L))).cast("double") /
          count(lit(1)), 6).as("recall"))
  }

  val queries: Map[String, Q] = Map(
    "q_sim_cosine_topk" -> simCosineTopk _,
    "q_ann_lsh" -> annLsh _,
    "q_ann_ivf" -> annIvf _,
    "q_ann_pq" -> annPq _,
    "q_ann_incremental" -> annIncremental _,
    "q_semantic_dedup" -> semanticDedup _,
    "q_kmeans_refine" -> kmeansRefine _,
    "q_embed_near_dup" -> embedNearDup _,
    "q_embed_sensitivity" -> embedSensitivity _,
    "q_embed_centroid" -> embedCentroid _,
    "q_embed_quantize" -> embedQuantize _,
    "q_embed_project" -> embedProject _,
    "q_ann_recall" -> annRecall _,
    "q_ann_nprobe_sweep" -> annNprobeSweep _)

  /** Shared cosine SQL fragment: same fused accumulation order as the
    * Catalyst expression (independent accumulators, index order).
    */
  private def cosSql(a: String, b: String): String =
    s"""(list_reduce(list_transform(range(1, len($a)+1),
       |    i -> CAST($a[i] AS DOUBLE) * CAST($b[i] AS DOUBLE)), (x,y) -> x+y)
       |  / (sqrt(list_reduce(list_transform(range(1, len($a)+1),
       |    i -> CAST($a[i] AS DOUBLE) * CAST($a[i] AS DOUBLE)), (x,y) -> x+y))
       |  * sqrt(list_reduce(list_transform(range(1, len($b)+1),
       |    i -> CAST($b[i] AS DOUBLE) * CAST($b[i] AS DOUBLE)), (x,y) -> x+y))))""".stripMargin

  /** Shared centroid/assignment CTE chain (DuckDB): mean centroid per
    * label cell, every vector scored against every centroid, probe-ranked
    * per vector — the twin of [[cellRanked]].
    */
  private def cellCtes: String = cellCtesFrom("embeddings")

  /** Same chain with the centroid-fit source parameterized (the
    * incremental oracle fits centroids on the corpus slice only).
    */
  private def cellCtesFrom(centSrc: String): String =
    s"""cent AS (
       |  SELECT cell, list(c ORDER BY dim) AS centroid FROM (
       |    SELECT label AS cell, i AS dim,
       |      round(sum(CAST(x AS DOUBLE)) / count(*), 6) AS c
       |    FROM $centSrc, LATERAL (SELECT
       |      generate_subscripts(embedding, 1) AS i,
       |      unnest(embedding) AS x)
       |    GROUP BY label, i) GROUP BY cell),
       |scored AS (SELECT vec_id, embedding, cell,
       |    round(${cosSql("centroid", "embedding")}, 6) AS cos_c
       |  FROM embeddings CROSS JOIN cent),
       |ranked0 AS (SELECT *, row_number() OVER (PARTITION BY vec_id
       |    ORDER BY cos_c DESC, cell) AS crank FROM scored)""".stripMargin

  /** DuckDB twin of [[annLsh]]: plane weights derive inline from the
    * [[planeWeights]] formula (i = d+1 is range's 1-based index), dots
    * fold in dimension order (bit-identical to the codegen'd
    * [[graft.functions.HyperplaneSignatures]] loop — float×int products
    * are exact in double, and both engines add in the same order), table
    * signatures re-assemble via the same dot>0 bit tests.
    */
  private def lshSql: String = {
    val w = s"(((($PwMulA*p + $PwAddA) * i + $PwMulB*p + $PwAddB) " +
      s"% $PwMod) - $PwShift)"
    s"""dots AS (
       |  SELECT vec_id, p,
       |    list_reduce(list_transform(range(1, len(embedding)+1),
       |      i -> CAST(embedding[i] AS DOUBLE) * $w),
       |      (a,b) -> a+b) AS dot
       |  FROM embeddings,
       |    (SELECT unnest(range(0, ${NTables * PlanesPerTable})) AS p)),
       |sigs AS (
       |  SELECT vec_id, CAST(p // $PlanesPerTable AS INTEGER) AS tbl,
       |    CAST(sum(CASE WHEN dot > 0
       |      THEN (1 << CAST(p % $PlanesPerTable AS INTEGER))
       |      ELSE 0 END) AS INTEGER) AS sig
       |  FROM dots GROUP BY vec_id, p // $PlanesPerTable),
       |qs AS (SELECT vec_id AS query_id, tbl, sig FROM sigs
       |  WHERE vec_id < $NQueryVecs),
       |cand AS (SELECT DISTINCT query_id, s.vec_id AS neighbor_id
       |  FROM sigs s JOIN qs USING (tbl, sig) WHERE s.vec_id <> query_id),
       |rer AS (SELECT query_id, neighbor_id,
       |    round(${cosSql("q.embedding", "c.embedding")}, 6) AS cos_sim
       |  FROM cand JOIN embeddings q ON q.vec_id = cand.query_id
       |  JOIN embeddings c ON c.vec_id = cand.neighbor_id),
       |ranked AS (SELECT *, row_number() OVER (PARTITION BY query_id
       |    ORDER BY cos_sim DESC, neighbor_id) AS rank FROM rer)""".stripMargin
  }

  val oracles: Map[String, String] = Map(
    "q_embed_quantize" ->
      s"""WITH dims AS (SELECT vec_id, i - 1 AS pos, CAST(x AS DOUBLE) AS v
         |  FROM embeddings, LATERAL (SELECT
         |    generate_subscripts(embedding, 1) AS i,
         |    unnest(embedding) AS x)),
         |stats AS (SELECT pos, min(v) AS dmin, max(v) AS dmax
         |  FROM dims GROUP BY pos),
         |q AS (SELECT vec_id, v, dmin, dmax,
         |    CASE WHEN dmax = dmin THEN 0
         |      ELSE floor((v - dmin) / (dmax - dmin) * $QuantLevels + 0.5)
         |        - 127 END AS code
         |  FROM dims JOIN stats USING (pos)),
         |r AS (SELECT vec_id, v, code,
         |    CASE WHEN dmax = dmin THEN dmin
         |      ELSE dmin + (code + 127) * (dmax - dmin) / $QuantLevels
         |      END AS deq
         |  FROM q)
         |SELECT vec_id, count(*) AS n_dims,
         |  CAST(sum(code) AS BIGINT) AS code_sum,
         |  round(max(abs(v - deq)), 6) AS max_abs_err,
         |  round(sqrt(avg((v - deq) * (v - deq))), 6) AS rmse
         |FROM r GROUP BY vec_id""".stripMargin,
    "q_embed_project" ->
      s"""WITH dims AS (SELECT vec_id, i - 1 AS pos, CAST(x AS DOUBLE) AS v
         |  FROM embeddings, LATERAL (SELECT
         |    generate_subscripts(embedding, 1) AS i,
         |    unnest(embedding) AS x)),
         |stats AS (SELECT pos, min(v) AS dmin, max(v) AS dmax
         |  FROM dims GROUP BY pos),
         |q AS (SELECT vec_id, pos,
         |    CASE WHEN dmax = dmin THEN 0
         |      ELSE CAST(floor((v - dmin) / (dmax - dmin) * $QuantLevels
         |        + 0.5) AS BIGINT) - 127 END AS code
         |  FROM dims JOIN stats USING (pos))
         |SELECT vec_id, CAST(j AS INTEGER) AS out_dim,
         |  CAST(sum(CASE (pos * 31 + j * 17 + 5) % 6
         |    WHEN 0 THEN code WHEN 1 THEN -code ELSE 0 END) AS BIGINT)
         |    AS proj
         |FROM q, (SELECT unnest(range(0, $ProjDims)) AS j)
         |GROUP BY vec_id, j""".stripMargin,
    "q_ann_lsh" ->
      s"""WITH $lshSql
         |SELECT query_id, neighbor_id, cos_sim, CAST(rank AS INTEGER) AS rank
         |FROM ranked WHERE rank <= $TopK""".stripMargin,
    "q_ann_recall" ->
      s"""WITH $lshSql,
         |lsh AS (SELECT query_id, neighbor_id FROM ranked
         |  WHERE rank <= $TopK),
         |bqv AS (SELECT vec_id AS query_id, embedding AS qe
         |  FROM embeddings WHERE vec_id < $NQueryVecs),
         |bpairs AS (SELECT query_id, vec_id AS neighbor_id,
         |    round(${cosSql("qe", "embedding")}, 6) AS cos_sim
         |  FROM embeddings CROSS JOIN bqv WHERE vec_id <> query_id),
         |branked AS (SELECT *, row_number() OVER (PARTITION BY query_id
         |    ORDER BY cos_sim DESC, neighbor_id) AS rank FROM bpairs),
         |truth AS (SELECT query_id, neighbor_id FROM branked
         |  WHERE rank <= $TopK)
         |SELECT t.query_id, CAST(count(*) AS BIGINT) AS n_true,
         |  CAST(sum(CASE WHEN l.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_hit,
         |  round(CAST(sum(CASE WHEN l.neighbor_id IS NOT NULL
         |      THEN 1 ELSE 0 END) AS DOUBLE) / count(*), 6) AS recall
         |FROM truth t LEFT JOIN lsh l
         |  ON t.query_id = l.query_id AND t.neighbor_id = l.neighbor_id
         |GROUP BY t.query_id""".stripMargin,
    "q_sim_cosine_topk" ->
      s"""WITH qv AS (SELECT vec_id AS query_id, embedding AS qe FROM embeddings WHERE vec_id < $NQueryVecs),
         |pairs AS (SELECT query_id, vec_id AS neighbor_id,
         |    round(${cosSql("qe", "embedding")}, 6) AS cos_sim
         |  FROM embeddings CROSS JOIN qv WHERE vec_id <> query_id),
         |ranked AS (SELECT *, row_number() OVER (PARTITION BY query_id
         |    ORDER BY cos_sim DESC, neighbor_id) AS rank FROM pairs)
         |SELECT query_id, neighbor_id, cos_sim, CAST(rank AS INTEGER) AS rank
         |FROM ranked WHERE rank <= $TopK""".stripMargin,
    "q_embed_sensitivity" -> {
      val thrVals = EmbedSweepPct.map(t => s"($t)").mkString(", ")
      s"""WITH p AS (SELECT a.vec_id AS va, b.vec_id AS vb,
         |    CAST(round(round(${cosSql("a.embedding", "b.embedding")}, 6)
         |      * 1000000) AS BIGINT) AS cm
         |  FROM embeddings a JOIN embeddings b
         |    ON a.label = b.label AND a.vec_id < b.vec_id
         |  WHERE round(${cosSql("a.embedding", "b.embedding")}, 6)
         |    >= ${EmbedSweepPct.min / 100.0}),
         |t AS (SELECT CAST(thr AS BIGINT) AS threshold_pct
         |  FROM (VALUES $thrVals) v(thr)),
         |s AS (SELECT threshold_pct, va, vb FROM p, t
         |  WHERE cm >= threshold_pct * 10000),
         |np AS (SELECT threshold_pct, CAST(count(*) AS BIGINT) AS p
         |  FROM s GROUP BY threshold_pct),
         |nd AS (SELECT threshold_pct,
         |    CAST(count(DISTINCT v) AS BIGINT) AS g
         |  FROM (SELECT threshold_pct, unnest([va, vb]) AS v FROM s)
         |  GROUP BY threshold_pct)
         |SELECT threshold_pct, coalesce(p, 0) AS n_pairs,
         |  coalesce(g, 0) AS n_dup_vecs
         |FROM t LEFT JOIN np USING (threshold_pct)
         |LEFT JOIN nd USING (threshold_pct)""".stripMargin
    },
    "q_embed_near_dup" ->
      s"""SELECT a.label, a.vec_id AS vec_a, b.vec_id AS vec_b,
         |  round(${cosSql("a.embedding", "b.embedding")}, 6) AS cos_sim
         |FROM embeddings a JOIN embeddings b
         |  ON a.label = b.label AND a.vec_id < b.vec_id
         |WHERE round(${cosSql("a.embedding", "b.embedding")}, 6)
         |  >= $NearDupThreshold""".stripMargin,
    "q_embed_centroid" ->
      """SELECT label, CAST(i - 1 AS INTEGER) AS dim, round(sum(CAST(x AS DOUBLE)) / count(*), 6) AS centroid, count(*) AS n FROM embeddings, LATERAL (SELECT generate_subscripts(embedding, 1) AS i, unnest(embedding) AS x) GROUP BY label, i""",
    "q_ann_ivf" ->
      s"""WITH $cellCtes,
         |corpus AS (SELECT vec_id AS neighbor_id, embedding AS ce, cell
         |  FROM ranked0 WHERE crank = 1),
         |probes AS (SELECT vec_id AS query_id, embedding AS qe, cell
         |  FROM ranked0 WHERE vec_id < $NQueryVecs AND crank <= $NProbe),
         |cand AS (SELECT query_id, neighbor_id,
         |    round(${cosSql("qe", "ce")}, 6) AS cos_sim
         |  FROM corpus JOIN probes USING (cell)
         |  WHERE neighbor_id <> query_id),
         |ranked AS (SELECT *, row_number() OVER (PARTITION BY query_id
         |    ORDER BY cos_sim DESC, neighbor_id) AS rank FROM cand)
         |SELECT query_id, neighbor_id, cos_sim, CAST(rank AS INTEGER) AS rank
         |FROM ranked WHERE rank <= $TopK""".stripMargin,
    "q_ann_nprobe_sweep" -> {
      val npVals = NprobeSweep.map(t => s"($t)").mkString(", ")
      s"""WITH $cellCtes,
         |assign AS (SELECT vec_id AS neighbor_id, cell FROM ranked0
         |  WHERE crank = 1),
         |qv AS (SELECT vec_id AS query_id, embedding AS qe
         |  FROM embeddings WHERE vec_id < $NQueryVecs),
         |pairs AS (SELECT query_id, vec_id AS neighbor_id,
         |    round(${cosSql("qe", "embedding")}, 6) AS cos_sim
         |  FROM embeddings CROSS JOIN qv WHERE vec_id <> query_id),
         |rankedt AS (SELECT *, row_number() OVER (PARTITION BY query_id
         |    ORDER BY cos_sim DESC, neighbor_id) AS rank FROM pairs),
         |truth AS (SELECT query_id, neighbor_id FROM rankedt
         |  WHERE rank <= $TopK),
         |qrank AS (SELECT vec_id AS query_id, cell, crank FROM ranked0
         |  WHERE vec_id < $NQueryVecs),
         |minnp AS (SELECT t.query_id, q.crank AS min_np
         |  FROM truth t JOIN assign a USING (neighbor_id)
         |  JOIN qrank q ON q.query_id = t.query_id AND q.cell = a.cell),
         |np(nprobe) AS (SELECT * FROM (VALUES $npVals)),
         |tr AS (SELECT nprobe, count(*) AS t FROM truth CROSS JOIN np
         |  GROUP BY 1),
         |ht AS (SELECT nprobe, count(*) AS h FROM minnp CROSS JOIN np
         |  WHERE min_np <= nprobe GROUP BY 1),
         |cs AS (SELECT cell, count(*) AS csize FROM assign GROUP BY cell),
         |co AS (SELECT nprobe, sum(csize) AS c
         |  FROM qrank JOIN cs USING (cell) CROSS JOIN np
         |  WHERE crank <= nprobe GROUP BY 1)
         |SELECT CAST(np.nprobe AS BIGINT) AS nprobe,
         |  CAST(COALESCE(t, 0) AS BIGINT) AS n_true,
         |  CAST(COALESCE(h, 0) AS BIGINT) AS n_hit,
         |  round(CAST(COALESCE(h, 0) AS DOUBLE) / t, 6) AS recall,
         |  CAST(COALESCE(c, 0) AS BIGINT) AS n_scored
         |FROM np LEFT JOIN tr USING (nprobe) LEFT JOIN ht USING (nprobe)
         |LEFT JOIN co USING (nprobe)""".stripMargin
    },
    "q_ann_pq" ->
      s"""WITH sub AS (SELECT vec_id, label, s,
         |    embedding[CAST(s * $PqSubDim + 1 AS INT) :
         |      CAST(s * $PqSubDim + $PqSubDim AS INT)] AS sv
         |  FROM embeddings, (SELECT unnest(range(0, $PqNSub)) AS s)),
         |cb0 AS (SELECT s, label AS code, i AS dim,
         |    round(sum(CAST(x AS DOUBLE)) / count(*), 6) AS c
         |  FROM sub, LATERAL (SELECT generate_subscripts(sv, 1) AS i,
         |    unnest(sv) AS x)
         |  GROUP BY s, label, i),
         |cb AS (SELECT s, code, list(c ORDER BY dim) AS cv FROM cb0
         |  GROUP BY s, code),
         |cbn AS (SELECT s, code, cv, list_reduce(
         |    list_transform(cv, x -> x * x), (a, b) -> a + b) AS cnorm2
         |  FROM cb),
         |enc0 AS (SELECT vec_id, s, code, cnorm2, list_reduce(
         |    list_transform(range(1, len(sv) + 1),
         |      i -> (CAST(sv[i] AS DOUBLE) - cv[i])
         |         * (CAST(sv[i] AS DOUBLE) - cv[i])), (a, b) -> a + b) AS l2
         |  FROM sub JOIN cbn USING (s) WHERE vec_id >= $NQueryVecs),
         |enc AS (SELECT vec_id, s, code, cnorm2 FROM (SELECT *,
         |    row_number() OVER (PARTITION BY vec_id, s
         |      ORDER BY l2, code) AS rk FROM enc0) WHERE rk = 1),
         |qd AS (SELECT vec_id AS query_id, s, code, list_reduce(
         |    list_transform(range(1, len(sv) + 1),
         |      i -> CAST(sv[i] AS DOUBLE) * cv[i]), (a, b) -> a + b) AS qpart
         |  FROM sub JOIN cbn USING (s) WHERE vec_id < $NQueryVecs),
         |qn AS (SELECT vec_id AS query_id, sqrt(list_reduce(
         |    list_transform(embedding, x -> CAST(x AS DOUBLE)
         |      * CAST(x AS DOUBLE)), (a, b) -> a + b)) AS qnorm
         |  FROM embeddings WHERE vec_id < $NQueryVecs),
         |sc AS (SELECT query_id, vec_id AS neighbor_id,
         |    sum(qpart) AS adot, sum(e.cnorm2) AS rnorm2
         |  FROM enc e JOIN qd USING (s, code) GROUP BY query_id, vec_id),
         |short AS (SELECT query_id, neighbor_id FROM (
         |  SELECT query_id, neighbor_id, row_number() OVER (
         |      PARTITION BY query_id
         |      ORDER BY round(adot / (qnorm * sqrt(rnorm2)), 6) DESC,
         |        neighbor_id) AS srank
         |    FROM sc JOIN qn USING (query_id)) WHERE srank <= $PqShortlist),
         |rer AS (SELECT query_id, neighbor_id,
         |    round(${cosSql("q.embedding", "c.embedding")}, 6) AS cos_sim
         |  FROM short
         |  JOIN embeddings q ON q.vec_id = short.query_id
         |  JOIN embeddings c ON c.vec_id = short.neighbor_id),
         |ranked AS (SELECT *, row_number() OVER (PARTITION BY query_id
         |    ORDER BY cos_sim DESC, neighbor_id) AS rank FROM rer)
         |SELECT query_id, neighbor_id, cos_sim,
         |  CAST(rank AS INTEGER) AS rank
         |FROM ranked WHERE rank <= $TopK""".stripMargin,
    "q_ann_incremental" ->
      s"""WITH ${cellCtesFrom(
            s"(SELECT * FROM embeddings WHERE vec_id >= $NQueryVecs) corp")},
         |corpus AS (SELECT vec_id AS neighbor_id, embedding AS ce, cell
         |  FROM ranked0 WHERE crank = 1 AND vec_id >= $NQueryVecs),
         |probes AS (SELECT vec_id AS query_id, embedding AS qe, cell
         |  FROM ranked0 WHERE vec_id < $NQueryVecs AND crank <= $NProbe),
         |cand AS (SELECT query_id, neighbor_id,
         |    round(${cosSql("qe", "ce")}, 6) AS cos_sim
         |  FROM corpus JOIN probes USING (cell)),
         |ranked AS (SELECT *, row_number() OVER (PARTITION BY query_id
         |    ORDER BY cos_sim DESC, neighbor_id) AS rank FROM cand)
         |SELECT query_id, neighbor_id, cos_sim, CAST(rank AS INTEGER) AS rank
         |FROM ranked WHERE rank <= $TopK""".stripMargin,
    "q_semantic_dedup" ->
      s"""WITH $cellCtes,
         |assign AS (SELECT vec_id, embedding, cell
         |  FROM ranked0 WHERE crank = 1),
         |pairs AS (SELECT a.vec_id AS va, b.vec_id AS vb
         |  FROM assign a JOIN assign b
         |    ON a.cell = b.cell AND a.vec_id < b.vec_id
         |  WHERE round(${cosSql("a.embedding", "b.embedding")}, 6)
         |    >= $NearDupThreshold),
         |dup AS (SELECT vb AS vec_id, min(va) AS dup_of
         |  FROM pairs GROUP BY vb)
         |SELECT a.vec_id, a.cell, d.dup_of, (d.dup_of IS NULL) AS keep
         |FROM assign a LEFT JOIN dup d USING (vec_id)""".stripMargin,
    "q_kmeans_refine" ->
      s"""WITH $cellCtes,
         |assign AS (SELECT vec_id, embedding, cell
         |  FROM ranked0 WHERE crank = 1)
         |SELECT cell, CAST(i - 1 AS INTEGER) AS dim,
         |  round(sum(CAST(x AS DOUBLE)) / count(*), 6) AS centroid,
         |  count(*) AS n_members
         |FROM assign, LATERAL (SELECT
         |  generate_subscripts(embedding, 1) AS i,
         |  unnest(embedding) AS x)
         |GROUP BY cell, i""".stripMargin)
}
