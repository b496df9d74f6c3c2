package graft.engine

import scala.util.{Failure, Success, Try}

import org.apache.spark.ml.{Pipeline => MlPipeline, Transformer}
import org.apache.spark.ml.attribute.AttributeGroup
import org.apache.spark.ml.classification.{GBTClassifier, LogisticRegression, LogisticRegressionModel, RandomForestClassificationModel, RandomForestClassifier}
import org.apache.spark.ml.feature.{Bucketizer, OneHotEncoder, QuantileDiscretizer, RFormula, StringIndexer, UnivariateFeatureSelector, VectorAssembler, VectorSlicer}
import org.apache.spark.ml.evaluation.BinaryClassificationEvaluator
import org.apache.spark.ml.linalg.Vector
import org.apache.spark.ml.tuning.{CrossValidator, CrossValidatorModel, ParamGridBuilder}
import org.apache.spark.mllib.evaluation.{BinaryClassificationMetrics, MulticlassMetrics}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.NumericType
import org.apache.spark.storage.StorageLevel

/** The reference's ML surface (SURVEY.md §2.9 M1–M12) re-hosted on the
  * synthetic basetable: StringIndexer×2 → OneHotEncoder → RFormula →
  * chi-square percentile feature selection → {LogisticRegression,
  * RandomForest, GBT} → AUC / per-class precision-recall-F1.
  *
  * Label analog (FIXTURES.md §C): "did the customer produce a purchase
  * event" stands in for "did the business start delivery/takeout". Not
  * DuckDB-expressible — validated by smoke/threshold ScalaTests (SURVEY §5
  * item 4); the `ml_train_eval` query returns a metrics table (rows-only
  * driver check).
  *
  * Reference fidelity: split 70/30 seed 7 (`Databricks Notebook.py:737`),
  * LR maxIter=10 regParam=0.01 (NB:805), RF numTrees=50 (NB:873), GBT
  * defaults (NB:941), ChiSqSelector percentile=0.9 (NB:775) via Spark 4's
  * UnivariateFeatureSelector (SURVEY §7.5 risk 4).
  */
object MlSuite {
  type Q = (SparkSession, String) => DataFrame

  val Seed = 7L

  /** [[basetableLabeled]] CACHED + MEMOIZED per (session, dir) — r21,
    * guide §2.4 (the tokenizedDocs house pattern): FOUR query mouths
    * re-ran the whole star join (lineitem scan + two fact aggregations
    * + customer joins) independently — [[prepared]] (ml_train_eval /
    * ml_describe / ml_cross_validate / ml_quality_classifier ride its
    * memo) and the three frozen-model deployment reads
    * (`q_lr_confusion`, `q_gbt_confusion`, `q_rf_confusion`). The frame
    * is |customers| rows × 10 columns (~15k rows at sf0.1) — customer-
    * dimension-sized by construction, never fact-table-sized, but it
    * still grows with the customer dimension, so it is not free at
    * scale. `MEMORY_AND_DISK_SER` is what makes it safe: serialized
    * blocks keep the session-long footprint small (guide §5) and what
    * does not fit in memory goes to disk instead of being dropped and
    * recomputed, while each later consumer saves the full fact-side
    * pass.
    */
  private def labeledCached(spark: SparkSession, dir: String): DataFrame =
    SessionMemo.cached(spark, s"ml.labeled:$dir",
        StorageLevel.MEMORY_AND_DISK_SER)(basetableLabeled(spark, dir))

  /** Basetable + binary label, ML-typed: strings→categoricals kept for the
    * indexers, decimal→double, count nulls already filled by the star.
    */
  def basetableLabeled(spark: SparkSession, dir: String): DataFrame = {
    val base = Pipeline.basetableStar(spark, dir)
    val purchasers = Tables.events(spark, dir)
      .filter(col("event_type") === "purchase")
      .select(col("user_id").as("c_custkey")).distinct()
      .withColumn("label", lit(1.0))
    base.join(purchasers, Seq("c_custkey"), "left")
      .withColumn("label", coalesce(col("label"), lit(0.0)))
      .withColumn("total_spend",
        coalesce(col("total_spend").cast("double"), lit(0.0)))
      .withColumn("avg_event_value", coalesce(col("avg_event_value"), lit(0.0)))
      .drop("last_order", "c_name")
  }

  /** M1–M3: categorical encoding pipeline (city/state analog =
    * c_mktsegment/n_name), then drop the raw/indexed intermediates —
    * mirroring the reference's manual encode-then-model flow.
    */
  def encodeCategoricals(df: DataFrame): DataFrame = {
    // one multi-column indexer fit = ONE distinct-aggregation pass over
    // the frame instead of one per categorical column
    val idx = new StringIndexer()
      .setInputCols(Array("c_mktsegment", "n_name"))
      .setOutputCols(Array("seg_idx", "nat_idx"))
      .setHandleInvalid("keep")
    val ohe = new OneHotEncoder()
      .setInputCols(Array("seg_idx", "nat_idx"))
      .setOutputCols(Array("seg_vec", "nat_vec"))
    new MlPipeline().setStages(Array(idx, ohe))
      .fit(df).transform(df)
      .drop("c_mktsegment", "n_name", "seg_idx", "nat_idx")
  }

  /** Full fit/eval for one classifier; returns (model, dataset, metric,
    * value) rows. Metrics computed through the reference's RDD path
    * (BinaryClassificationMetrics / MulticlassMetrics,
    * `Databricks Notebook.py:836–862`).
    */
  private def evalModel(name: String, preds0: DataFrame,
      dataset: String): Seq[(String, String, String, Double)] = {
    // cache: the two RDD projections + the multi-pass metric classes would
    // otherwise re-execute the whole transform pipeline per metric job
    val preds = preds0
      .select(col("probability"), col("prediction"), col("label")).cache()
    try {
      val scoreAndLabel = preds.rdd
        .map(r => (r.getAs[Vector](0)(1), r.getDouble(2)))
      val predAndLabel = preds.rdd
        .map(r => (r.getDouble(1), r.getDouble(2)))
      val bin = new BinaryClassificationMetrics(scoreAndLabel)
      val mc = new MulticlassMetrics(predAndLabel)
      val labels = Seq(0.0, 1.0)
      Seq((name, dataset, "auc", bin.areaUnderROC()),
        (name, dataset, "accuracy", mc.accuracy),
        (name, dataset, "weighted_f1", mc.weightedFMeasure)) ++
        labels.flatMap { l =>
          Seq((name, dataset, s"precision_$l", mc.precision(l)),
            (name, dataset, s"recall_$l", mc.recall(l)),
            (name, dataset, s"f1_$l", mc.fMeasure(l, 1.0)))
        }
    } finally preds.unpersist()
  }

  /** Prepared ML frames plus the feature-selection provenance: which
    * statistic actually ran (`"chi2"` or the `"anova_f"` fallback) and the
    * selected/total slot counts — asserted by MlSpec.
    */
  final case class PreparedMl(train: DataFrame, test: DataFrame,
    statistic: String, nSelected: Int, nTotal: Int)

  /** M4–M6: formula assembly, seeded split, chi-square percentile
    * selection — returns the selected (train, test) feature frames, both
    * CACHED, plus selection provenance.
    *
    * Memoized per (session, dir): `ml_train_eval` and `ml_describe` share
    * the same star-join → encode → formula → select chain, and every
    * classifier fit iterates the train frame — without the memo each query
    * re-runs the whole preparation. The post-selection frames are tiny
    * (|customers| rows × selected-feature vectors), so keeping them cached
    * for the session costs ~nothing; each frame is a [[SessionMemo.cached]]
    * entry, so eviction on session end unpersists both.
    */
  def prepared(spark: SparkSession, dir: String): PreparedMl =
    SessionMemo.getOrCompute(spark, s"ml.prepare:$dir") {
      // the two StringIndexer fits, the OHE fit, the RFormula fit, and the
      // formula transform each traverse the labeled basetable — served
      // from the session-wide [[labeledCached]] memo (r21: the confusion
      // deployment reads share the same frame, so it outlives this
      // builder instead of being dropped after the selected frames
      // materialize)
      val labeled = labeledCached(spark, dir)
      // Size the ML frames' partitioning to their actual row count: they
      // are |customers| rows (tiny next to the fact tables), but inherit
      // the star join's shuffle partitioning — and every L-BFGS step and
      // every tree in the forest/boosting fits launches one job over those
      // partitions, so 15k rows spread over 32 partitions turn each of the
      // ~hundreds of fit iterations into a 32-task job of ~500-row tasks.
      // 64k rows/partition keeps tasks memory-trivial while the partition
      // count still grows linearly with the data at cluster scale. The
      // count also materializes `labeled` BEFORE the four estimator fits
      // traverse it, so none of them pays the star join.
      val mlParts = math.max(1,
        math.ceil(labeled.count() / 65536.0).toInt)
      val encoded = encodeCategoricals(labeled)
      // The reference selects with ChiSqSelector(percentile=0.9)
      // (`Databricks Notebook.py:775`) over an (almost) all-dummy matrix.
      // Our matrix mixes one-hot dummies with continuous counts/amounts,
      // and Spark's chi2 hard-fails past 10k distinct feature values (hit
      // at sf0.1) — so restore the reference's statistic by decile-
      // bucketing every continuous column (QuantileDiscretizer) into a
      // PARALLEL all-categorical vector with the SAME slot layout, running
      // chi2 over that, and slicing the ORIGINAL vector by the selected
      // slots: selection is the reference's chi-square, training still
      // sees real values, and per-feature cardinality is bounded at 11
      // regardless of scale.
      val assembledCols = encoded.columns
        .filterNot(c => c == "label" || c == "c_custkey")
      val contCols = assembledCols.filter(c =>
        encoded.schema(c).dataType.isInstanceOf[NumericType])
      val decOf = contCols.map(c => c -> s"${c}__dec").toMap
      val qd = new QuantileDiscretizer()
        .setInputCols(contCols).setOutputCols(contCols.map(decOf))
        .setNumBuckets(10).setHandleInvalid("keep")
        .fit(encoded)
      // Zero-inflated columns (n_events is 0 for most customers) break
      // plain decile splits: when one value v carries most of the mass,
      // every interior split equals v, left-closed buckets put ALL rows in
      // one category, chi2's degrees of freedom hit zero (p = 1.0), and
      // the most predictive features get dropped. Refine the fitted splits
      // so each quantile point v becomes its own singleton bucket
      // [v, nextUp(v)): any repeated-mass value gets a category of its own
      // wherever it sits (min, max, middle) and cardinality stays
      // ≤ 2·buckets+1.
      val refined = qd.getSplitsArray.map { sp =>
        Array(Double.NegativeInfinity) ++
          sp.filterNot(_.isInfinite)
            .flatMap(s => Array(s, Math.nextUp(s))).distinct.sorted ++
          Array(Double.PositiveInfinity)
      }
      val disc = new Bucketizer()
        .setInputCols(contCols).setOutputCols(contCols.map(decOf))
        .setSplitsArray(refined).setHandleInvalid("keep")
        .transform(encoded)
      // RFormula "." resolves to dataset column order; the assembler below
      // walks the same order with each continuous column swapped for its
      // decile twin, so slot i means the same feature in both vectors.
      val rf = new RFormula()
        .setFormula(("label ~ . - c_custkey" +:
          contCols.map(c => s"- ${decOf(c)}")).mkString(" "))
        .setFeaturesCol("features").setLabelCol("label")
      val discAsm = new VectorAssembler()
        .setInputCols(assembledCols.map(c => decOf.getOrElse(c, c)))
        .setOutputCol("features_disc")
      // repartition, not coalesce: coalesce(n) pulls the WHOLE upstream
      // encode+assemble chain into n tasks (serializing it at small n);
      // the narrow shuffle here is rows × two feature vectors — cheap —
      // and the transform keeps the cached frame's full parallelism
      val formed = discAsm.transform(rf.fit(disc).transform(disc))
        .select("c_custkey", "features", "features_disc", "label")
        .repartition(mlParts).cache()
      val Array(train, test) =
        formed.randomSplit(Array(0.7, 0.3), seed = Seed)
      val chi2 = new UnivariateFeatureSelector()
        .setFeatureType("categorical").setLabelType("categorical")
        .setSelectionMode("percentile").setSelectionThreshold(0.9)
        .setFeaturesCol("features_disc").setOutputCol("sel_disc")
        .setLabelCol("label")
      // ANOVA F-test fallback — the pre-round-9 documented substitution —
      // in case chi2 ever rejects a bucketed matrix it shouldn't.
      val (statistic, selIdx) = Try(chi2.fit(train).selectedFeatures) match {
        case Success(idx) => ("chi2", idx)
        case Failure(_) =>
          val anova = new UnivariateFeatureSelector()
            .setFeatureType("continuous").setLabelType("categorical")
            .setSelectionMode("percentile").setSelectionThreshold(0.9)
            .setFeaturesCol("features").setOutputCol("sel_cont")
            .setLabelCol("label")
          ("anova_f", anova.fit(train).selectedFeatures)
      }
      val nTotal = {
        val n = AttributeGroup.fromStructField(formed.schema("features")).size
        if (n >= 0) n
        else formed.select("features").head.getAs[Vector](0).size
      }
      // VectorSlicer keeps the sliced slots' attribute metadata, so
      // describeModel still resolves real feature names.
      val slicer = new VectorSlicer().setInputCol("features")
        .setOutputCol("selectedFeatures").setIndices(selIdx.sorted)
      // cache (not localCheckpoint): measured both under the CV loop —
      // checkpoint-truncated lineage reads 13.6 s vs 12.8 s cached, i.e.
      // lineage shipping is NOT where ml_cross_validate's time goes
      // (see BASELINE.md "Round-15 ML attribution"), so the simpler
      // cache + count materialization stays.
      def sel(df: DataFrame, part: String): DataFrame =
        SessionMemo.cached(spark, s"ml.prepare:$dir:$part",
            StorageLevel.MEMORY_AND_DISK) {
          slicer.transform(df)
            .drop("features", "features_disc")
            .withColumnRenamed("selectedFeatures", "features")
        }
      val (trainS, testS) = (sel(train, "train"), sel(test, "test"))
      trainS.count(); testS.count()
      // labeled stays persisted — it is the session-wide memo's frame,
      // shared with the deployment confusion reads
      formed.unpersist()
      PreparedMl(trainS, testS, statistic, selIdx.length, nTotal)
    }

  /** M4–M6 frames only (the common call shape). */
  def prepare(spark: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val p = prepared(spark, dir)
    (p.train, p.test)
  }

  private def estimator(name: String) = name match {
    case "lr" => new LogisticRegression().setMaxIter(10).setRegParam(0.01)
    case "rf" => new RandomForestClassifier().setNumTrees(50).setSeed(Seed)
    case "gbt" => new GBTClassifier().setSeed(Seed)
  }

  /** Fitted model, memoized per (session, dir, name): `ml_describe`
    * introspects the SAME lr/rf models `ml_train_eval` evaluates — one fit
    * each per session, not one per query.
    */
  private def fitted(spark: SparkSession, dir: String,
      name: String): Transformer =
    SessionMemo.getOrCompute(spark, s"ml.model:$name:$dir") {
      val (train, _) = prepare(spark, dir)
      estimator(name).fit(train).asInstanceOf[Transformer]
    }

  /** Feature-vector slot names from the ML attribute metadata the encoding
    * pipeline attached (the reference's ExtractFeatureImp walks the same
    * metadata, `Databricks Notebook.py:884–893`). Falls back to positional
    * names if a slot carries no attribute.
    */
  private def featureNames(df: DataFrame): Int => String = {
    val ag = AttributeGroup.fromStructField(df.schema("features"))
    val byIndex: Map[Int, String] = ag.attributes match {
      case Some(attrs) => attrs.flatMap(a =>
        a.index.map(i => i -> a.name.getOrElse(s"f$i"))).toMap
      case None => Map.empty
    }
    i => byIndex.getOrElse(i, s"f$i")
  }

  /** M10 — model introspection: LR coefficients/intercept and RF feature
    * importances as a tidy (model, slot, term, value) table, with terms
    * resolved to FEATURE NAMES from the vector attribute metadata — the
    * reference's ExtractFeatureImp shape (`Databricks Notebook.py:813–823,
    * 879–893`). Driver-visible as `ml_describe` (rows-only check).
    */
  def describeModel(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    import scala.concurrent.ExecutionContext.Implicits.global
    val (train, _) = prepare(spark, dir)
    val nameOf = featureNames(train)
    // same concurrency rationale as [[trainEval]]: the two fits' job
    // chains interleave; memoization hands the fitted models to any later
    // trainEval for free (and vice versa)
    val Seq(lrmF, rfmF) = Seq("lr", "rf").map(m =>
      Future(fitted(spark, dir, m)))
    val lrm = Await.result(lrmF, Duration.Inf)
      .asInstanceOf[LogisticRegressionModel]
    val rfm = Await.result(rfmF, Duration.Inf)
      .asInstanceOf[RandomForestClassificationModel]
    val rows =
      lrm.coefficients.toArray.zipWithIndex.map { case (c, i) =>
        ("lr_coefficient", i, nameOf(i), c)
      }.toSeq :+ (("lr_intercept", -1, "(intercept)", lrm.intercept)) :++
        rfm.featureImportances.toArray.zipWithIndex.map { case (v, i) =>
          ("rf_importance", i, nameOf(i), v)
        }
    rows.toDF("model", "slot", "term", "value")
      .withColumn("value", round(col("value"), 6))
  }

  /** M4–M12 end to end: fit (memoized) + evaluate each requested
    * classifier on both splits.
    *
    * The classifiers run CONCURRENTLY (one future per model): each fit is
    * a long chain of small jobs over a dimension-sized cached frame —
    * L-BFGS steps, per-tree split searches, boosting iterations — whose
    * wall time is dominated by job-scheduling latency no single fit can
    * hide. Spark's scheduler interleaves the three fits' jobs across the
    * cores one fit alone leaves idle, so the fit section costs max(model)
    * instead of sum(model). `prepare` runs BEFORE the fork so the futures
    * share the memoized cached split instead of racing to build it; seeds
    * make each fit deterministic regardless of interleaving, and
    * Future.sequence keeps the output row order fixed.
    */
  private def trainEvalRows(spark: SparkSession, dir: String,
      models: Seq[String]): Seq[(String, String, String, Double)] = {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    import scala.concurrent.ExecutionContext.Implicits.global
    val (trainS, testS) = prepare(spark, dir)
    Await.result(Future.sequence(models.map { m =>
      Future {
        val model = fitted(spark, dir, m)
        evalModel(m, model.transform(trainS), "train") ++
          evalModel(m, model.transform(testS), "test")
      }
    }), Duration.Inf).flatten
  }

  def trainEval(spark: SparkSession, dir: String,
      models: Seq[String]): DataFrame = {
    import spark.implicits._
    trainEvalRows(spark, dir, models)
      .toDF("model", "dataset", "metric", "value")
      .withColumn("value", round(col("value"), 4))
  }

  /** The FULL metrics table quantized to integer MICRO-UNITS
    * (`value_micro = rint(value·1e6)`) BEFORE any display rounding: exact
    * `Long` equality over this table across fresh sessions is MlSpec's
    * determinism gate — a 1e-6 drift in any metric under seed 7 fails the
    * suite (the golden-value strengthening of the loose >0.9 thresholds;
    * the reference's published table rounds to 2 decimals,
    * `Final Report.pdf` p.4, far coarser than this gate).
    */
  def trainEvalMicro(spark: SparkSession, dir: String,
      models: Seq[String]): DataFrame = {
    import spark.implicits._
    trainEvalRows(spark, dir, models)
      .map { case (m, d, k, v) => (m, d, k, math.rint(v * 1e6).toLong) }
      .toDF("model", "dataset", "metric", "value_micro")
  }

  /** The driver query runs ALL THREE classifiers — the reference's
    * published results table is the RF/GBT AUC rows (`Final Report.pdf`
    * p.4; `Databricks Notebook.py:873–874, 941–943`).
    */
  def mlTrainEval(spark: SparkSession, dir: String): DataFrame =
    trainEval(spark, dir, Seq("lr", "rf", "gbt"))

  /** Seeded k-fold cross-validation + grid search — the step the
    * reference EXPLICITLY could not afford ("Cross validation or hyper
    * parameter tuning could not be used given the slow speed of the
    * Databricks platform", Final Report.pdf p.4): a 3-fold CV over a
    * 2×2 LR grid (regParam × elasticNetParam), seed-pinned end to end
    * so fold assignment, every fold fit, and the averaged metrics are
    * deterministic. `parallelism=4` fits the fold×combo grid
    * concurrently — the same scheduler-interleaving argument as
    * [[trainEval]]; on a cluster the 12 fold-fits spread across
    * executors, which is exactly why CV is affordable here and wasn't
    * on the reference's single cramped driver.
    *
    * Output: one row per grid point with its cross-validated AUC, the
    * winning point flagged, plus the winner's held-out test AUC — the
    * model-selection table the reference's report wished it had.
    */
  private def crossValidateRows(spark: SparkSession,
      dir: String): Seq[(Double, Double, Double, Int, Double)] = {
    val (train, test) = prepare(spark, dir)
    val lr = new LogisticRegression().setMaxIter(10)
    val grid = new ParamGridBuilder()
      .addGrid(lr.regParam, Array(0.01, 0.1))
      .addGrid(lr.elasticNetParam, Array(0.0, 0.5))
      .build()
    val auc = new BinaryClassificationEvaluator()
      .setMetricName("areaUnderROC")
    val m = SessionMemo.getOrCompute(spark, s"ml.cv:$dir") {
      new CrossValidator()
        .setEstimator(lr).setEstimatorParamMaps(grid)
        .setEvaluator(auc).setNumFolds(3).setSeed(Seed)
        // 4-way, measured: 8-way interleaving read 13.1/14.7 s on two
        // same-head sweeps vs 11.8 s at 4-way — past 4 concurrent fits
        // the fold-fits' own tasks contend for the same cores and the
        // scheduler-latency win inverts; values are seed-pinned
        // regardless of interleaving (MlSpec's micro-unit CV gate)
        .setParallelism(4)
        .fit(train)
    }.asInstanceOf[CrossValidatorModel]
    val best = m.bestModel.asInstanceOf[LogisticRegressionModel]
    val testAuc = auc.evaluate(best.transform(test))
    // zip the FIT-TIME param maps with avgMetrics — NOT a freshly built
    // grid: ParamGridBuilder's enumeration order depends on Param
    // hashCodes (estimator-uid-derived), so a rebuilt grid on a memo-hit
    // call can order the cartesian product differently and mis-attach
    // AUCs to grid points. Params are matched by NAME because the
    // memoized maps key off the original fit's estimator instance.
    m.getEstimatorParamMaps.zip(m.avgMetrics).toSeq
      .map { case (pm, cvAuc) =>
        def p(name: String): Double = pm.toSeq
          .find(_.param.name == name)
          .getOrElse(sys.error(s"CV param map lacks $name"))
          .value.asInstanceOf[Double]
        val (rp, en) = (p("regParam"), p("elasticNetParam"))
        (rp, en, cvAuc,
          if (rp == best.getRegParam && en == best.getElasticNetParam) 1
          else 0, testAuc)
      }
  }

  def crossValidate(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    crossValidateRows(spark, dir)
      .toDF("reg_param", "elastic_net", "cv_auc", "is_best", "best_test_auc")
      .withColumn("cv_auc", round(col("cv_auc"), 4))
      .withColumn("best_test_auc", round(col("best_test_auc"), 4))
  }

  /** CV grid quantized to integer micro-units (same contract as
    * [[trainEvalMicro]]): the exact-equality determinism gate over fold
    * assignment, every fold fit, and the averaged metrics.
    */
  def crossValidateMicro(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    crossValidateRows(spark, dir)
      .map { case (rp, en, cv, best, tst) =>
        (math.rint(rp * 1e6).toLong, math.rint(en * 1e6).toLong,
          math.rint(cv * 1e6).toLong, best, math.rint(tst * 1e6).toLong)
      }
      .toDF("reg_param_micro", "elastic_net_micro", "cv_auc_micro",
        "is_best", "best_test_auc_micro")
  }

  /** Quality-classifier loop, training half (FineWeb-Edu shape): a
    * seeded LR learns the [[TextOps.qualityFeatures]] → rule-bundle-keep
    * mapping (hand rules bootstrap a trainable scorer; a production run
    * swaps the weak rule labels for human/LLM annotations — the
    * training machinery is identical). Emits the learned model AND its
    * metrics as rows: intercept, one coefficient per feature (in
    * [[TextOps.QualityLrW]] order), train AUC/accuracy, and corpus/
    * class sizes — the artifact a deployment freezes into the
    * `q_quality_score` literals. Rows-only by design (Spark-ML fit is
    * not DuckDB-expressible); MlSpec pins fit determinism and the
    * metric floors, and the SCORING pass with frozen weights is the
    * hash-gated half (`q_quality_score`).
    */
  def qualityClassifier(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val feats = TextOps.qualityFeatures(
      Tables.documents(spark, dir).select("doc_id", "text"))
      .withColumn("label", col("rules_keep").cast("double"))
    val cols = Array("f_ntok", "f_stop", "f_dupb", "f_wlen")
    val assembled = new VectorAssembler().setInputCols(cols)
      .setOutputCol("features").transform(feats).cache()
    try {
      // ONE aggregation job for the class counts (the cached frame then
      // feeds the fit and the prediction pass — three actions total)
      val cnt = assembled.agg(count(lit(1)),
        sum(col("label"))).collect().head
      val nDocs = cnt.getLong(0)
      val nKeepPre =
        if (cnt.isNullAt(1)) 0L else cnt.getDouble(1).toLong
      // degenerate corpora (empty, or single-class labels) cannot fit:
      // emit the structural rows with the trivial classifier's metrics
      // instead of throwing — the robustness contract for every query
      if (nDocs == 0L || nKeepPre == 0L || nKeepPre == nDocs) {
        val maj = if (nDocs == 0L) 0.0
          else math.max(nKeepPre, nDocs - nKeepPre).toDouble / nDocs
        return (Seq(("intercept", 0.0)) ++
          cols.map(c => (s"coef_$c", 0.0)) ++
          Seq(("auc_train", 0.5), ("accuracy_train", maj),
            ("n_docs", nDocs.toDouble), ("n_keep", nKeepPre.toDouble)))
          .toDF("metric", "value")
          .withColumn("value", round(col("value"), 6))
      }
      val lr = new LogisticRegression().setMaxIter(100)
        .setRegParam(0.001).setStandardization(true)
      val m = lr.fit(assembled)
      val preds = m.transform(assembled)
      val auc = new BinaryClassificationEvaluator()
        .setMetricName("areaUnderROC").evaluate(preds)
      val nCorrect = preds
        .filter((col("prediction") === 1.0) === (col("label") === 1.0))
        .count()
      val acc = nCorrect.toDouble / nDocs
      val rows =
        Seq(("intercept", m.intercept)) ++
          cols.zipWithIndex.map { case (c, i) =>
            (s"coef_$c", m.coefficients(i))
          } ++
          Seq(("auc_train", auc), ("accuracy_train", acc),
            ("n_docs", nDocs.toDouble),
            ("n_keep", nKeepPre.toDouble))
      rows.toDF("metric", "value")
        .withColumn("value", round(col("value"), 6))
    } finally { assembled.unpersist(): Unit }
  }

  // --------------------------------------------------------------------
  // Frozen-LR deployment gate (q_lr_confusion): the hash-gated half of
  // the reference's M7/M11/M12 chain. `ml_train_eval` fits and evaluates
  // through Spark ML (rows-only by design); THIS surface re-expresses the
  // same LogisticRegression → MulticlassMetrics flow in the shippable
  // shape — an explicit fixed feature program, a deterministic hash
  // split, frozen coefficients, and confusion/score-bucket arithmetic
  // that is pure column algebra — so the DuckDB oracle can replay it
  // bit-for-bit (the `q_quality_score` pattern, extended from a 4-weight
  // text scorer to the reference's full one-hot + continuous matrix).
  // --------------------------------------------------------------------

  /** TPC-H's five market segments and the fixtures' 25 nation names —
    * the FIXED one-hot vocabularies (the reference pins its dummy
    * columns the same way, `Databricks Notebook.py:342–462`: a fixed
    * value list, not a fitted StringIndexer, is what a deployed scorer
    * ships with).
    */
  val DeploySegments: Seq[String] = Seq("AUTOMOBILE", "BUILDING",
    "FURNITURE", "HOUSEHOLD", "MACHINERY")
  val DeployNations: Seq[String] = (0 until 25).map(i => s"NATION_$i")

  /** Feature-column names in FROZEN order (must match [[DeployLrW]]):
    * 5 segment dummies, 25 nation dummies, 6 continuous basetable
    * metrics — the same one-hot+continuous matrix `ml_train_eval`'s
    * RFormula assembles, written as explicit named columns so both
    * engines evaluate the identical program.
    */
  val DeployFeatureNames: Seq[String] =
    DeploySegments.map(s => s"d_seg_${s.toLowerCase}") ++
      DeployNations.indices.map(i => s"d_nat_$i") ++
      Seq("f_orders", "f_spend", "f_items", "f_qty", "f_events", "f_aev")

  /** Deterministic 70/30 split key: Knuth multiplicative hash of
    * c_custkey mod a prime (the [[Curation.weightedSample]] family) —
    * rerun-stable and engine-portable, unlike `randomSplit`'s
    * partition-sensitive sampler (which remains the fit-side machinery
    * under MlSpec's determinism gate). Kept as ONE SQL string so Spark
    * (`expr`) and DuckDB parse the identical arithmetic.
    */
  val DeploySplitUSql = "(c_custkey * 2654435761) % 1000000007"
  val DeployTestSql = s"($DeploySplitUSql) % 10 >= 7"

  /** The (feature_i, label, is_test) frame both the trainer and the
    * frozen scorer ride — shared builder so train-time and score-time
    * features cannot drift (the [[TextOps.qualityFeatures]] contract).
    * Note the fixtures' label ("customer produced a purchase event") is
    * linearly separable from the event-count features by construction,
    * so the frozen gates read accuracy 1.0 — the gates' subject is the
    * frozen-arithmetic replay (margins, cells, single-division
    * metrics), not task difficulty.
    * All features double-typed: dummies are fixed-vocabulary CASE
    * columns; continuous columns are the star's exact aggregates cast
    * once (`sum_qty` is an exact decimal sum; `total_spend`/
    * `avg_event_value` are the star's round-2/round-6 doubles).
    */
  def deployFeatures(spark: SparkSession, dir: String): DataFrame = {
    // r21: served from the session-wide labeled memo — each of the three
    // frozen-model confusion queries was re-running the star join
    val base = labeledCached(spark, dir)
    val segCols = DeploySegments.map(s =>
      when(col("c_mktsegment") === s, 1.0).otherwise(0.0)
        .as(s"d_seg_${s.toLowerCase}"))
    val natCols = DeployNations.zipWithIndex.map { case (n, i) =>
      when(col("n_name") === n, 1.0).otherwise(0.0).as(s"d_nat_$i")
    }
    val contCols = Seq(
      col("n_orders").cast("double").as("f_orders"),
      col("total_spend").as("f_spend"),
      col("n_items").cast("double").as("f_items"),
      col("sum_qty").cast("double").as("f_qty"),
      col("n_events").cast("double").as("f_events"),
      col("avg_event_value").as("f_aev"))
    base.select(col("c_custkey") +: col("label") +:
      expr(DeployTestSql).as("is_test") +:
      (segCols ++ natCols ++ contCols): _*)
  }

  /** Reference-parameter LR (maxIter=10, regParam=0.01 —
    * `Databricks Notebook.py:805`) fit on the deterministic train
    * split of [[deployFeatures]]. This is the provenance of the
    * [[DeployLrW]] literals (one documented fit at sf0.01); MlSpec
    * asserts retraining yields a working model, the frozen constants
    * are the shipped artifact.
    */
  def fitDeployLr(spark: SparkSession, dir: String): LogisticRegressionModel = {
    val train = new VectorAssembler()
      .setInputCols(DeployFeatureNames.toArray).setOutputCol("features")
      .transform(deployFeatures(spark, dir).filter(!col("is_test")))
    new LogisticRegression().setMaxIter(10).setRegParam(0.01)
      .fit(train)
  }

  /** Frozen deploy-LR weights in [[DeployFeatureNames]] order, from one
    * [[fitDeployLr]] run at sf0.01 (seeded split, reference params) —
    * pinned as literals so scoring is a pure oracle-checkable column
    * program, exactly like [[TextOps.QualityLrW]].
    */
  val DeployLrIntercept: Double = -5.280393846870005
  val DeployLrW: Seq[Double] = Seq(
    // d_seg_automobile .. d_seg_machinery
    -0.06951369372281493, 0.11579661356171625, -0.04093724038261322,
    0.04078584069469275, -0.048512233816879385,
    // d_nat_0 .. d_nat_24
    -0.1506573061841852, 0.2354537705416473, 0.0027345100053793544,
    -0.015918218789275337, 0.07716690186886883, -0.13690375514485645,
    -0.21121358272850008, -0.32210447209923954, -0.1114641075635916,
    0.027103291239600605, 0.0791608423809302, 0.1264852900247231,
    -0.12722013359636486, 0.06724729078636149, -0.016288302344570387,
    -0.2469978956586011, 0.008472237448658656, 0.15607460956608313,
    0.0577171061050779, 0.16615113655525368, 0.45062880488674806,
    0.02281471411896825, -0.02616145543137197, -0.0487774228114939,
    -0.057710767111766724,
    // f_orders, f_spend, f_items, f_qty, f_events, f_aev
    -0.0062568828067181646, -6.692890096186802e-9,
    -9.575625356504845e-4, 2.028906147189589e-5, 0.06519506955787076,
    0.08784341639475142)

  /** Reference-M9 GBT in deployment shape: boosted trees over the SAME
    * [[deployFeatures]] program and hash split as the LR gate (depth 3 ×
    * 10 iterations, seed 7 — a deployment-sized ensemble; the rows-only
    * `ml_train_eval` still fits the reference's default-sized GBT).
    * Provenance of the [[DeployGbtTreeSql]]/[[DeployGbtTreeW]] literals.
    */
  def fitDeployGbt(spark: SparkSession,
      dir: String): org.apache.spark.ml.classification.GBTClassificationModel = {
    val train = new VectorAssembler()
      .setInputCols(DeployFeatureNames.toArray).setOutputCol("features")
      .transform(deployFeatures(spark, dir).filter(!col("is_test")))
    new GBTClassifier().setMaxIter(10).setMaxDepth(3).setSeed(Seed)
      .fit(train)
  }

  /** A fitted tree rendered as ONE canonical SQL CASE expression over
    * the named [[deployFeatures]] columns (Spark CART semantics:
    * `feature <= threshold` goes left). The rendered TEXT is the frozen
    * artifact — `expr()` on the Spark side and verbatim splice on the
    * DuckDB side parse the identical program, so the tree walk cannot
    * drift between engines.
    */
  private[graft] def treeToSql(n: org.apache.spark.ml.tree.Node): String =
    n match {
      case i: org.apache.spark.ml.tree.InternalNode =>
        val sp = i.split match {
          case c: org.apache.spark.ml.tree.ContinuousSplit => c
          case other => throw new IllegalStateException(
            s"deploy features are all continuous; got $other")
        }
        s"(CASE WHEN ${DeployFeatureNames(sp.featureIndex)} <= " +
          s"${sp.threshold} THEN ${treeToSql(i.leftChild)} ELSE " +
          s"${treeToSql(i.rightChild)} END)"
      case l: org.apache.spark.ml.tree.LeafNode => l.prediction.toString
      case other =>
        throw new IllegalStateException(s"unknown node type $other")
    }

  /** Frozen deploy-GBT: per-tree weights and CASE texts from one
    * [[fitDeployGbt]] run at sf0.01 (filled by the extractor; the same
    * freeze discipline as [[DeployLrW]]).
    */
  val DeployGbtTreeW: Seq[Double] = Seq(1.0, 0.1, 0.1, 0.1, 0.1, 0.1, 0.1, 0.1, 0.1, 0.1)
  val DeployGbtTreeSql: Seq[String] = Seq(
    "(CASE WHEN f_events <= 24.5 THEN -1.0 ELSE 1.0 END)",
    "(CASE WHEN f_events <= 24.5 THEN (CASE WHEN f_items <= 33.5 THEN -0.47681168808847 ELSE -0.47681168808847013 END) ELSE 0.4768116880884695 END)",
    "(CASE WHEN f_events <= 24.5 THEN -0.43819358104272044 ELSE (CASE WHEN f_events <= 52.5 THEN 0.4381935810427206 ELSE 0.43819358104272066 END) END)",
    "(CASE WHEN f_events <= 24.5 THEN (CASE WHEN f_orders <= 15.5 THEN -0.40514968028459875 ELSE -0.40514968028459863 END) ELSE 0.40514968028459974 END)",
    "(CASE WHEN f_events <= 24.5 THEN (CASE WHEN d_seg_machinery <= 0.5 THEN (CASE WHEN d_nat_2 <= 0.5 THEN -0.3765841318352999 ELSE -0.37658413183529854 END) ELSE -0.3765841318352999 END) ELSE (CASE WHEN f_aev <= 41.00831 THEN 0.3765841318352989 ELSE 0.376584131835299 END) END)",
    "(CASE WHEN f_aev <= 18.62541 THEN -0.351664789581015 ELSE 0.35166478958101777 END)",
    "(CASE WHEN f_events <= 24.5 THEN (CASE WHEN d_seg_building <= 0.5 THEN -0.3297498465553015 ELSE -0.32974984655530026 END) ELSE (CASE WHEN f_orders <= 3.5 THEN 0.3297498465552987 ELSE 0.3297498465552988 END) END)",
    "(CASE WHEN f_aev <= 18.62541 THEN -0.3103372455197992 ELSE 0.3103372455197981 END)",
    "(CASE WHEN f_events <= 24.5 THEN (CASE WHEN d_nat_7 <= 0.5 THEN -0.29302916491254644 ELSE -0.29302916491254266 END) ELSE 0.2930291649125434 END)",
    "(CASE WHEN f_events <= 24.5 THEN (CASE WHEN d_nat_8 <= 0.5 THEN -0.27750666438358734 ELSE -0.27750666438358224 END) ELSE (CASE WHEN d_nat_7 <= 0.5 THEN 0.2775066643835825 ELSE 0.2775066643835835 END) END)")

  /** GBT margin = Σ wᵢ·treeᵢ(x) in one fixed left-to-right expression
    * (the [[deployMarginSql]] contract, leaf sums instead of linear
    * terms). Prediction: margin > 0 — the model's own decision rule.
    */
  private[engine] def gbtMarginSql: String =
    DeployGbtTreeW.zip(DeployGbtTreeSql).foldLeft("0.0") {
      case (acc, (w, t)) => s"$acc + ($w) * $t"
    }

  /** Reference-M8 random forest in deployment shape (same sizing and
    * split as [[fitDeployGbt]]); provenance of [[DeployRfTreeSql]].
    */
  def fitDeployRf(spark: SparkSession,
      dir: String): RandomForestClassificationModel = {
    val train = new VectorAssembler()
      .setInputCols(DeployFeatureNames.toArray).setOutputCol("features")
      .transform(deployFeatures(spark, dir).filter(!col("is_test")))
    new RandomForestClassifier().setNumTrees(10).setMaxDepth(3)
      .setSeed(Seed).fit(train)
  }

  /** Frozen deploy-RF tree CASE texts (leaves are the tree's PREDICTED
    * CLASS, 0.0/1.0) from one [[fitDeployRf]] run at sf0.01.
    */
  val DeployRfTreeSql: Seq[String] = Seq(
    "(CASE WHEN d_nat_24 <= 0.5 THEN (CASE WHEN f_qty <= 1394.5 THEN 0.0 ELSE (CASE WHEN f_events <= 24.5 THEN 0.0 ELSE 1.0 END) END) ELSE (CASE WHEN f_items <= 27.5 THEN (CASE WHEN f_items <= 23.5 THEN 0.0 ELSE 1.0 END) ELSE 0.0 END) END)",
    "(CASE WHEN f_events <= 24.5 THEN 0.0 ELSE 1.0 END)",
    "0.0",
    "(CASE WHEN f_orders <= 16.5 THEN (CASE WHEN f_aev <= 18.62541 THEN 0.0 ELSE 1.0 END) ELSE (CASE WHEN f_orders <= 17.5 THEN 0.0 ELSE (CASE WHEN d_nat_9 <= 0.5 THEN 0.0 ELSE 1.0 END) END) END)",
    "(CASE WHEN f_spend <= 1694944.7 THEN (CASE WHEN f_events <= 24.5 THEN 0.0 ELSE 1.0 END) ELSE (CASE WHEN f_aev <= 18.62541 THEN 0.0 ELSE 1.0 END) END)",
    "(CASE WHEN d_nat_10 <= 0.5 THEN (CASE WHEN f_events <= 24.5 THEN 0.0 ELSE 1.0 END) ELSE (CASE WHEN f_aev <= 18.62541 THEN 0.0 ELSE 1.0 END) END)",
    "(CASE WHEN d_nat_17 <= 0.5 THEN 0.0 ELSE (CASE WHEN f_events <= 24.5 THEN 0.0 ELSE 1.0 END) END)",
    "(CASE WHEN d_seg_building <= 0.5 THEN (CASE WHEN f_events <= 24.5 THEN 0.0 ELSE 1.0 END) ELSE (CASE WHEN d_nat_4 <= 0.5 THEN (CASE WHEN f_aev <= 18.62541 THEN 0.0 ELSE 1.0 END) ELSE (CASE WHEN f_events <= 24.5 THEN 0.0 ELSE 1.0 END) END) END)",
    "(CASE WHEN f_qty <= 1350.0 THEN (CASE WHEN d_nat_11 <= 0.5 THEN (CASE WHEN f_events <= 24.5 THEN 0.0 ELSE 1.0 END) ELSE 0.0 END) ELSE (CASE WHEN f_events <= 24.5 THEN 0.0 ELSE 1.0 END) END)",
    "(CASE WHEN d_nat_15 <= 0.5 THEN (CASE WHEN f_events <= 24.5 THEN 0.0 ELSE 1.0 END) ELSE (CASE WHEN f_spend <= 4389408.425 THEN 0.0 ELSE 1.0 END) END)")

  /** RF margin = hard-majority vote: Σ treeᵢ(x) − n/2; prediction is
    * margin > 0 (a 5–5 tie votes class 0, deterministically). Hard
    * voting is the shippable rule a SQL deployment uses — Spark's own
    * transform soft-votes summed leaf class-probability vectors, so the
    * two can differ on near-tie rows; MlSpec bounds that disagreement
    * instead of pretending equality.
    */
  private[engine] def rfMarginSql: String =
    DeployRfTreeSql.foldLeft((-DeployRfTreeSql.size / 2.0).toString) {
      case (acc, t) => s"$acc + $t"
    }

  /** margin = intercept + Σ wᵢ·fᵢ in ONE fixed left-to-right expression
    * (identical IEEE op sequence in both engines — the
    * [[TextOps.marginSql]] contract).
    */
  private[engine] def deployMarginSql: String =
    DeployLrW.zip(DeployFeatureNames)
      .foldLeft(DeployLrIntercept.toString) {
        case (acc, (w, n)) => s"$acc + ($w) * $n"
      }

  /** Margin-bucket clamp (floor of the rounded margin, clamped to
    * ±[[DeployBucketClamp]]) — bounds the score-histogram row count by
    * construction regardless of corpus size.
    */
  val DeployBucketClamp = 8

  /** M7+M11/M12, deployment half — the FROZEN LR scored over the
    * deterministic test split, reduced to the reference's
    * MulticlassMetrics table (`Databricks Notebook.py:849–862`) as pure
    * arithmetic: confusion cells, accuracy, per-class precision/recall/
    * F1 (each ONE mirrored division of exact integer cells), plus a
    * clamped margin histogram. Output: tidy (metric, value) rows.
    *
    * Scale shape: one star-join scan → one exchange of ≤ (2·clamp+1)·4
    * (bucket, pred, actual) partial-count rows; the metric and
    * histogram branches of the final union aggregate that same tiny
    * exchange (identical subplan → Spark's exchange reuse runs the scan
    * once). No collect, no window, no cartesian.
    */
  def lrConfusion(spark: SparkSession, dir: String): DataFrame =
    confusionTable(spark, dir, deployMarginSql)

  /** The frozen-model confusion/histogram skeleton, parameterized by the
    * margin expression — shared by the LR and GBT deployment gates (one
    * margin string, both engines).
    */
  private def confusionTable(spark: SparkSession, dir: String,
      marginSql: String): DataFrame = {
    // r21: CACHED — the metric branch and the histogram branch both
    // aggregate this <= (2*clamp+1)*4-row cell table. Before the shared
    // [[labeledCached]] memo, AQE's runtime exchange reuse deduped the
    // cell exchange between the union branches; over a cached relation
    // the deduplicated second branch no longer canonicalizes equal and
    // reuse fails, so the bounded cache pins the once-only property
    // structurally instead (PlanSpec's frozen-confusion shape test).
    // Memoized per (dir, margin), since the deployment gates share this
    // skeleton.
    val g = SessionMemo.cached(spark, s"ml.confusion:$dir:$marginSql",
        StorageLevel.MEMORY_AND_DISK) {
      deployFeatures(spark, dir)
        .filter(col("is_test"))
        .select(
          (col("label") > 0.5).as("actual"),
          round(expr(marginSql), 6).as("margin"))
        .select(col("actual"), col("margin"),
          (col("margin") > 0.0).as("pred"),
          least(greatest(floor(col("margin")),
            lit(-DeployBucketClamp.toDouble)),
            lit(DeployBucketClamp.toDouble)).cast("long").as("bucket"))
        .groupBy("bucket", "pred", "actual")
        .agg(count(lit(1)).as("n"))
    }
    def cell(p: Boolean, a: Boolean): Column =
      coalesce(sum(when(col("pred") === p && col("actual") === a,
        col("n"))), lit(0L))
    val cells = g.agg(
      coalesce(sum(col("n")), lit(0L)).as("n_test"),
      cell(p = true, a = true).as("tp"),
      cell(p = true, a = false).as("fp"),
      cell(p = false, a = false).as("tn"),
      cell(p = false, a = true).as("fn"))
    def ratio(num: Column, den: Column): Column =
      when(den > 0, round(num.cast("double") / den.cast("double"), 6))
    // identical struct types inside `array`: alias both fields and keep
    // every value nullable (the ratio cells are) via the when(true) wrap
    def kv(name: String, v: Column): Column = struct(
      lit(name).as("metric"),
      when(lit(true), v.cast("double")).as("value"))
    val metricRows = cells.select(explode(array(
      kv("n_test", col("n_test")),
      kv("tp", col("tp")), kv("fp", col("fp")),
      kv("tn", col("tn")), kv("fn", col("fn")),
      kv("accuracy", ratio(col("tp") + col("tn"), col("n_test"))),
      kv("precision_1", ratio(col("tp"), col("tp") + col("fp"))),
      kv("recall_1", ratio(col("tp"), col("tp") + col("fn"))),
      kv("f1_1", ratio(lit(2L) * col("tp"),
        lit(2L) * col("tp") + col("fp") + col("fn"))),
      kv("precision_0", ratio(col("tn"), col("tn") + col("fn"))),
      kv("recall_0", ratio(col("tn"), col("tn") + col("fp"))),
      kv("f1_0", ratio(lit(2L) * col("tn"),
        lit(2L) * col("tn") + col("fn") + col("fp")))
    )).as("kv")).select(col("kv.metric"), col("kv.value"))
    val bucketRows = g.groupBy("bucket")
      .agg(sum(col("n")).as("n"))
      .select(
        concat(lit("bucket_"), col("bucket").cast("string")).as("metric"),
        col("n").cast("double").as("value"))
    metricRows.union(bucketRows)
  }

  /** DuckDB mirror of [[confusionTable]]: the same star CTE the
    * `q_basetable_star` oracle uses, the same fixed feature program,
    * split hash, frozen margin, and single-division metric arithmetic.
    */
  private def confusionSql(marginSql: String): String = {
    val segExprs = DeploySegments.map(s =>
      s"CASE WHEN c_mktsegment = '$s' THEN 1.0 ELSE 0.0 END " +
        s"AS d_seg_${s.toLowerCase}")
    val natExprs = DeployNations.zipWithIndex.map { case (n, i) =>
      s"CASE WHEN n_name = '$n' THEN 1.0 ELSE 0.0 END AS d_nat_$i"
    }
    val contExprs = Seq(
      "CAST(n_orders AS DOUBLE) AS f_orders",
      "COALESCE(total_spend, 0.0) AS f_spend",
      "CAST(n_items AS DOUBLE) AS f_items",
      "CAST(sum_qty AS DOUBLE) AS f_qty",
      "CAST(n_events AS DOUBLE) AS f_events",
      "COALESCE(avg_event_value, 0.0) AS f_aev")
    val featList = (segExprs ++ natExprs ++ contExprs).mkString(",\n  ")
    val c = DeployBucketClamp
    s"""WITH star AS (${Pipeline.starSql}),
       |lab AS (SELECT DISTINCT user_id FROM events
       |  WHERE event_type = 'purchase'),
       |f AS (SELECT star.c_custkey,
       |  CASE WHEN lab.user_id IS NOT NULL THEN 1 ELSE 0 END AS label,
       |  $featList
       |  FROM star LEFT JOIN lab ON star.c_custkey = lab.user_id
       |  WHERE $DeployTestSql),
       |scored AS (SELECT label = 1 AS actual,
       |    round($marginSql, 6) AS margin FROM f),
       |s2 AS (SELECT actual, margin > 0.0 AS pred,
       |    CAST(least(greatest(floor(margin), ${-c}.0), $c.0) AS BIGINT)
       |      AS bucket FROM scored),
       |cells AS (SELECT count(*) AS n_test,
       |  CAST(COALESCE(sum(CASE WHEN pred AND actual THEN 1 END), 0)
       |    AS BIGINT) AS tp,
       |  CAST(COALESCE(sum(CASE WHEN pred AND NOT actual THEN 1 END), 0)
       |    AS BIGINT) AS fp,
       |  CAST(COALESCE(sum(CASE WHEN NOT pred AND NOT actual THEN 1 END), 0)
       |    AS BIGINT) AS tn,
       |  CAST(COALESCE(sum(CASE WHEN NOT pred AND actual THEN 1 END), 0)
       |    AS BIGINT) AS fn FROM s2)
       |SELECT metric, value FROM cells, LATERAL (VALUES
       |  ('n_test', CAST(n_test AS DOUBLE)),
       |  ('tp', CAST(tp AS DOUBLE)), ('fp', CAST(fp AS DOUBLE)),
       |  ('tn', CAST(tn AS DOUBLE)), ('fn', CAST(fn AS DOUBLE)),
       |  ('accuracy', CASE WHEN n_test > 0 THEN
       |    round(CAST(tp + tn AS DOUBLE) / CAST(n_test AS DOUBLE), 6) END),
       |  ('precision_1', CASE WHEN tp + fp > 0 THEN
       |    round(CAST(tp AS DOUBLE) / CAST(tp + fp AS DOUBLE), 6) END),
       |  ('recall_1', CASE WHEN tp + fn > 0 THEN
       |    round(CAST(tp AS DOUBLE) / CAST(tp + fn AS DOUBLE), 6) END),
       |  ('f1_1', CASE WHEN 2 * tp + fp + fn > 0 THEN
       |    round(CAST(2 * tp AS DOUBLE) /
       |      CAST(2 * tp + fp + fn AS DOUBLE), 6) END),
       |  ('precision_0', CASE WHEN tn + fn > 0 THEN
       |    round(CAST(tn AS DOUBLE) / CAST(tn + fn AS DOUBLE), 6) END),
       |  ('recall_0', CASE WHEN tn + fp > 0 THEN
       |    round(CAST(tn AS DOUBLE) / CAST(tn + fp AS DOUBLE), 6) END),
       |  ('f1_0', CASE WHEN 2 * tn + fn + fp > 0 THEN
       |    round(CAST(2 * tn AS DOUBLE) /
       |      CAST(2 * tn + fn + fp AS DOUBLE), 6) END)
       |  ) t(metric, value)
       |UNION ALL
       |SELECT 'bucket_' || CAST(bucket AS VARCHAR) AS metric,
       |  CAST(count(*) AS DOUBLE) AS value FROM s2 GROUP BY bucket""".stripMargin
  }

  val queries: Map[String, Q] = Map(
    "ml_train_eval" -> mlTrainEval _,
    "ml_describe" -> describeModel _,
    "ml_cross_validate" -> crossValidate _,
    "ml_quality_classifier" -> qualityClassifier _,
    "q_lr_confusion" -> lrConfusion _,
    "q_gbt_confusion" -> gbtConfusion _,
    "q_rf_confusion" -> rfConfusion _)

  /** M9+M11/M12, deployment half — the FROZEN boosted-tree ensemble
    * scored over the deterministic test split (see [[lrConfusion]]; the
    * margin is [[gbtMarginSql]]'s weighted leaf sum).
    */
  def gbtConfusion(spark: SparkSession, dir: String): DataFrame =
    confusionTable(spark, dir, gbtMarginSql)

  /** M8+M11/M12, deployment half — the FROZEN forest hard-majority vote
    * over the deterministic test split (see [[rfMarginSql]]).
    */
  def rfConfusion(spark: SparkSession, dir: String): DataFrame =
    confusionTable(spark, dir, rfMarginSql)

  /** The ML fits are not DuckDB-expressible (rows-only checks);
    * `q_lr_confusion` — the frozen-model deployment half — is.
    */
  val oracles: Map[String, String] = Map(
    "q_lr_confusion" -> confusionSql(deployMarginSql),
    "q_gbt_confusion" -> confusionSql(gbtMarginSql),
    "q_rf_confusion" -> confusionSql(rfMarginSql))
}
