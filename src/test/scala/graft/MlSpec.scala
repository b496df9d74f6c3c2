package graft

import org.apache.spark.sql.functions._
import graft.engine.MlSuite

/** ML pipeline smoke + threshold tests (SURVEY.md §5 item 4): the ML
  * surface is not oracle-checkable, so we assert separability, metric
  * sanity, and fixed-seed determinism (reference seed=7).
  */
class MlSpec extends SparkSpec {

  lazy val metrics: Map[(String, String, String), Double] =
    MlSuite.trainEval(spark, sf, Seq("lr", "rf", "gbt")).collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2)) ->
        r.getDouble(3)).toMap

  test("all three classifiers clear AUC 0.9 on the held-out split") {
    Seq("lr", "rf", "gbt").foreach { m =>
      val auc = metrics((m, "test", "auc"))
      assert(auc > 0.9, s"$m test AUC $auc")
    }
  }

  test("per-class precision/recall/F1 are present and in [0,1]") {
    val keys = metrics.keySet.filter(_._3.startsWith("precision_"))
    assert(keys.nonEmpty)
    metrics.foreach { case ((_, _, _), v) => assert(v >= 0.0 && v <= 1.0) }
  }

  test("feature selection runs the reference's chi-square at ~90%") {
    val p = MlSuite.prepared(spark, sf)
    assert(p.statistic === "chi2",
      s"selection fell back to ${p.statistic}")
    assert(p.nSelected < p.nTotal, "percentile selection dropped nothing")
    val ratio = p.nSelected.toDouble / p.nTotal
    assert(ratio >= 0.85 && ratio <= 0.95,
      s"selected ${p.nSelected}/${p.nTotal} = $ratio, expected ≈0.9")
  }

  test("models land in the reference's quality order: RF ≥ LR on test AUC") {
    // Final Report.pdf p.4: the tree ensembles beat the linear model on
    // the held-out split. Assert the ordering the reference publishes.
    assert(metrics(("rf", "test", "auc")) >= metrics(("lr", "test", "auc")),
      s"rf=${metrics(("rf", "test", "auc"))} lr=${metrics(("lr", "test", "auc"))}")
  }

  test("labeled basetable keeps one row per customer with binary label") {
    val bt = MlSuite.basetableLabeled(spark, sf)
    assert(bt.select("c_custkey").distinct().count() === bt.count())
    val labels = bt.select("label").distinct().collect()
      .map(_.getDouble(0)).toSet
    assert(labels.subsetOf(Set(0.0, 1.0)))
    assert(labels.contains(1.0), "no positive labels in fixture")
  }

  test("cross-validation: 2x2 grid, one winner, AUC sane and reproducible") {
    def cv(s: org.apache.spark.sql.SparkSession) =
      MlSuite.crossValidate(s, sf).collect()
        .map(r => (r.getDouble(0), r.getDouble(1), r.getDouble(2),
          r.getInt(3), r.getDouble(4)))
        .sortBy(t => (t._1, t._2))
    val rows = cv(spark)
    assert(rows.length === 4)
    assert(rows.map(_._4).sum === 1, "exactly one grid point wins")
    assert(rows.forall(r => r._3 > 0.5 && r._3 <= 1.0))
    val winner = rows.find(_._4 == 1).get
    assert(winner._3 === rows.map(_._3).max,
      "winner must carry the best cross-validated AUC")
    assert(rows.forall(r => r._5 > 0.8), "held-out AUC of the winner")
    // memo-hit path: a SECOND call in the same session reuses the fitted
    // CrossValidatorModel but must attach the same AUC to each grid
    // point (regression: zipping a rebuilt grid against the memoized
    // avgMetrics mis-ordered the pairs)
    assert(cv(spark).sameElements(rows))
    // fresh-session reproducibility is asserted (tighter, at 1e-6) by the
    // micro-unit CV gate below — no second refit here
  }

  test("seed 7 reproduces the FULL metrics table to 1e-6 across sessions") {
    // spark.newSession() gets a fresh SessionMemo identity, so the second
    // run re-prepares, re-selects, and re-fits all three models from
    // scratch — same-session memoization cannot fake this equality.
    // Micro-unit (1e-6) INTEGER quantization of the unrounded metrics:
    // exact Long equality means a 1e-6 AUC/F1 drift under seed 7 fails
    // the suite — far tighter than the 4-decimal display rounding.
    def table(s: org.apache.spark.sql.SparkSession) =
      MlSuite.trainEvalMicro(s, sf, Seq("lr", "rf", "gbt")).collect()
        .map(r => (r.getString(0), r.getString(1), r.getString(2), r.getLong(3)))
        .sortBy(t => (t._1, t._2, t._3))
    val a = table(spark)
    val b = table(spark.newSession())
    assert(a.length === b.length)
    a.zip(b).foreach { case (x, y) =>
      assert(x === y, s"micro-unit metric drift: $x vs $y")
    }
    // the table itself is sane: micro-units land in [0, 1e6]
    assert(a.forall(t => t._4 >= 0L && t._4 <= 1000000L))
  }

  test("seed 7 reproduces the CV grid to 1e-6 across fresh sessions") {
    def grid(s: org.apache.spark.sql.SparkSession) =
      MlSuite.crossValidateMicro(s, sf).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3),
          r.getLong(4)))
        .sortBy(t => (t._1, t._2))
    val a = grid(spark)
    val b = grid(spark.newSession())
    a.zip(b).foreach { case (x, y) =>
      assert(x === y, s"micro-unit CV drift: $x vs $y")
    }
  }

  test("deploy LR: frozen confusion gate is consistent and the model transfers") {
    val rows = MlSuite.lrConfusion(spark, sf).collect()
      .map(r => r.getString(0) ->
        (if (r.isNullAt(1)) Double.NaN else r.getDouble(1))).toMap
    val Seq(n, tp, fp, tn, fn) =
      Seq("n_test", "tp", "fp", "tn", "fn").map(rows(_))
    assert(n > 0 && tp + fp + tn + fn === n, "confusion cells partition the split")
    val bucketSum = rows.collect {
      case (k, v) if k.startsWith("bucket_") => v
    }.sum
    assert(bucketSum === n, "margin histogram partitions the split")
    // the metric arithmetic is a pure function of the integer cells
    assert(rows("accuracy") ===
      math.rint((tp + tn) / n * 1e6) / 1e6)
    // the FROZEN sf0.01-trained weights transfer to this fixture — the
    // synthetic label (customer produced a purchase event) is linearly
    // separable from the event-count features at every SF
    assert(rows("accuracy") >= 0.9, s"frozen accuracy ${rows("accuracy")}")
    // split hash lands near 30% test at any SF
    val feats = MlSuite.deployFeatures(spark, sf)
    val total = feats.count().toDouble
    val frac = feats.filter(col("is_test")).count() / total
    assert(frac > 0.2 && frac < 0.4, s"test fraction $frac")
    // retraining reproduces a working model (the frozen constants'
    // provenance path still runs end to end)
    val m = MlSuite.fitDeployLr(spark, sf)
    assert(m.coefficients.size === MlSuite.DeployFeatureNames.size)
    assert(!m.intercept.isNaN)
  }

  test("deploy GBT: frozen tree gate is consistent and the render round-trips") {
    val rows = MlSuite.gbtConfusion(spark, sf).collect()
      .map(r => r.getString(0) ->
        (if (r.isNullAt(1)) Double.NaN else r.getDouble(1))).toMap
    val Seq(n, tp, fp, tn, fn) =
      Seq("n_test", "tp", "fp", "tn", "fn").map(rows(_))
    assert(n > 0 && tp + fp + tn + fn === n)
    assert(rows.collect {
      case (k, v) if k.startsWith("bucket_") => v
    }.sum === n, "margin histogram partitions the split")
    assert(rows("accuracy") >= 0.9, s"frozen GBT accuracy ${rows("accuracy")}")
    // frozen artifact shape: 10 boosted trees, first weight 1.0, the
    // rest the 0.1 step size — the GBT weighting contract the margin
    // fold relies on
    assert(MlSuite.DeployGbtTreeW.length === 10)
    assert(MlSuite.DeployGbtTreeW.head === 1.0)
    assert(MlSuite.DeployGbtTreeW.tail.forall(_ === 0.1))
    assert(MlSuite.DeployGbtTreeSql.length === 10)
    // the renderer round-trips: a freshly fitted tree renders to a CASE
    // text that Spark parses and that scores EXACTLY like the model's
    // own transform (margin sign agreement on every test row)
    val m = MlSuite.fitDeployGbt(spark, sf)
    val treeSqls = m.trees.map(t => MlSuite.treeToSql(t.rootNode))
    val margin = m.treeWeights.zip(treeSqls)
      .foldLeft("0.0") { case (acc, (w, t)) => s"$acc + ($w) * $t" }
    val test = new org.apache.spark.ml.feature.VectorAssembler()
      .setInputCols(MlSuite.DeployFeatureNames.toArray)
      .setOutputCol("features")
      .transform(MlSuite.deployFeatures(spark, sf).filter(col("is_test")))
    val byCase = test.withColumn("m", expr(margin))
      .select((col("m") > 0.0).cast("int").as("p"), col("c_custkey"))
    val byModel = m.transform(test)
      .select(col("prediction").cast("int").as("pm"), col("c_custkey"))
    val disagree = byCase.join(byModel, Seq("c_custkey"))
      .filter(col("p") =!= col("pm")).count()
    assert(disagree === 0L, s"$disagree rendered-tree sign disagreements")
  }

  test("deploy RF: frozen hard-vote gate is consistent and tracks the model") {
    val rows = MlSuite.rfConfusion(spark, sf).collect()
      .map(r => r.getString(0) ->
        (if (r.isNullAt(1)) Double.NaN else r.getDouble(1))).toMap
    val Seq(n, tp, fp, tn, fn) =
      Seq("n_test", "tp", "fp", "tn", "fn").map(rows(_))
    assert(n > 0 && tp + fp + tn + fn === n)
    assert(rows.collect {
      case (k, v) if k.startsWith("bucket_") => v
    }.sum === n)
    assert(rows("accuracy") >= 0.9, s"frozen RF accuracy ${rows("accuracy")}")
    assert(MlSuite.DeployRfTreeSql.length === 10)
    // hard voting vs Spark's soft (probability-sum) voting: a refit
    // forest's rendered hard vote must agree with the model's own
    // transform on >= 95% of test rows (they differ only on near-ties)
    val m = MlSuite.fitDeployRf(spark, sf)
    val treeSqls = m.trees.map(t => MlSuite.treeToSql(t.rootNode))
    val margin = treeSqls.foldLeft((-treeSqls.length / 2.0).toString) {
      case (acc, t) => s"$acc + $t"
    }
    val test = new org.apache.spark.ml.feature.VectorAssembler()
      .setInputCols(MlSuite.DeployFeatureNames.toArray)
      .setOutputCol("features")
      .transform(MlSuite.deployFeatures(spark, sf).filter(col("is_test")))
    val joined = m.transform(test)
      .withColumn("hard", (expr(margin) > 0.0).cast("int"))
      .select(col("hard"), col("prediction").cast("int").as("soft"))
      .cache()
    try {
      val total = joined.count()
      val agree = joined.filter(col("hard") === col("soft")).count()
      assert(total > 0 && agree * 100L >= total * 95L,
        s"hard/soft vote agreement $agree/$total below 95%")
    } finally { joined.unpersist(): Unit }
  }

  test("quality classifier: learnable, deterministic, and the frozen scorer agrees with the rules") {
    import org.apache.spark.sql.functions._
    def rows(s: org.apache.spark.sql.SparkSession) =
      MlSuite.qualityClassifier(s, sf).collect()
        .map(r => r.getString(0) -> r.getDouble(1)).sortBy(_._1)
    val a = rows(spark)
    val m = a.toMap
    // the rule bundle is linearly learnable from its own features: the
    // refit must separate keep from drop nearly perfectly
    assert(m("auc_train") >= 0.99, s"auc ${m("auc_train")}")
    assert(m("accuracy_train") >= 0.95)
    assert(m("n_docs") > m("n_keep") && m("n_keep") > 0,
      "both classes present in the training frame")
    // fit determinism across fresh sessions (the ml_train_eval law)
    val b = rows(spark.newSession())
    a.zip(b).foreach { case (x, y) =>
      assert(x === y, s"classifier drift: $x vs $y")
    }
    // deployment half: the FROZEN sf0.01-trained weights transfer to
    // this fixture — scorer and hand rules agree on >= 95% of docs
    val score = graft.engine.TextOps.qualityScore(spark, sf).cache()
    try {
      val n = score.count()
      val agree = score.filter(col("agree")).count()
      assert(n > 0 && agree * 100L >= n * 95L,
        s"frozen scorer agreement $agree/$n below 95%")
    } finally { score.unpersist(): Unit }
  }

  test("session eviction unpersists the memoized Similarity and ML frames") {
    SparkEntry.queries("q_embed_quantize")(spark, sf)
    SparkEntry.queries("q_ann_incremental")(spark, sf)
    val p = MlSuite.prepared(spark, sf)
    val frames = Seq(
      "dimStats" -> graft.engine.Similarity.dimStats(spark, sf),
      "corpusCentroids" -> graft.engine.Similarity.corpusCentroids(spark, sf),
      "prepared.train" -> p.train, "prepared.test" -> p.test)
    def cached(df: org.apache.spark.sql.DataFrame) =
      spark.sharedState.cacheManager.lookupCachedData(
        df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]).nonEmpty
    frames.foreach { case (n, df) => assert(cached(df), s"$n is not cached") }
    graft.engine.SessionMemo.evictSession(spark)
    frames.foreach { case (n, df) =>
      assert(!cached(df), s"$n stays cached after eviction")
    }
  }
}
