package graft.link

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.ml.classification.LinearSVC
import org.apache.spark.ml.feature.{StandardScaler, VectorAssembler}
import org.apache.spark.ml.linalg.Vector

/** The reference `train-classifier` path (cli.py:176-208,
  * classifier.py:160-260) on spark.ml:
  *
  *  - design matrix = the propagated per-tag feature columns;
  *  - labels: a tag is positive iff its mention span matches a gold phrase
  *    (doc, start, end) AND the tag qid equals the gold qid
  *    (classifier.py:188-195);
  *  - StandardScaler (with mean) -> LinearSVC with balanced class weights
  *    (sklearn class_weight='balanced' == weightCol n/(2*n_class));
  *  - the fitted pipeline is exported as a frozen Scoring.SvmModel so the
  *    serving path stays pure column arithmetic (no mllib at inference).
  */
object Trainer {

  /** gold phrases fixture: (doc_id, start, end, qid). */
  final case class Gold(doc_id: Long, start: Int, end: Int, qid: String)

  /** Planted gold labels over extracted spans: the synthetic corpus embeds
    * a known surface -> entity mapping (DictSpec.goldQidByKey), so every
    * extracted span whose surface is in the map is a gold judgment. This
    * is the training fixture for the frozen served model (TrainFreeze). */
  def plantedGold(tags: DataFrame): DataFrame = {
    val goldMap = graft.dict.DictSpec.goldQidByKey
    val goldUdf = udf { s: String => goldMap.get(s) }
    tags.select(col("doc_id"), col("start"), col("end"), col("surface")).distinct()
      .withColumn("qid", goldUdf(col("surface")))
      .filter(col("qid").isNotNull)
      .select("doc_id", "start", "end", "qid")
  }

  /** label tags against gold (inner span match, qid equality). */
  def labelTags(feats: DataFrame, gold: DataFrame): DataFrame =
    feats.join(gold.select(col("doc_id"), col("start"), col("end"),
      col("qid").as("gold_qid")), Seq("doc_id", "start", "end"), "left")
      .withColumn("label",
        when(col("gold_qid").isNotNull && col("gold_qid") === col("qid"), 1.0)
          .otherwise(0.0))
      .drop("gold_qid")

  /** Train and export a frozen linear model. */
  def train(tags: DataFrame, gold: DataFrame, params: Scoring.Params,
      c: Double = 0.001, maxIter: Int = 100): Scoring.SvmModel = {
    val dim = 5 * (params.nbSteps + 1)
    val featCols = (0 to params.nbSteps).flatMap(s => (0 until 5).map(i => s"f${s}_$i"))

    val caches = scala.collection.mutable.Buffer.empty[DataFrame]
    val edges = Scoring.similarityEdges(tags, params)
    val feats = Scoring.propagateFeatures(tags, edges, params, caches)
    val labeled = labelTags(feats, gold)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

    // released on every exit, the one-class rejections included
    val (scalerModel, svc) = try {
      val counts = labeled.groupBy(col("label")).count().collect()
        .map(r => r.getDouble(0) -> r.getLong(1)).toMap
      val n = counts.values.sum.toDouble
      require(counts.getOrElse(1.0, 0L) > 0, "no positive samples (classifier.py:212)")
      require(counts.getOrElse(0.0, 0L) > 0, "no negative samples (classifier.py:212)")
      val wPos = n / (2.0 * counts(1.0))
      val wNeg = n / (2.0 * counts(0.0))

      val prepared = new VectorAssembler()
        .setInputCols(featCols.toArray).setOutputCol("raw_features")
        .transform(labeled
          .withColumn("weight", when(col("label") === 1.0, lit(wPos)).otherwise(lit(wNeg))))

      val scalerModel = new StandardScaler()
        .setInputCol("raw_features").setOutputCol("features")
        .setWithMean(true).setWithStd(true)
        .fit(prepared)
      val scaled = scalerModel.transform(prepared)

      // sklearn LinearSVC(C) minimizes 0.5*||w||^2 + C*sum_i(w_i * loss_i);
      // Spark minimizes regParam*0.5*||w||^2 + (1/sum_w)*sum_i(w_i * loss_i).
      // Dividing sklearn's objective by C*sum(w) maps the regularization
      // strength: regParam = 1/(C * sum(sampleWeights)); balanced weights sum
      // to n. Residual non-equivalence: sklearn's default squared_hinge vs
      // Spark's hinge loss — not expressible as a parameter.
      val regParam = 1.0 / (c * n)
      val svc = new LinearSVC()
        .setRegParam(regParam).setMaxIter(maxIter)
        .setLabelCol("label").setWeightCol("weight").setFeaturesCol("features")
        .fit(scaled)
      (scalerModel, svc)
    } finally {
      labeled.unpersist()
      caches.foreach(_.unpersist(false)) // per-step propagation caches
    }
    val sigma = scalerModel.std.toArray.map(s => if (s == 0.0) 1.0 else s)
    Scoring.SvmModel(
      weights = svc.coefficients.toArray,
      mean = scalerModel.mean.toArray,
      scale = sigma,
      intercept = svc.intercept)
  }

  /** crossfit_model (classifier.py:94-158): tag once, then for each
    * parameter setting run k-fold CV (folds = doc_id % k, the reference's
    * round-robin chunking) and keep the setting with the best mean F1;
    * finally retrain on all data with the winner. The expensive candidate
    * table is computed once and persisted across the whole grid (the
    * reference's docid_to_mentions cache). */
  def crossfit(tags0: DataFrame, gold: DataFrame,
      grid: Seq[Scoring.Params], k: Int = 5,
      c: Double = 0.01, maxIter: Int = 50
  ): (Scoring.Params, Double, Scoring.SvmModel, Seq[(Scoring.Params, Double)]) = {
    // persist is not refcounted: leave the caller's cache alone if the
    // frame arrived already persisted (TrainFreeze/TrainerSpec do)
    val callerPersisted =
      tags0.storageLevel != org.apache.spark.storage.StorageLevel.NONE
    val tags =
      if (callerPersisted) tags0
      else tags0.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val scores = grid.map { params =>
      var f1Sum = 0.0
      for (fold <- 0 until k) {
        val trainTags = tags.filter(col("doc_id") % k =!= fold)
        val testTags = tags.filter(col("doc_id") % k === fold)
        val trainGold = gold.filter(col("doc_id") % k =!= fold)
        val testGold = gold.filter(col("doc_id") % k === fold)
        val m = train(trainTags, trainGold, params, c, maxIter)
        val best = Scoring.bestLinks(testTags, params, m)
        val (_, _, f1) = evaluate(best, testGold)
        best.unpersist(false)
        f1Sum += f1
      }
      params -> f1Sum / k
    }
    val (bestParams, bestF1) = scores.maxBy(_._2)
    val model = train(tags, gold, bestParams, c, maxIter)
    if (!callerPersisted)
      tags.unpersist(false) // grid-wide candidate cache (docid_to_mentions)
    (bestParams, bestF1, model, scores)
  }

  /** evaluate_model (classifier.py:221-260) as a one-row distributed plan:
    * precision over predictions, recall over gold judgments, on the
    * best-link output. Columns (valid, preds, judgments, precision, recall,
    * f1), unrounded. */
  private def prf(best: DataFrame, gold: DataFrame): DataFrame = {
    val g = gold.select(col("doc_id"), col("start"), col("end"),
      col("qid").as("gold_qid"))
    val joined = best.join(g, Seq("doc_id", "start", "end"), "left")
    val counts = joined.agg(
      sum(when(col("gold_qid").isNotNull && col("gold_qid") === col("best_qid"), 1L)
        .otherwise(0L)).as("valid"),
      count(lit(1)).as("preds"))
    val judgments = g.agg(count(lit(1)).as("judgments"))
    val p = when(col("preds") > 0,
      col("valid").cast("double") / col("preds").cast("double")).otherwise(lit(1.0))
    val rec = when(col("judgments") > 0,
      col("valid").cast("double") / col("judgments").cast("double")).otherwise(lit(1.0))
    val f1 = when(p + rec > 0, lit(2.0) * p * rec / (p + rec)).otherwise(lit(0.0))
    counts.crossJoin(judgments).select(
      col("valid"), col("preds"), col("judgments"),
      p.as("precision"), rec.as("recall"), f1.as("f1"))
  }

  /** [[prf]] with the ratio columns rounded to 6 decimals for cross-engine
    * comparison; the counts are exact. */
  def evaluateDf(best: DataFrame, gold: DataFrame): DataFrame =
    prf(best, gold).select(col("valid"), col("preds"), col("judgments"),
      round(col("precision"), 6).as("precision"), round(col("recall"), 6).as("recall"),
      round(col("f1"), 6).as("f1"))

  /** Scalar (precision, recall, f1) over [[prf]], in one job. */
  def evaluate(best: DataFrame, gold: DataFrame): (Double, Double, Double) = {
    val r = prf(best, gold).select("precision", "recall", "f1").head()
    (r.getDouble(0), r.getDouble(1), r.getDouble(2))
  }
}
