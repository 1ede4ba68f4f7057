package graft.ml

import org.apache.spark.ml.Pipeline
import org.apache.spark.ml.evaluation.RegressionEvaluator
import org.apache.spark.ml.feature.{OneHotEncoder, StringIndexer, VectorAssembler}
import org.apache.spark.ml.regression.{GBTRegressionModel, GBTRegressor}
import org.apache.spark.ml.tuning.{ParamGridBuilder, TrainValidationSplit}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** MLlib re-expression of the reference's fatality-forecasting pipeline
  * (dagster_pipeline/dagster_acled/assets/ml.py): feature preparation with
  * smoothed target encoding (global + leakage-safe K-fold CV forms),
  * one-hot + label encoding, geo distance-from-median-center feature,
  * gradient-boosted-tree regression with a hyperparameter sweep,
  * evaluation metrics, error buckets, and risk categorization.
  *
  * Scale notes: target encoding is a groupBy-aggregate + broadcast join of
  * the (tiny) category-stats table — never a per-row lookup structure on
  * the driver. The hyperparameter sweep runs on a deterministic hash
  * sample (the only sane shape at 100 TB — sweep on a sample, train the
  * final model at full scale with the winning params). Training uses
  * distributed MLlib GBT; prediction is a map-only transform.
  */
object FatalityModel {

  /** Smoothed target encoding (ml.py:47 target_encode_cv, inference form
    * ml.py:100-107): enc(cat) = (n·mean + s·global) / (n + s).
    * One aggregate over the fact table + one broadcast join back. */
  def targetEncode(df: DataFrame, catCol: String, targetCol: String,
                   smoothing: Int = 10): DataFrame = {
    val global = df.agg(avg(targetCol).as("__gm"))
    val stats = df.groupBy(catCol)
      .agg(count(lit(1)).as("__n"), avg(targetCol).as("__m"))
      .crossJoin(broadcast(global))
      .select(
        col(catCol).as("__cat"),
        ((col("__n") * col("__m") + lit(smoothing) * col("__gm")) / (col("__n") + lit(smoothing)))
          .as(s"${catCol}_target_encoded"))
    // Null-safe join key: a NULL category is a legitimate group (the oracle's
    // GROUP BY keeps it) and must still receive its encoding.
    df.join(broadcast(stats), df(catCol) <=> stats("__cat"), "left")
      .drop("__cat")
  }

  /** Leakage-safe K-fold CV target encoding (ml.py:47-70 target_encode_cv):
    * each row's encoding uses only statistics from the OTHER folds —
    * enc = (sum_oof + s·gm_oof) / (n_oof + s), with the global mean also
    * out-of-fold. One groupBy to (cat, fold) granularity, then windows over
    * that tiny aggregate (|cats|×|folds| rows) derive the complements —
    * never a second scan of the fact table. `foldExpr` must be a
    * deterministic row→[0,folds) expression (hash or modulus).
    */
  def targetEncodeCV(df: DataFrame, catCol: String, targetCol: String,
                     foldExpr: Column, folds: Int = 5,
                     smoothing: Int = 10): DataFrame = {
    val tagged = df.withColumn("__fold", foldExpr)
    val perFoldCat = tagged
      .groupBy(col(catCol).as("__cat"), col("__fold"))
      .agg(count(lit(1)).as("__n_fc"), sum(targetCol).as("__s_fc"))
    val wCat = Window.partitionBy("__cat")
    val wFold = Window.partitionBy("__fold")
    val wAll = Window.partitionBy()
    val stats = perFoldCat
      .withColumn("__n_oof", sum("__n_fc").over(wCat) - col("__n_fc"))
      .withColumn("__s_oof", sum("__s_fc").over(wCat) - col("__s_fc"))
      .withColumn("__gm_oof",
        (sum("__s_fc").over(wAll) - sum("__s_fc").over(wFold)) /
          (sum("__n_fc").over(wAll) - sum("__n_fc").over(wFold)))
      .select(
        col("__cat"), col("__fold"),
        ((col("__s_oof") + lit(smoothing) * col("__gm_oof")) /
          (col("__n_oof") + lit(smoothing))).as(s"${catCol}_target_encoded_cv"))
    tagged
      .join(broadcast(stats),
        tagged(catCol) <=> stats("__cat") && tagged("__fold") === stats("__fold"),
        "left")
      .drop(stats("__fold")).drop("__cat")
  }

  /** Euclidean distance from the (approx) median center of two numeric
    * columns (ml.py:142-153 distance-from-median-center geo feature,
    * generalized). percentile_approx gives a single-pass distributed
    * median; the 1-row center is broadcast back. */
  def distanceFromCenter(df: DataFrame, xCol: String, yCol: String,
                         out: String = "dist_from_center"): DataFrame = {
    val center = df.agg(
      percentile_approx(col(xCol), lit(0.5), lit(10000)).as("__cx"),
      percentile_approx(col(yCol), lit(0.5), lit(10000)).as("__cy"))
    df.crossJoin(broadcast(center))
      .withColumn(out,
        sqrt(pow(col(xCol) - col("__cx"), lit(2)) + pow(col(yCol) - col("__cy"), lit(2))))
      .drop("__cx", "__cy")
  }

  /** Feature table from the events feed: categorical one-hot, label
    * encoding, cyclical/derived time features, target encoding, geo-style
    * distance feature (ml.py:72 prepare_features_for_model re-based onto
    * `events`). */
  def prepareFeatures(events: DataFrame): DataFrame = {
    val base = events.select(
      col("event_id"),
      col("event_type"),
      pmod(col("user_id"), lit(10L)).cast("double").as("cohort"),
      hour(col("ts")).cast("double").as("hour_of_day"),
      dayofweek(col("ts")).cast("double").as("day_of_week"),
      month(col("ts")).cast("double").as("month"),
      get_json_object(col("props"), "$.k").cast("double").as("prop_k"),
      col("value"))
    val withDist = distanceFromCenter(base, "cohort", "hour_of_day")
    targetEncode(withDist, "event_type", "value")
  }

  /** `prep` (feature pipeline) + `model` (fitted GBT) ride along so the
    * importance surface and artifact persistence work off the SAME fit the
    * metrics came from — never a second training pass. */
  case class ModelResult(predictions: DataFrame, metrics: DataFrame,
                         prep: org.apache.spark.ml.PipelineModel,
                         model: GBTRegressionModel,
                         featureNames: Array[String])

  private val FeatureCols = Array("event_type_oh", "event_type_target_encoded",
    "cohort", "hour_of_day", "day_of_week", "month", "prop_k", "dist_from_center")

  /** Train GBT on a deterministic split — hyperparameter sweep
    * (TrainValidationSplit over a 4-point grid, ml.py:402-413
    * RandomizedSearchCV) on a 10% hash sample, final fit at full training
    * scale with the winning params — then predict on the held-out fold and
    * compute the reference's evaluation surface (ml.py:424-441): RMSE,
    * MAE, R², error-tolerance buckets, plus the chosen hyperparameters. */
  /** Seeded random sample of `nIter` param maps from a full grid — the
    * reference's RandomizedSearchCV `n_iter` cost-bounding (ml.py:408-411):
    * sweep cost is O(nIter) regardless of grid size, while the fixed seed
    * keeps the chosen configs (and thus the winning model) reproducible
    * run-over-run. nIter >= grid size → the full grid, order untouched. */
  private[graft] def sampleGrid(
      grid: Array[org.apache.spark.ml.param.ParamMap],
      nIter: Int, seed: Long): Array[org.apache.spark.ml.param.ParamMap] =
    if (nIter >= grid.length) grid
    else new scala.util.Random(seed).shuffle(grid.toIndexedSeq).take(nIter).toArray

  def trainAndEvaluate(events: DataFrame, seed: Long = 42L,
      sweepNIter: Int = Int.MaxValue): ModelResult = {
    val feats = prepareFeatures(events).na.fill(0.0)
    val indexer = new StringIndexer()
      .setInputCol("event_type").setOutputCol("event_type_idx")
      .setStringOrderType("alphabetAsc")
      .setHandleInvalid("keep") // null/unseen categories -> reserved index
    val onehot = new OneHotEncoder()
      .setInputCol("event_type_idx").setOutputCol("event_type_oh")
    val assembler = new VectorAssembler()
      .setInputCols(FeatureCols).setOutputCol("features")
    val featPipeline = new Pipeline().setStages(Array(indexer, onehot, assembler))

    // Deterministic hash split (not randomSplit: stable across runs/partitionings).
    val tagged = feats.withColumn("__fold", pmod(xxhash64(col("event_id")), lit(5L)))
    val prep = featPipeline.fit(tagged)
    // GBT schedules ~maxIter sequential rounds of jobs over the cached fold;
    // right-size partitions to the fold (a local-bench fold spread over all
    // cores pays per-task overhead × rounds — at cluster scale keep
    // partitions at the usual ~128 MB and this coalesce is a no-op choice).
    val trainParts = math.max(2, math.min(8,
      events.sparkSession.sparkContext.defaultParallelism / 4))
    val train = prep.transform(tagged.filter(col("__fold") =!= 0))
      .coalesce(trainParts).cache()
    val test = prep.transform(tagged.filter(col("__fold") === 0)).coalesce(trainParts)

    val gbt = new GBTRegressor()
      .setLabelCol("value").setFeaturesCol("features").setSeed(seed)
    val evalRmse = new RegressionEvaluator().setLabelCol("value")
      .setPredictionCol("prediction").setMetricName("rmse")
    // Sweep on a deterministic ~10% sample of the training fold: at corpus
    // scale the grid search runs on a sample, never 4 full-data trainings.
    // coalesce: GBT schedules ~#iters jobs, so a small sample spread over
    // the full partition count pays pure task overhead per tree.
    val sweepSample = train
      .filter(pmod(xxhash64(col("event_id"), lit(1)), lit(10L)) === 0)
      .coalesce(4)
    val grid = new ParamGridBuilder()
      .addGrid(gbt.maxDepth, Array(3, 4))
      .addGrid(gbt.maxIter, Array(10, 20))
      .build()
    val tvs = new TrainValidationSplit()
      .setEstimator(gbt).setEvaluator(evalRmse)
      .setEstimatorParamMaps(sampleGrid(grid, sweepNIter, seed))
      .setTrainRatio(0.8).setSeed(seed)
      .setParallelism(4) // grid points train concurrently on the sample
    val best = tvs.fit(sweepSample).bestModel.asInstanceOf[GBTRegressionModel]
    val (bestDepth, bestIter) = (best.getMaxDepth, best.getMaxIter)
    val model = gbt.setMaxDepth(bestDepth).setMaxIter(bestIter).fit(train)
    train.unpersist()
    // cached: the three evaluator passes + metrics agg + downstream
    // perf/crosstab queries all reread the predictions
    val pred = model.transform(test)
      .select(col("event_id"), col("event_type"), col("value"),
        col("prediction").as("predicted_value"))
      .withColumn("error", col("value") - col("predicted_value"))
      .withColumn("abs_error", abs(col("value") - col("predicted_value")))
      .cache()

    val evalOn = (m: String) => new RegressionEvaluator().setLabelCol("value")
      .setPredictionCol("predicted_value").setMetricName(m).evaluate(pred)
    val spark = events.sparkSession
    import spark.implicits._
    val metrics = pred.agg(
      count(lit(1)).as("n_test"),
      count(when(col("abs_error") <= 1, lit(1))).as("within_1"),
      count(when(col("abs_error") <= 5, lit(1))).as("within_5"),
      count(when(col("abs_error") <= 10, lit(1))).as("within_10"),
      avg("abs_error").as("mae_check"))
      .crossJoin(Seq((evalOn("rmse"), evalOn("mae"), evalOn("r2"), bestDepth, bestIter))
        .toDF("rmse", "mae", "r2", "best_max_depth", "best_max_iter"))
    ModelResult(pred, metrics, prep, model, slotNames(train, "features"))
  }

  /** Per-slot feature names of an assembled vector column, read from its ML
    * attribute metadata (one-hot slots carry their category label, numeric
    * slots their column name) — the Spark twin of `X_train.columns` in the
    * reference (ml.py:446-447). Falls back to positional `f<i>` names only
    * if metadata was stripped. */
  private def slotNames(df: DataFrame, featuresCol: String): Array[String] = {
    val group = org.apache.spark.ml.attribute.AttributeGroup
      .fromStructField(df.schema(featuresCol))
    group.attributes match {
      case Some(attrs) =>
        attrs.map(a => a.name.getOrElse("f" + a.index.getOrElse(-1)))
      case None =>
        Array.tabulate(group.size max 0)(i => s"f$i")
    }
  }

  /** Feature-importance table from the fitted GBT (ml.py:446-469; the
    * dashboard's percent normalization at ml.py:515): one row per assembled
    * feature slot, `(feature, importance, importance_pct)`, ordered
    * importance-descending with the feature name as the deterministic
    * tiebreak. All driver-side — `featureImportances` is a property of the
    * already-fitted model; nothing rescans data. */
  def featureImportance(result: ModelResult): DataFrame = {
    val spark = result.predictions.sparkSession
    import spark.implicits._
    val imps = result.model.featureImportances.toArray
    val names =
      if (result.featureNames.length == imps.length) result.featureNames
      else Array.tabulate(imps.length)(i => s"f$i")
    val total = imps.sum
    names.zip(imps).toSeq
      .map { case (f, imp) =>
        (f, imp, if (total == 0.0) 0.0 else imp / total * 100.0) }
      .sortBy { case (f, imp, _) => (-imp, f) }
      .toDF("feature", "importance", "importance_pct")
  }

  /** Persist the fitted artifact — feature pipeline + GBT — to the lake
    * (the reference pickles its model package through the IO manager,
    * io_manager.py:55 handle_output; MLlib's native writer is the
    * Spark-shaped equivalent: a directory of parquet + JSON metadata that
    * any executor can reload without the driver shipping bytes). */
  def saveModel(result: ModelResult, path: String): Unit = {
    result.prep.write.overwrite().save(path + "/prep")
    result.model.write.overwrite().save(path + "/gbt")
  }

  /** Reload a persisted artifact. `transform` of the returned pair over the
    * same prepared-feature frame must reproduce the in-memory model's
    * predictions bit-for-bit (FatalityModelSpec pins this). */
  def loadModel(path: String):
      (org.apache.spark.ml.PipelineModel, GBTRegressionModel) =
    (org.apache.spark.ml.PipelineModel.load(path + "/prep"),
      GBTRegressionModel.load(path + "/gbt"))

  /** Risk-level thresholds on a (predicted) value column (ml.py:687-694). */
  def riskLevel(v: Column): Column =
    when(v >= 20, "Critical")
      .when(v >= 10, "High")
      .when(v >= 5, "Medium")
      .otherwise("Low")

  /** Risk-level categorization of (predicted) values (ml.py:687-694). */
  def riskCategorize(df: DataFrame, valueCol: String): DataFrame =
    df.withColumn("risk_level", riskLevel(col(valueCol)))

  /** Actual-vs-predicted risk-level confusion rollup (ml.py:693-694
    * computes predicted_risk_level AND actual_risk_level side by side). */
  def riskCrosstab(pred: DataFrame, actualCol: String, predictedCol: String): DataFrame =
    pred.groupBy(
      riskLevel(col(actualCol)).as("actual_risk_level"),
      riskLevel(col(predictedCol)).as("predicted_risk_level"))
      .agg(count(lit(1)).as("cnt"))

  /** Per-group prediction-performance rollup (ml.py:673-685). The group
    * means are computed ORDER-INDEPENDENTLY: each per-row double is
    * rounded to 4dp and scaled to an exact Long, summed in integer
    * arithmetic (commutative — no float-reduction-order dependence), and
    * divided back once. With the deterministic hash split + seeded fit,
    * that makes the rollup a stable golden-pinnable artifact: any
    * sub-5e-5 prediction jitter is absorbed by the per-row rounding
    * instead of leaking into the last ulp of an avg(). */
  def predictionPerformance(pred: DataFrame, groupCol: String): DataFrame =
    pred
      .withColumn("__ae", round(col("abs_error") * 10000).cast("long"))
      .withColumn("__pv", round(col("predicted_value") * 10000).cast("long"))
      .withColumn("__av", round(col("value") * 10000).cast("long"))
      .groupBy(groupCol)
      // each mean divides by the NON-NULL count of its own metric
      // (sum() skips nulls, so dividing by count(*) would silently
      // deflate the mean if a prediction ever came back null); with the
      // non-null predictions the fit guarantees today these counts equal
      // count(*) and the golden pins are unchanged
      .agg(
        round(sum("__ae") / 10000.0 / count("__ae"), 4).as("avg_error"),
        count(lit(1)).as("prediction_count"),
        round(sum("__pv") / 10000.0 / count("__pv"), 4).as("avg_predicted"),
        round(sum("__av") / 10000.0 / count("__av"), 4).as("avg_actual"))
}
