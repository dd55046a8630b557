package graft.ml

import java.nio.file.{Files, Paths}

import org.apache.spark.ListenerBusDrain
import org.apache.spark.ml.{Pipeline, PipelineModel}
import org.apache.spark.ml.feature.{OneHotEncoder, StringIndexer, StringIndexerModel}
import org.apache.spark.ml.linalg.Vector
import org.apache.spark.ml.regression.DecisionTreeRegressionModel
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.apps.ScoreApp
import graft.operators.{Features, Prepare}
import graft.sources.{FlightsGenerator, IO}

/** End-to-end ML lifecycle vs the reference semantics
  * (`/root/reference/src/main/helper_methods.py:252-369`,
  * `/root/reference/src/main/main.py:88-113`): pipeline schema, defensive
  * train flow, metric sanity (the tree must beat a constant predictor on
  * data where ArrDelay is DepDelay-correlated), label thresholds. */
class FlightModelSpec extends SparkSpec {
  import spark.implicits._

  private lazy val prepared: DataFrame = {
    val f = FlightsGenerator.flights(spark, 4000, seed = 42L)
    val p = FlightsGenerator.planeData(spark)
    Prepare.prepareData(f, p).cache()
  }

  test("prepareData yields the 18-column model projection with rows") {
    val expected = (Features.importantNumericFeatures ++
      Features.totalCategoricalFeatures :+ FlightModel.TargetCol).toSet
    assert(prepared.columns.toSet == expected)
    assert(prepared.count() > 1000)
  }

  test("pipeline produces features/scaledFeatures vectors of the right arity") {
    val model = FlightPipeline().fit(prepared)
    val transformed = model.transform(prepared)
    val row = transformed.select("scaledFeatures", "features").head()
    val scaled = row.getAs[org.apache.spark.ml.linalg.Vector]("scaledFeatures")
    val features = row.getAs[org.apache.spark.ml.linalg.Vector]("features")
    assert(scaled.size == Features.importantNumericFeatures.size)
    assert(features.size > scaled.size) // one-hots add slots
  }

  test("trainModel beats a constant-mean predictor on correlated data") {
    val pipelineModel = FlightPipeline().fit(prepared)
    val result = FlightModel.trainModel(prepared, pipelineModel)
    assert(result.model.isDefined && result.predictions.isDefined)
    val preds = result.predictions.get.cache()
    val Some((mae, rmse)) = FlightModel.evaluate(preds)
    val meanDelay = prepared.agg(avg(col("ArrDelay"))).head().getDouble(0)
    val constantMae = preds
      .agg(avg(abs(lit(meanDelay) - col("ArrDelay")))).head().getDouble(0)
    assert(mae.isFinite && rmse.isFinite && rmse >= mae)
    assert(mae < constantMae, s"DT mae=$mae not better than constant mae=$constantMae")
    preds.unpersist()
    result.release()
  }

  test("feature importances map back to named slots") {
    val pipelineModel = FlightPipeline().fit(prepared)
    val transformed = pipelineModel.transform(prepared)
    val result = FlightModel.trainModel(prepared, pipelineModel)
    val imps = FlightModel.featureImportances(result.model.get, transformed)
    result.release()
    assert(imps.nonEmpty)
    assert(imps.map(_._2).sum <= 1.0 + 1e-9)
    // DepDelay is the generator's dominant signal; it must appear
    assert(imps.map(_._1).exists(_.contains("DepDelay")))
  }

  test("cross-validation returns a model from the reference grid (M10)") {
    val pm = FlightPipeline().fit(prepared)
    val small = pm.transform(prepared.sample(0.1, 42L))
    val cv = FlightModel.crossValidate(small)
    val best = cv.bestModel.asInstanceOf[
      org.apache.spark.ml.regression.DecisionTreeRegressionModel]
    assert(Set(5, 10, 15).contains(best.getMaxDepth))
    assert(Set(20, 40, 60).contains(best.getMaxBins))
    assert(cv.avgMetrics.length == 9) // 3×3 grid
  }

  test("linear baseline trains with the notebook hyperparameters (M8)") {
    val pm = FlightPipeline().fit(prepared)
    val lr = FlightModel.linearBaseline(pm.transform(prepared.sample(0.2, 42L)))
    assert(lr.getMaxIter == 3 && lr.getRegParam == 0.01 && lr.getElasticNetParam == 0.5)
    assert(!lr.coefficients.toArray.forall(_ == 0.0))
  }

  test("empty input short-circuits; unfittable input falls back to constant") {
    val empty = prepared.filter(lit(false))
    val pm = FlightPipeline().fit(prepared)
    val r = FlightModel.trainModel(empty, pm)
    assert(r.predictions.isEmpty && r.model.isEmpty)
  }

  test("saved models round-trip: loaded pipeline+tree reproduce predictions exactly") {
    val pipelineModel = FlightPipeline().fit(prepared)
    val result = FlightModel.trainModel(prepared, pipelineModel)
    assert(result.model.isDefined)
    val dir = java.nio.file.Files.createTempDirectory("graft_model_rt").toString
    try {
      FlightModel.saveModels(dir, pipelineModel, result.model)
      val (loadedPm, loadedTree) = FlightModel.loadModels(spark, dir)
      assert(loadedTree.isDefined)
      // score the same fixture batch through both artifacts: predictions
      // must be bit-identical (same tree, same pipeline transforms)
      val batch = prepared.limit(200)
      val expect = result.model.get.transform(pipelineModel.transform(batch))
        .select("prediction").as[Double].collect().toSeq
      val actual = loadedTree.get.transform(loadedPm.transform(batch))
        .select("prediction").as[Double].collect().toSeq
      assert(expect.nonEmpty && actual == expect)
      // depth/bins survive the round-trip too
      assert(loadedTree.get.getMaxDepth == result.model.get.getMaxDepth)
    } finally {
      result.release()
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    }
  }

  private val categoricals = Features.totalCategoricalFeatures
  private val indexCols = categoricals.map(c => s"${c}_index")
  private val TieCol = "manufacturer"

  /** The reference's per-column layout (one indexer and one encoder per
    * categorical, 25 stages): the twin the 5-stage pipeline must match. */
  private def perColumnPipeline(): Pipeline = {
    val perCategorical = categoricals.flatMap { c =>
      Seq(new StringIndexer()
          .setInputCol(c).setOutputCol(s"${c}_index").setHandleInvalid("keep"),
        new OneHotEncoder()
          .setInputCols(Array(s"${c}_index")).setOutputCols(Array(s"${c}_ONEHOT")))
    }
    // the numeric assembler, scaler and final assembler are unchanged
    new Pipeline().setStages((perCategorical ++ FlightPipeline().getStages.drop(2)).toArray)
  }

  /** `prepared` plus a planted frequency tie (3 × "ZZB" ahead of 3 × "ZZA",
    * so only the alphabetical tie-break orders them) and a null category. */
  private lazy val twinFit: DataFrame = {
    val three = prepared.limit(3)
    Seq("ZZB", "ZZA").map(v => three.withColumn(TieCol, lit(v)))
      .reduce(_ union _)
      .union(three.limit(1).withColumn(TieCol, lit(null).cast("string")))
      .union(prepared).cache()
  }

  /** A scoring batch, tagged per row: generator rows, the tie rows, an
    * unseen category and a row whose every category is null. */
  private lazy val twinScore: DataFrame = {
    val one = prepared.na.drop(Features.importantNumericFeatures).limit(1)
    val allNull = categoricals.foldLeft(one)((df, c) =>
      df.withColumn(c, lit(null).cast(df.schema(c).dataType)))
    prepared.limit(300).withColumn("tag", lit("generator"))
      .union(twinFit.filter(col(TieCol).isin("ZZA", "ZZB")).withColumn("tag", lit("tie")))
      .union(one.withColumn(TieCol, lit("ZZC")).withColumn("tag", lit("unseen")))
      .union(allNull.withColumn("tag", lit("null")))
      .cache()
  }

  /** (5-stage, per-column) pipelines fitted on the same data. */
  private lazy val twins: (PipelineModel, PipelineModel) =
    (FlightPipeline().fit(twinFit), perColumnPipeline().fit(twinFit))

  /** Validation predictions and the tree `trainModel` fits through `pm`. */
  private def trainThrough(pm: PipelineModel): (Seq[Double], DecisionTreeRegressionModel) = {
    val r = FlightModel.trainModel(twinFit, pm)
    try (r.predictions.get.select("prediction").as[Double].collect().toSeq, r.model.get)
    finally r.release()
  }
  private lazy val fiveStageTrained = trainThrough(twins._1)

  private def bits(xs: Seq[Double]): Seq[Long] = xs.map(java.lang.Double.doubleToRawLongBits)

  private def predictions(pm: PipelineModel, tree: DecisionTreeRegressionModel): Seq[Long] =
    bits(tree.transform(pm.transform(twinScore)).select("prediction").as[Double].collect().toSeq)

  test("the 5-stage pipeline reproduces the per-column layout bit for bit") {
    val (five, perColumn) = twins
    assert(five.stages.length == 5 && perColumn.stages.length == 25)

    val labels = five.stages(0).asInstanceOf[StringIndexerModel].labelsArray.map(_.toSeq).toSeq
    val perColumnLabels = perColumn.stages.collect {
      case m: StringIndexerModel => m.labelsArray.head.toSeq
    }.toSeq
    assert(labels == perColumnLabels)
    // frequencyDesc, ties broken alphabetically: "ZZA" ranks first although
    // its rows come after the "ZZB" rows
    val tie = labels(categoricals.indexOf(TieCol))
    assert(tie.contains("ZZB") && tie.indexOf("ZZA") < tie.indexOf("ZZB"))

    def rows(pm: PipelineModel) = {
      val out = pm.transform(twinScore)
      (out.select((col("tag") +: indexCols.map(col)) :+ col("features"): _*).collect().toSeq
        .map(r => (r.getString(0),
          bits((1 to indexCols.size).map(r.getDouble)),
          bits(r.getAs[Vector](indexCols.size + 1).toArray.toSeq))),
        out.schema("features").metadata)
    }
    val (fiveRows, fiveMeta) = rows(five)
    val (perColumnRows, perColumnMeta) = rows(perColumn)
    assert(fiveRows.size > 300 && fiveRows == perColumnRows)
    assert(fiveMeta == perColumnMeta) // feature-importance slot names

    def indicesOf(tag: String) = fiveRows.collect {
      case (t, idx, _) if t == tag => idx.map(java.lang.Double.longBitsToDouble)
    }
    // keep: an unseen or null category maps to index numLabels
    val Seq(unseen) = indicesOf("unseen")
    assert(unseen(categoricals.indexOf(TieCol)) == tie.size)
    val Seq(nulls) = indicesOf("null")
    assert(nulls == labels.map(_.size.toDouble))

    // the tree trained through each layout predicts identically
    val perColumnTrained = trainThrough(perColumn)
    assert(fiveStageTrained._1.nonEmpty &&
      bits(fiveStageTrained._1) == bits(perColumnTrained._1))
    assert(predictions(five, fiveStageTrained._2) ==
      predictions(perColumn, perColumnTrained._2))
  }

  test("artifacts saved in the per-column layout still load and score identically") {
    val (five, perColumn) = twins
    val tree = fiveStageTrained._2
    val dir = Files.createTempDirectory("graft_model_compat").toString
    try {
      FlightModel.saveModels(s"$dir/per_column", perColumn, Some(tree))
      FlightModel.saveModels(s"$dir/five", five, Some(tree))
      val (loaded, loadedTree) = FlightModel.loadModels(spark, s"$dir/per_column")
      assert(loaded.stages.length == 25 && loadedTree.isDefined)
      assert(predictions(loaded, loadedTree.get) == predictions(five, tree))

      // ScoreApp on a raw holdout: both artifacts write the same CSV
      val holdout = FlightsGenerator.flights(spark, 500, seed = 8L)
      IO.writeSingleCsv(holdout, s"$dir/hold_csv", s"$dir/holdout.csv")
      val Seq(oldCsv, newCsv) = Seq("per_column", "five").map { m =>
        ScoreApp.run(spark, s"$dir/holdout.csv", s"$dir/$m", s"$dir/out_$m", None)
        Files.readAllBytes(Paths.get(s"$dir/out_$m/scored.csv"))
      }
      assert(new String(oldCsv, "UTF-8").linesIterator.size > 100)
      assert(java.util.Arrays.equals(oldCsv, newCsv))
    } finally org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
  }

  test("the pipeline fits as 5 stages and saves in at most 12 jobs") {
    val sc = spark.sparkContext
    def jobsIn[T](group: String)(body: => T): (T, Int) = {
      val id = s"$group-${System.nanoTime()}"
      sc.setJobGroup(id, group)
      try {
        val result = body
        ListenerBusDrain(sc)
        (result, sc.statusTracker.getJobIdsForGroup(id).length)
      } finally sc.clearJobGroup()
    }
    val (pm, fitJobs) = jobsIn("pipeline fit")(FlightPipeline().fit(prepared))
    assert(pm.stages.length == 5)
    val dir = Files.createTempDirectory("graft_model_jobs").toString
    try {
      val (_, saveJobs) = jobsIn("model save")(
        FlightModel.saveModels(dir, pm, Some(fiveStageTrained._2)))
      // one metadata write per stage, one data write per model stage, and
      // the tree (12 measured; the per-column twin ran 52): every
      // per-column stage added back costs 1-2 more
      assert(saveJobs > 0 && saveJobs <= 12, s"saveModels ran $saveJobs jobs")
      // one counting pass for all indexers plus the scaler's quantiles (4
      // measured); per-column indexers ran 3 jobs each
      assert(fitJobs > 0 && fitJobs <= 6, s"fit ran $fitJobs jobs")
    } finally org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
  }

  test("evaluate: MAE and RMSE from one aggregate, None on no rows") {
    val df = Seq((1.0, 3), (4.0, 0)).toDF("prediction", "ArrDelay")
    assert(FlightModel.evaluate(df) == Some((3.0, math.sqrt(10.0))))
    assert(FlightModel.evaluate(df.filter(lit(false))).isEmpty)
  }

  test("label thresholds: >=10 delayed, <=-10 early, else on time") {
    val df = Seq(-15.0, -10.0, -9.9, 0.0, 9.9, 10.0, 42.0).toDF("prediction")
      .withColumn("ArrDelay", col("prediction").cast("int"))
    val labeled = FlightModel.addLabels(df).orderBy("prediction")
      .select("predicted_label").as[String].collect().toSeq
    assert(labeled == Seq("early", "early", "on time", "on time", "on time",
      "delayed", "delayed"))
  }
}
