package graft.ml

import org.apache.spark.ml.Pipeline
import org.apache.spark.ml.feature.{OneHotEncoder, RobustScaler, StringIndexer, VectorAssembler}

import graft.operators.Features

/** M1-M6: the reference's feature pipeline
  * (`/root/reference/src/main/helper_methods.py:252-278`), parameter-exact:
  *
  *  - StringIndexer(handleInvalid=keep) over every categorical → `<c>_index`
  *  - OneHotEncoder over every `<c>_index` → `<c>_ONEHOT`
  *  - VectorAssembler(numeric, handleInvalid=skip) → `COMBINED_vec`
  *  - RobustScaler(withScaling=true, withCentering=false, 0.25/0.75)
  *    → `scaledFeatures`
  *  - VectorAssembler(ONEHOTs :+ scaledFeatures) → `features`
  *
  * The reference fits one indexer and one encoder per categorical (25
  * stages). A multi-column indexer orders each column's labels as a
  * single-column fit does (frequencyDesc, alphabetical ties; null and
  * unseen → numLabels), so indices and vectors are identical, but it counts
  * every column in one pass, and saving the artifact takes 12 jobs, not 52.
  */
object FlightPipeline {

  def apply(
      categoricalFeatures: Seq[String] = Features.totalCategoricalFeatures,
      numericFeatures: Seq[String] = Features.importantNumericFeatures): Pipeline = {
    val indexCols = categoricalFeatures.map(c => s"${c}_index").toArray
    val oneHotCols = categoricalFeatures.map(c => s"${c}_ONEHOT").toArray

    val indexer = new StringIndexer()
      .setInputCols(categoricalFeatures.toArray).setOutputCols(indexCols)
      .setHandleInvalid("keep")
    val encoder = new OneHotEncoder().setInputCols(indexCols).setOutputCols(oneHotCols)

    val numericAssembler = new VectorAssembler()
      .setInputCols(numericFeatures.toArray)
      .setOutputCol("COMBINED_vec")
      .setHandleInvalid("skip")

    val scaler = new RobustScaler()
      .setInputCol("COMBINED_vec").setOutputCol("scaledFeatures")
      .setWithScaling(true).setWithCentering(false)
      .setLower(0.25).setUpper(0.75)

    val finalAssembler = new VectorAssembler()
      .setInputCols(oneHotCols :+ "scaledFeatures")
      .setOutputCol("features")

    new Pipeline().setStages(Array(indexer, encoder, numericAssembler, scaler, finalAssembler))
  }
}
