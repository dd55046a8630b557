package perfbench

import java.nio.file.{Files, Paths, StandardCopyOption}
import java.security.MessageDigest

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.SparkEntry
import graft.apps.TrainApp
import graft.ml.{FlightModel, FlightPipeline}
import graft.operators.{Cleaning, Prepare}
import graft.sources.{FlightsGenerator, IO, Schemas}

/** Operations attempted and failed in a run: every app pass, every gate run
  * and every output check is one operation, and a crash or a wrong result
  * counts as a failure — nothing drops out of the totals. */
final class Ops {
  var attempted, failed = 0L
  val failures = mutable.ArrayBuffer[String]()

  def fail(what: String): Unit = {
    failed += 1
    if (failures.size < 50) failures += what
  }

  /** Runs `body` as one operation; throwing makes it a failed one. */
  def run(what: String)(body: => Unit): Unit = {
    attempted += 1
    try body
    catch { case e: Throwable =>
      fail(s"$what: ${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}")
    }
  }

  def check(what: String, ok: Boolean, detail: => String): Unit = {
    attempted += 1
    if (!ok) fail(s"$what: $detail")
  }
}

/** One benchmark workload. `prepare` opens or makes the inputs the passes
  * read (the timed, repeated set-up); `pass` runs the program once to
  * complete output; `verify` checks that output; `layers` repeats the pass
  * as separate, forced calls into each module, each inside its own span. */
trait Workload {
  def inputRows: Long
  def sizes: Map[String, Any]
  def prepare(spark: SparkSession, ops: Ops): Unit
  def pass(spark: SparkSession, ops: Ops, trace: Option[(Tracer, Int)]): Unit
  def verify(spark: SparkSession, ops: Ops): Unit
  def layers(spark: SparkSession, tr: Tracer, pass: Int): Map[String, Double] = Map.empty
  def details: Map[String, Any] = Map.empty
}

private object BenchIo {
  def csvRows(file: String): Long = {
    val lines = Files.lines(Paths.get(file))
    try lines.count() - 1 finally lines.close()
  }

  /** Writes `df` as one headed CSV file with the reference's `NA` nulls. */
  def writeCsv(df: DataFrame, file: String): Unit = {
    val dir = file + ".parts"
    df.coalesce(1).write.mode("overwrite")
      .option("header", "true").option("nullValue", "NA").csv(dir)
    val part = Files.list(Paths.get(dir)).filter(p =>
      p.getFileName.toString.startsWith("part-")).findFirst().get()
    Files.move(part, Paths.get(file), StandardCopyOption.REPLACE_EXISTING)
  }

  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
}

/** `train`: the whole `TrainApp` lifecycle on a seeded flights CSV and a
  * plane-data CSV, both made through the program's generator, ending with
  * the durable model artifact (`--save-model`) that `ScoreApp` loads. */
final class TrainWorkload(work: String, seed: Long, rows: Long, tailPool: Int)
    extends Workload {
  private val flights = s"$work/flights.csv"
  private val plane = s"$work/plane-data.csv"
  private val out = s"$work/train-out"
  private val model = s"$work/model"
  private val maes = mutable.ArrayBuffer[Double]()

  def inputRows: Long = rows
  def sizes: Map[String, Any] = Map("flights_rows" -> rows, "tail_pool" -> tailPool)

  def prepare(spark: SparkSession, ops: Ops): Unit = ops.run("generate inputs") {
    BenchIo.writeCsv(FlightsGenerator.flights(spark, rows, seed = seed, tailPool = tailPool),
      flights)
    BenchIo.writeCsv(FlightsGenerator.planeData(spark, tailPool = tailPool,
      seed = seed + 1), plane)
  }

  def pass(spark: SparkSession, ops: Ops, trace: Option[(Tracer, Int)]): Unit = {
    def run(): Unit = TrainApp.run(spark, flights, out, countOnly = false,
      Some(plane), None, Some(model))
    ops.run("train pass")(trace match {
      case Some((tr, p)) => tr.span("apps.train", p)(run())
      case None => run()
    })
  }

  /** The parquet and single-file CSV sinks agree on row count, the model
    * artifact is complete, and the model beats the mean predictor (the
    * program's own no-model fallback) on MAE and RMSE. The reference's
    * published bounds (`MLQuality`) hold at its 500k-row protocol, not at
    * this input size. */
  def verify(spark: SparkSession, ops: Ops): Unit = ops.run("read train output") {
    val df = spark.read.parquet(s"$out/predictions.parquet")
    val y = col(FlightModel.TargetCol)
    val d = col("prediction") - y
    val r = df.agg(count(lit(1)), avg(abs(d)), sqrt(avg(d * d)), avg(y),
      stddev_pop(y)).head()
    val n = r.getLong(0)
    val (mae, rmse, sd) = (r.getDouble(1), r.getDouble(2), r.getDouble(4))
    val meanMae = df.agg(avg(abs(y - lit(r.getDouble(3))))).head().getDouble(0)
    maes += mae
    ops.check("predictions rows", n > 0, "no predictions")
    val csv = BenchIo.csvRows(s"$out/predictions.csv")
    ops.check("predictions csv rows", csv == n, s"csv has $csv rows, parquet $n")
    ops.check("predictions labels",
      Seq("predicted_label", "actual_label").forall(df.columns.contains),
      "label columns missing")
    ops.check("predictions mae", mae < meanMae, s"MAE $mae, mean predictor $meanMae")
    ops.check("predictions rmse", rmse < sd, s"RMSE $rmse, mean predictor $sd")
    ops.check("model artifact", Seq("pipeline", "tree").forall(x =>
      Files.isDirectory(Paths.get(model, x, "metadata"))), s"no model under $model")
  }

  /** TrainApp's steps (scan, prepare, fit, train), then ScoreApp's on the
    * saved model (load, transform, sinks, evaluation). */
  override def layers(spark: SparkSession, tr: Tracer, p: Int): Map[String, Double] =
    tr.span("layers.train", p) {
      val raw = tr.span("sources.csv_scan", p) {
        val df = IO.readCsv(spark, flights, Some(Schemas.flights))
        BenchIo.noop(df); df
      }
      val planeDf = IO.readCsv(spark, plane, Some(Schemas.planeData))
      val (prepared, kept) = tr.span("operators.prepare", p) {
        val df = Prepare.prepareData(Cleaning.dropForbidden(raw), planeDf).cache()
        (df, df.count())
      }
      val pm = tr.span("ml.pipeline_fit", p)(FlightPipeline().fit(prepared))
      tr.span("ml.tree_train", p)(FlightModel.trainModel(prepared, pm)).release()
      val (loaded, tree) = tr.span("ml.model_load", p)(FlightModel.loadModels(spark, model))
      val scored = FlightModel.addLabels(tree.get.transform(loaded.transform(prepared)))
      tr.span("ml.transform", p)(BenchIo.noop(scored))
      val lout = s"$work/layers-out"
      tr.span("sources.parquet_sink", p)(IO.writeParquet(scored, s"$lout/scored.parquet"))
      tr.span("sources.csv_sink", p)(IO.writeSingleCsv(scored,
        s"$lout/scored_csv", s"$lout/scored.csv"))
      tr.span("ml.eval", p)(FlightModel.evaluate(scored))
      prepared.unpersist()
      Map("operators.prepare_keep_ratio" -> kept.toDouble / rows)
    }

  override def details: Map[String, Any] = Map("mae" -> maes.lastOption.getOrElse(Double.NaN))
}

/** `gates`: heavy battery gates through `SparkEntry.queries` on a seeded
  * fixture. Each gate's output is fingerprinted (row count + an
  * order-independent hash); every run must reproduce the first run's
  * fingerprint, and the first run's rows are written out for the DuckDB
  * oracle check that follows the run. */
final class GatesWorkload(work: String, fixture: String, rows: Long,
    val gates: Seq[String]) extends Workload {
  private val reference = mutable.Map[String, (Long, String)]()
  private val lastRun = mutable.Map[String, Option[(Array[Row], DataFrame)]]()
  val planStats = mutable.Map[String, PlanStats]()
  val outRows = mutable.Map[String, Long]()
  val matchingRuns = mutable.Map[String, Int]().withDefaultValue(0)

  def inputRows: Long = rows
  def sizes: Map[String, Any] = Map("fixture" -> "generated from the seed",
    "gate_input_rows" -> rows, "gates" -> gates.size)

  def prepare(spark: SparkSession, ops: Ops): Unit = ops.run("open fixture") {
    Seq("lineitem", "supplier", "documents", "embeddings")
      .foreach(t => IO.table(spark, fixture, t).count())
  }

  def pass(spark: SparkSession, ops: Ops, trace: Option[(Tracer, Int)]): Unit = {
    def gate(g: String): (Array[Row], DataFrame) = trace match {
      case Some((tr, p)) => tr.span(s"operators.$g", p) {
        val df = SparkEntry.queries(g)(spark, fixture)
        planStats(g) = tr.span(s"plans.$g", p)(PlanStats.of(df.queryExecution.executedPlan))
        (df.collect(), df)
      }
      case None =>
        val df = SparkEntry.queries(g)(spark, fixture)
        (df.collect(), df)
    }
    def all(): Unit = gates.foreach { g =>
      lastRun(g) = None
      ops.run(s"gate $g")(lastRun(g) = Some(gate(g)))
    }
    trace match {
      case Some((tr, p)) => tr.span("apps.gates", p)(all())
      case None => all()
    }
  }

  def verify(spark: SparkSession, ops: Ops): Unit = gates.foreach { g =>
    lastRun.remove(g).flatten.foreach { case (out, df) =>
      val fp = (out.length.toLong, Gates.fingerprint(out))
      outRows(g) = fp._1
      if (!reference.contains(g))
        ops.run(s"gate $g output for the oracle check") {
          spark.createDataFrame(java.util.Arrays.asList(out: _*), df.schema)
            .coalesce(1).write.mode("overwrite").parquet(s"$work/oracle-check/$g")
        }
      val ref = reference.getOrElseUpdate(g, fp)
      ops.check(s"gate $g fingerprint", fp == ref,
        s"run gave $fp, first run gave $ref")
      if (fp == ref) matchingRuns(g) += 1
    }
  }

  override def details: Map[String, Any] = Map(
    "gate_rows" -> gates.map(g => g -> outRows.getOrElse(g, -1L)).toMap,
    "gate_fingerprints" -> reference.map { case (g, f) => g -> f._2 }.toMap,
    "gate_matching_runs" -> gates.map(g => g -> matchingRuns(g)).toMap)
}

object Gates {
  /** q_x_entity and q_x_fuzzy are left out: their plans are prefixes of
    * q_x_golden's (fuzzy pairs, then connected components, then golden
    * records), and a run cannot afford their cold-JVM time. */
  val Names: Seq[String] = Seq("q_x_pagerank", "q_x_golden", "q_x_dbscan",
    "q_x_pipeline4", "q_x_setjoin", "q_x_dup_clusters")

  /** Order-independent content hash: each row renders its fields in column
    * order, the renderings are sorted, and the sorted list is hashed. */
  def fingerprint(rows: Array[Row]): String = {
    def render(v: Any): String = v match {
      case null => "null"
      case s: scala.collection.Seq[_] => s.map(render).mkString("[", ",", "]")
      case r: Row => r.toSeq.map(render).mkString("{", ",", "}")
      case x => x.toString
    }
    val md = MessageDigest.getInstance("SHA-256")
    rows.map(r => r.toSeq.map(render).mkString("|")).sorted.foreach { s =>
      md.update(s.getBytes("UTF-8")); md.update('\n'.toByte)
    }
    md.digest().map("%02x".format(_)).mkString
  }
}
