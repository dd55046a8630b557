package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import graft.apps.TrainApp

/** Minimal JSON rendering for the harness's result file. */
object Json {
  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => apply(f.toDouble)
    case b: Boolean => b.toString
    case n: Number => n.toString
    case m: scala.collection.Map[_, _] =>
      m.toSeq.sortBy(_._1.toString).map { case (k, x) => apply(k.toString) + ":" + apply(x) }
        .mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case x => apply(x.toString)
  }
}

/** Runs one workload: set-up repeated `--setups` times (each in a fresh
  * session from `TrainApp.session`), `--warmups` untimed passes, then a
  * closed loop of verified passes for `--seconds` (at least one). With
  * `--trace 1` every pass runs three times: untraced, traced through the
  * app entry point, and split into forced per-module calls. The result
  * file `<work>/harness.json` carries every sample, the medians, the
  * operation counts and the spans. */
object Harness {
  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    val work = opt("work")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val traced = opt("trace") == "1"
    val setups = opt("setups").toInt
    val warmups = opt("warmups").toInt
    val rows = opt("rows").toLong
    val planted = opt.get("plant").toSeq.flatMap(_.split(",")).filter(_.nonEmpty)
    val w: Workload = opt("workload") match {
      case "train" => new TrainWorkload(work, seed, rows, opt("tail-pool").toInt)
      case "gates" => new GatesWorkload(work, opt("fixture"), rows,
        Gates.Names ++ planted.filter(_ == "failing-gate").map(_ => "q_planted_failing_gate"))
      case other => sys.error(s"unknown workload $other")
    }

    if (opt("workload") == "gates")
      Files.write(Paths.get(work, "oracle_sql.json"), Json(Gates.Names.map(g =>
        g -> graft.SparkEntry.oracleSql(g)).toMap).getBytes("UTF-8"))

    val ops = new Ops
    val osBean = ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]

    var spark: SparkSession = null
    val setupS = (1 to setups).map { _ =>
      if (spark != null) spark.stop()
      val t0 = System.nanoTime()
      spark = TrainApp.session("perfbench")
      w.prepare(spark, ops)
      (System.nanoTime() - t0) / 1e9
    }
    val sc = spark.sparkContext
    val cores = sc.defaultParallelism

    val jobS, cpuS, heapMb = mutable.ArrayBuffer[Double]()
    // The retained heap is read after the timed part of the pass, from two
    // full collections half a second apart: the first lets Spark's
    // ContextCleaner see the pass's dead broadcasts and shuffles and drop
    // their blocks, the second frees what the cleaner released.
    def measured(body: => Unit): Unit = {
      val c0 = osBean.getProcessCpuTime
      val t0 = System.nanoTime()
      body
      jobS += (System.nanoTime() - t0) / 1e9
      cpuS += (osBean.getProcessCpuTime - c0) / 1e9
      System.gc()
      Thread.sleep(500)
      System.gc()
      heapMb += ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    }

    val tracer = if (traced) Some(new Tracer(sc)) else None
    var layers: Option[Map[String, Double]] = None
    val sentinel = mutable.ArrayBuffer(calibrate())
    def verified(body: => Unit): Unit = { body; w.verify(spark, ops); sentinel += calibrate() }
    var p = 0
    tracer match {
      case None =>
        (1 to warmups).foreach(_ => verified(w.pass(spark, ops, None)))
        val loopStart = System.nanoTime()
        while (p < 1 || (System.nanoTime() - loopStart) / 1e9 < seconds) {
          p += 1
          verified(measured(w.pass(spark, ops, None)))
        }
      case Some(tr) =>
        // a fixed schedule: a warm-up pass, then a traced pass between two
        // untraced ones (their mean is the overhead baseline, which cancels
        // the JVM's steady warming across passes), then one pass split into
        // per-module spans
        p = 1
        verified(w.pass(spark, ops, None))
        verified(measured(w.pass(spark, ops, None)))
        sc.addSparkListener(tr)
        tr.resetPeakCached()
        w.pass(spark, ops, Some((tr, p)))
        tr.drain()
        sc.removeSparkListener(tr)
        val peakCached = tr.peakCachedMb
        val leftover = sc.getRDDStorageInfo.map(r => r.memSize + r.diskSize).sum / 1048576.0
        verified(())
        verified(measured(w.pass(spark, ops, None)))
        sc.addSparkListener(tr)
        val extra = w.layers(spark, tr, p)
        tr.drain()
        sc.removeSparkListener(tr)
        val m = Layers.names.map(_ -> 0.0).toMap ++
          Layers.ofPass(tr, w, p, cores, jobS.sum / jobS.size, peakCached, leftover) ++ extra
        layers = Some(m + ("apps.trace_overhead_s" ->
          (m("apps.traced_job_s") - m("apps.untraced_job_s"))))
    }

    val jobMedian = median(jobS)
    val e2e = Map(
      "setup_s" -> median(setupS),
      "job_s" -> jobMedian,
      "rows_per_s" -> w.inputRows / jobMedian,
      "cpu_s" -> median(cpuS),
      "retained_heap_mb" -> median(heapMb))

    val rt = Runtime.getRuntime
    val result = Map(
      "workload" -> opt("workload"), "seed" -> seed, "passes" -> p,
      "attempted" -> ops.attempted, "failed" -> ops.failed,
      "failures" -> ops.failures,
      "setup_s" -> setupS, "job_s" -> jobS, "cpu_s" -> cpuS,
      "retained_heap_mb" -> heapMb, "sentinel_s" -> sentinel,
      "e2e" -> e2e, "layers" -> layers,
      "sizes" -> w.sizes, "details" -> w.details,
      "stamp" -> Map(
        "jvm" -> s"${sys.props("java.vm.name")} ${sys.props("java.runtime.version")}",
        "spark" -> spark.version, "master" -> sc.master, "cores" -> cores,
        "shuffle_partitions" -> spark.conf.get("spark.sql.shuffle.partitions"),
        "xmx_mb" -> rt.maxMemory / 1048576),
      "spans" -> tracer.toSeq.flatMap(tr => tr.spans.map(s => Map(
        "id" -> s.id, "name" -> s.name, "parent" -> s.parent, "pass" -> s.pass,
        "start_ms" -> s.startMs, "end_ms" -> s.endMs, "seconds" -> s.seconds,
        "self_s" -> tr.selfSeconds(s)))))
    spark.stop()
    Files.write(Paths.get(work, "harness.json"), Json(result).getBytes("UTF-8"))
  }

  def median(xs: Iterable[Double]): Double = {
    val s = xs.toArray.sorted
    if (s.isEmpty) Double.NaN
    else if (s.length % 2 == 1) s(s.length / 2)
    else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }

  /** Fixed single-thread CPU work, timed: a host-speed sentinel sampled
    * around every pass, so contended windows show next to the numbers. */
  def calibrate(): Double = {
    val t0 = System.nanoTime()
    var x = 0x9e3779b97f4a7c15L
    var i = 0
    while (i < 50000000) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; i += 1 }
    if (x == 42L) println("")
    (System.nanoTime() - t0) / 1e9
  }
}

/** Per-layer metrics of one traced pass, named as in BENCHMARK.json. */
object Layers {
  private val Exec = Seq("jobs", "stages", "tasks", "driver_only_s", "task_busy_s",
    "task_cpu_s", "gc_s", "task_wait_s", "core_busy_frac", "task_failures",
    "shuffle_write_bytes", "shuffle_read_bytes", "shuffle_records", "spill_bytes",
    "peak_task_mem_mb", "stage_reuse_ratio").map("exec." + _)
  private val Fixed = Seq("sources.csv_scan_s", "sources.parquet_sink_s",
    "sources.csv_sink_s", "sources.input_bytes", "sources.output_bytes",
    "operators.prepare_s", "operators.prepare_keep_ratio", "plans.wscg_fallbacks",
    "ml.pipeline_fit_s", "ml.tree_train_s", "ml.model_load_s", "ml.transform_s",
    "ml.eval_s", "storage.peak_cached_mb", "storage.leftover_cached_mb",
    "apps.traced_job_s", "apps.untraced_job_s") ++ Exec

  val names: Seq[String] = Fixed ++ Gates.Names.flatMap(g => Seq(
    s"operators.${g}_s", s"operators.${g}_rows", s"plans.${g}_plan_s",
    s"plans.${g}_exchanges", s"plans.${g}_scans", s"exec.${g}_jobs",
    s"exec.${g}_shuffle_bytes"))

  def ofPass(tr: Tracer, w: Workload, p: Int, cores: Int, untracedS: Double,
      peakCachedMb: Double, leftoverMb: Double): Map[String, Double] = {
    val inPass = tr.spans.filter(_.pass == p)
    val app = inPass.find(_.name.startsWith("apps.")).get
    val c = tr.subtree(app)
    val busy = c.taskBusyMs / 1000.0
    val base = Map(
      "exec.jobs" -> c.jobs.toDouble, "exec.stages" -> c.stagesRun.toDouble,
      "exec.tasks" -> c.tasks.toDouble, "exec.driver_only_s" -> tr.driverOnlySeconds(app),
      "exec.task_busy_s" -> busy, "exec.task_cpu_s" -> c.taskCpuNs / 1e9,
      "exec.gc_s" -> c.gcMs / 1000.0, "exec.task_wait_s" -> c.taskWaitMs / 1000.0,
      "exec.core_busy_frac" -> busy / (app.seconds * cores),
      "exec.task_failures" -> c.taskFailures.toDouble,
      "exec.shuffle_write_bytes" -> c.shuffleWriteBytes.toDouble,
      "exec.shuffle_read_bytes" -> c.shuffleReadBytes.toDouble,
      "exec.shuffle_records" -> c.shuffleRecords.toDouble,
      "exec.spill_bytes" -> c.spillBytes.toDouble,
      "exec.peak_task_mem_mb" -> c.peakTaskMem / 1048576.0,
      "exec.stage_reuse_ratio" ->
        (if (c.stages == 0) 0.0 else (c.stages - c.stagesRun).toDouble / c.stages),
      "sources.input_bytes" -> c.inputBytes.toDouble,
      "sources.output_bytes" -> c.outputBytes.toDouble,
      "storage.peak_cached_mb" -> peakCachedMb,
      "storage.leftover_cached_mb" -> leftoverMb,
      "apps.traced_job_s" -> app.seconds, "apps.untraced_job_s" -> untracedS)
    val spans = inPass.filterNot(s => s.name.startsWith("apps.") || s.name.startsWith("layers."))
      .map(s => (if (s.name.startsWith("plans.")) s.name + "_plan_s" else s.name + "_s") -> s.seconds)
    val gates = w match {
      case g: GatesWorkload =>
        val perGate = g.gates.filter(Gates.Names.contains).flatMap { n =>
          val st = g.planStats.get(n)
          val gc = inPass.find(_.name == s"operators.$n").map(tr.subtree).getOrElse(new Counts)
          Seq(s"operators.${n}_rows" -> g.outRows.getOrElse(n, 0L).toDouble,
            s"plans.${n}_exchanges" -> st.map(_.exchanges.toDouble).getOrElse(0.0),
            s"plans.${n}_scans" -> st.map(_.scans.toDouble).getOrElse(0.0),
            s"exec.${n}_jobs" -> gc.jobs.toDouble,
            s"exec.${n}_shuffle_bytes" -> gc.shuffleWriteBytes.toDouble)
        }
        perGate.toMap + ("plans.wscg_fallbacks" ->
          g.planStats.values.map(_.fallbacks.toDouble).sum)
      case _ => Map.empty[String, Double]
    }
    base ++ spans ++ gates
  }
}
