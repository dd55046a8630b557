package graft

import org.apache.spark.sql.SparkSession

/** Per-round benchmark main (driver contract): runs every declared query on
  * `SPARK_GRAFT_SF_DIR`, prints ONE JSON line with per-query seconds.
  * A query that fails in any pass is listed under `failed` (with
  * `n_failed`) instead of in the totals, and the run exits non-zero.
  *
  * Each query is forced through the `noop` sink — a plain `count()` would
  * let Catalyst prune away projections and expression work, timing a
  * different (smaller) plan than the one users run. One untimed warm-up of
  * the smallest query absorbs first-job costs (codegen compiler, shuffle
  * service init) so the per-query numbers measure the plans, not JVM
  * startup. */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      // activate the graft extensions (SQL function registration + the
      // TopKWindowRewrite optimizer rule): grouped top-k windows over
      // (score DESC [, tie]) become bounded-heap aggregates — k rows per
      // group per partition reach the exchange instead of every row
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      // ObjectHashAggregate falls back to SORT-based aggregation past 128
      // in-memory keys per task — that re-sorts the full input and costs
      // 2.4x at the 10M recall-panel rung. The typed aggregates this
      // engine leans on (TopKAgg k-heaps, KMV k-sets) have BOUNDED
      // buffers, so thousands of keys per task are a few MB; raise the
      // threshold so the heap path stays hash-based
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "4096")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // stages whose generated method exceeds the JVM's 8 KB JIT
      // bytecode cap must FALL BACK (non-WSCG) instead of running
      // interpreted forever; Spark's default guard (65536) sits far
      // above the real HotSpot limit (DontCompileHugeMethods)
      .config("spark.sql.codegen.hugeMethodLimit", "8000")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    def runOne(name: String): Double = {
      val t0 = System.nanoTime()
      try SparkEntry.queries(name)(spark, sfDir)
        .write.format("noop").mode("overwrite").save()
      catch { case e: Throwable =>
        System.err.println(s"[bench] $name failed: ${e.getMessage}")
        return -1.0
      }
      (System.nanoTime() - t0) / 1e9
    }

    // contention sentinel: a FIXED single-thread CPU probe (pure JVM
    // long-mix loop, no Spark, no IO) timed before the first rep and
    // after every rep. Its nominal wall is a property of the HOST, not
    // the engine — on a quiet machine every sample is flat; in this
    // VM's documented degraded windows it inflates with the same factor
    // the queries do. Committed per-rep, it lets the driver/judge
    // NORMALIZE cross-round totals instead of guessing which round ran
    // contended (rounds 10 and 11 both lacked a clean window and their
    // totals were incomparable until a same-session re-measure).
    def calibrate(): Double = {
      val t0 = System.nanoTime()
      var x = 0x9e3779b97f4a7c15L
      var i = 0
      while (i < 300000000) { // ~0.5 s nominal, deterministic work
        x ^= x << 13; x ^= x >>> 7; x ^= x << 17
        i += 1
      }
      if (x == 42L) println("") // defeat dead-code elimination
      (System.nanoTime() - t0) / 1e9
    }

    // warm-up (untimed): one cheap query per fixture family, so first-touch
    // costs (codegen compiler, JIT of interpreted HOF paths, parquet footer
    // reads) don't land on whichever query sorts first alphabetically
    Seq("q_s_scan_count", "q_x_tokens", "q_a9_group_means").foreach(runOne)
    calibrate() // JIT the probe loop itself before the first timed sample
    // N FULL passes (SPARK_GRAFT_REPS, default 3), per-query MIN as the
    // headline number: this host shows multi-minute degraded windows
    // where the JVM runs 10-100× slow; back-to-back repeats land inside
    // the same window, so each query's next sample comes a whole pass
    // later. At REPS >= 3 the line also carries per-query MEDIANS, the
    // noise-robust number to compare across rounds (a single-shot
    // BENCH_r*.json cannot distinguish a regression from a noise window).
    // optional args: query-name subset (dev loop); driver runs with none
    val reps = math.max(1, sys.env.getOrElse("SPARK_GRAFT_REPS", "3").toInt)
    val names =
      if (args.nonEmpty) args.toSeq.sorted
      else SparkEntry.queries.keys.toSeq.sorted
    val calib = scala.collection.mutable.ArrayBuffer(calibrate())
    val passes = (1 to reps).map { _ =>
      val pass = names.map(n => n -> runOne(n)).toMap
      calib += calibrate()
      pass
    }
    val summary = summarize(names, passes)
    def samples(n: String): Seq[Double] = passes.map(_(n))
    val results = summary.clean.map(n => n -> samples(n).min)
    // per-REP totals: the sum of each full pass, in run order. A contended
    // driver window shows up as a rep spread (r9: 1.49× median/min) —
    // publishing the three pass totals lets a reader separate environment
    // noise from a real regression from the committed artifact alone.
    val repsJson = summary.repTotals.map(v => f"$v%.3f").mkString("[", ",", "]")
    // the sentinel samples bracket the reps: calib[0] before rep 1,
    // calib[i] right after rep i — reps+1 samples total
    val calibJson = calib.map(v => f"$v%.3f").mkString("[", ",", "]")
    // FULL per-query artifact: the SAME [min,median] pair format the
    // compact line uses, over EVERY query (no byte budget) — the round-12
    // driver comparison covered only the ~57 slowest because the compact
    // line is capped at ~1900 bytes and the old full line used a
    // different (min-only + separate medians) layout. One format, two
    // sizes: a consumer that parses the compact line parses this file.
    def r3v(v: Double): String = f"$v%.3f"
    def jsonNames(ns: Seq[String]): String =
      ns.map("\"" + _ + "\"").mkString("[", ",", "]")
    val allPairs = results.sortBy(-_._2).map { case (k, v) =>
      "\"" + k + "\":[" + r3v(v) + "," + r3v(median(samples(k))) + "]"
    }.mkString(",")
    val line = s"""{"metric":"total","value":${r3v(summary.total)},"unit":"sec","reps":$reps,"rep_totals":$repsJson,"calib_sec":$calibJson,"total_median":${r3v(summary.totalMedian)},"n_queries":${names.size},"n_failed":${summary.failed.size},"failed":${jsonNames(summary.failed)},"q_format":"[min,median]","sf":"$sfDir","queries":{$allPairs}}"""
    println(line)
    // the stdout line gets [info]-decorated under sbt, which defeats a
    // machine parse — also write the bare JSON to a file (SPARK_GRAFT_OUT
    // overrides the default repo-root location). The default lands in
    // the repo root and IS committed each round, so the full per-query
    // map travels with the round artifacts.
    val outFile = sys.env.getOrElse("SPARK_GRAFT_OUT", "BENCH_LAST.json")
    try java.nio.file.Files.write(java.nio.file.Paths.get(outFile),
      (line + "\n").getBytes("UTF-8"))
    catch { case e: Throwable =>
      System.err.println(s"[bench] could not write $outFile: ${e.getMessage}")
    }
    spark.stop()
    // The driver's per-round artifact keeps only the LAST 2000 chars of
    // stdout and tries to parse a JSON line from them — the full line
    // above (~15 KB at 270+ queries) never fits, so every BENCH_r*.json
    // through round 7 carried `parsed: null` plus a mid-JSON tail blob.
    // Emit a COMPACT line (bounded < ~1900 chars) as the very last stdout,
    // after spark.stop() so no executor log write can interleave: totals,
    // medians pointer, and the slowest queries that fit the budget. Full
    // per-query detail lives in BENCH_LAST.json (which the judge reads).
    def r3(v: Double): String = f"$v%.3f"
    val slowest = results.sortBy(-_._2)
    // per-query entries are [MIN, MEDIAN] pairs: in a contended driver
    // window (r10: 3.64x rep-total spread) a per-query min over 3 reps
    // is not a trustworthy cross-round comparator on its own — the
    // median is the noise-robust number, and carrying BOTH in the
    // committed artifact lets a reader separate window noise (min
    // stable, median inflated) from a real regression (both moved)
    // for the slowest queries without re-running anything
    // failing names are listed while they fit half the budget; n_failed
    // is always exact and BENCH_LAST.json carries the full list
    val shownFailed = summary.failed.scanLeft(0)(_ + _.length + 3).tail
      .zip(summary.failed).takeWhile(_._1 <= 900).map(_._2)
    val head = s"""{"metric":"total","value":${r3(summary.total)},"unit":"sec","reps":$reps,"rep_totals":$repsJson,"calib_sec":$calibJson,"total_median":${r3(summary.totalMedian)},"n_queries":${names.size},"n_failed":${summary.failed.size},"failed":${jsonNames(shownFailed)},"q_format":"[min,median]","full":"$outFile","sf":"$sfDir","queries":{"""
    val budget = 1900 - head.length - 2
    val sb = new StringBuilder
    slowest.foreach { case (k, v) =>
      val entry = (if (sb.nonEmpty) "," else "") + "\"" + k + "\":[" +
        r3(v) + "," + r3(median(samples(k))) + "]"
      if (sb.length + entry.length <= budget) sb.append(entry)
    }
    val compact = head + sb.toString + "}}"
    System.out.println()
    System.out.println(compact)
    System.out.flush()
    // …and the same compact line as a stable SMALL file next to the full
    // artifact, so the driver/judge never depend on a stdout parse at all
    // (sbt's own `[success] Total time` banner prints after the last
    // program line, which defeated the tail parse through round 8)
    val summaryFile = sys.env.getOrElse("SPARK_GRAFT_SUMMARY", "BENCH_SUMMARY.json")
    try java.nio.file.Files.write(java.nio.file.Paths.get(summaryFile),
      (compact + "\n").getBytes("UTF-8"))
    catch { case e: Throwable =>
      System.err.println(s"[bench] could not write $summaryFile: ${e.getMessage}")
    }
    if (summary.failed.nonEmpty) {
      System.err.println(s"[bench] ${summary.failed.size} queries failed: " +
        summary.failed.mkString(", "))
      sys.exit(1)
    }
  }

  /** Totals over the queries that ran clean in every pass, and the names
    * of those that failed in any pass. A failure is never folded into a
    * total — that would make a crashing query read as a faster bench — it
    * is listed by name and fails the run. */
  final case class Summary(clean: Seq[String], failed: Seq[String],
      total: Double, totalMedian: Double, repTotals: Seq[Double])

  /** `passes(i)(name)` is the query's seconds in pass i, negative when it
    * failed; the total is the sum of per-query minimums, `totalMedian` the
    * sum of per-query medians, and each rep total sums one pass. */
  def summarize(names: Seq[String], passes: Seq[Map[String, Double]]): Summary = {
    val (clean, failed) = names.partition(n => passes.forall(_(n) >= 0))
    def samples(n: String) = passes.map(_(n))
    Summary(clean, failed,
      total = clean.map(samples(_).min).sum,
      totalMedian = clean.map(n => median(samples(n))).sum,
      repTotals = passes.map(p => clean.map(p).sum))
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2.0
  }
}
