package graftbench

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.SparkSession

/** Everything a workload needs from the harness. */
final class Ctx(val workload: String, val seed: Long, val seconds: Int,
    val tracer: Tracer, val work: Path, val traceDir: Path) {
  val cores: Int = math.max(1, Runtime.getRuntime.availableProcessors())
  private var n = 0
  /** A fresh, empty directory under this run's scratch space. */
  def freshDir(name: String): Path = synchronized {
    n += 1
    val d = work.resolve(f"$n%03d-$name")
    Probes.deleteTree(d)
    Files.createDirectories(d)
  }

  /** Start a local Spark session on `threads` task threads and return
    * it with its start-up time. State lives in RocksDB, as in a
    * production relay, and all scratch space stays under `work`. */
  def session(threads: Int): (SparkSession, Double) = {
    val t0 = System.nanoTime()
    val spark = SparkSession.builder()
      .master(s"local[$threads]")
      .appName(s"perfbench-$workload")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.shuffle.partitions", threads.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    // the first job pays JIT and scheduler start-up; count it as session start
    spark.range(1000).selectExpr("sum(id)").collect()
    (spark, Stats.sSince(t0))
  }
}

/** Runs one workload and prints the result as the last line of stdout:
  * `{"correct", "attempted", "failed", "metrics"}`. With `--trace 0` the
  * metrics are the end-to-end set, with `--trace 1` the per-layer set.
  * Exits 1 when a correctness check fails, 2 on bad arguments. */
object Main {
  val Workloads = Seq("relay", "curate_batch")

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opts.getOrElse("workload", "")
    if (!Workloads.contains(workload) || args.length % 2 != 0) {
      System.err.println(s"usage: --workload ${Workloads.mkString("|")} --seed N " +
        "--seconds S --trace 0|1 --work DIR --trace-dir DIR")
      sys.exit(2)
    }
    val trace = opts.getOrElse("trace", "0") == "1"
    val work = Paths.get(opts.getOrElse("work", "perfbench-work")).toAbsolutePath
    Probes.deleteTree(work)
    Files.createDirectories(work)
    System.setProperty("java.io.tmpdir", work.toString)
    val ctx = new Ctx(workload, opts.getOrElse("seed", "1").toLong,
      math.max(1, opts.getOrElse("seconds", "10").toInt), new Tracer(trace), work,
      Paths.get(opts.getOrElse("trace-dir", work.resolve("traces").toString)).toAbsolutePath)
    val out = new Outcome
    try {
      workload match {
        case "relay" => Relay.run(ctx, out)
        case "curate_batch" => Curate.run(ctx, out)
      }
    } catch {
      case e: Throwable =>
        e.printStackTrace()
        out.check(s"workload threw ${e.getClass.getSimpleName}: ${e.getMessage}", 1L, 1L)
    } finally {
      SparkSession.getActiveSession.foreach(_.stop())
      Probes.deleteTree(work)
    }
    out.failures.foreach(f => System.err.println(s"[perfbench] CHECK FAILED: $f"))
    val wanted = if (trace) PerLayer.names else EndToEnd.names
    val missing = wanted.filterNot(out.metrics.contains)
    if (out.correct && missing.nonEmpty)
      out.check(s"metrics not produced: ${missing.mkString(",")}", 1L, 1L)
    val metrics = wanted.flatMap(n => out.metrics.get(n).map(n -> _)).map { case (n, m) =>
      s"${Json.str(n)}: {\"value\": ${Json.num(m.value)}, \"unit\": ${Json.str(m.unit)}}"
    }
    println(s"""{"correct": ${out.correct}, "attempted": ${out.attempted}, """ +
      s""""failed": ${out.failed}, "metrics": {${metrics.mkString(", ")}}}""")
    System.out.flush()
    sys.exit(if (out.correct) 0 else 1)
  }
}

/** Names of the end-to-end metrics, printed by every workload with
  * `--trace 0`. What each one measures on each workload is in the README. */
object EndToEnd {
  val names = Seq("setup_s", "peak_rss_mb", "rows_per_s", "latency_p50_ms",
    "latency_p99_ms", "recall")
}

/** The per-layer metrics with their units, printed by every workload
  * with `--trace 1`. A layer a workload does not use reads 0. */
object PerLayer {
  val units: Seq[(String, String)] = Seq(
    "sources.list_segments_ms_p50" -> "ms", "sources.segments_retained" -> "count",
    "sources.read_rows_per_s" -> "1/s", "sources.scan_s" -> "s",
    "sources.sink_segments" -> "count", "sources.sink_bytes" -> "B",
    "sources.published_bytes_per_row" -> "B",
    "cdc.trigger_ms_p50" -> "ms", "cdc.latest_offset_ms_p50" -> "ms",
    "cdc.planning_ms_p50" -> "ms", "cdc.commit_ms_p50" -> "ms",
    "cdc.add_batch_ms_p50" -> "ms", "cdc.busy_share" -> "ratio",
    "cdc.batches" -> "count", "cdc.rows_per_batch_p50" -> "count",
    "cdc.publish_calls" -> "count", "cdc.duplicate_ratio" -> "ratio",
    "cdc.cursor_set_ms_p50" -> "ms", "cdc.cursor_commits" -> "count",
    "cdc.cursor_lag_p50_ms" -> "ms", "cdc.resume_s" -> "s",
    "cdc.dead_lettered" -> "count", "cdc.backlog_rows_end" -> "count",
    "cdc.drain_rows_per_s" -> "1/s", "cdc.drain_batch_ms_p50" -> "ms",
    "cdc.drain_rows_per_s_1core" -> "1/s",
    "streaming.materialize_rows_per_s" -> "1/s", "streaming.batch_ms_p50" -> "ms",
    "streaming.update_ms_total" -> "ms", "streaming.commit_ms_total" -> "ms",
    "streaming.state_rows" -> "count", "streaming.state_bytes" -> "B",
    "streaming.sst_bytes" -> "B",
    "operators.gopher_rules_s" -> "s", "operators.train_pipeline_s" -> "s",
    "operators.candidate_pairs_s" -> "s", "operators.canonical_s" -> "s",
    "operators.minhash_lsh_s" -> "s", "operators.curation_funnel_s" -> "s",
    "operators.ivf_pq_s" -> "s", "operators.bruteforce_s" -> "s",
    "operators.candidate_pairs" -> "count", "operators.candidate_yield" -> "ratio",
    "operators.neardup_recall" -> "ratio", "operators.ann_recall_at_5" -> "ratio",
    "exec.shuffle_write_bytes" -> "B", "exec.shuffle_read_bytes" -> "B",
    "exec.spill_bytes" -> "B", "exec.input_read_bytes" -> "B", "exec.gc_ms" -> "ms",
    "bench.generator_late_ms_p99" -> "ms", "bench.latency_samples" -> "count",
    "bench.failed_ratio" -> "ratio", "bench.tracing_overhead_pct" -> "%")
  val names: Seq[String] = units.map(_._1)

  /** Every per-layer metric at 0, for the layers a workload leaves idle. */
  def zeros(out: Outcome): Unit = units.foreach { case (n, u) => out.put(n, 0.0, u) }

}

/** Accumulates engine-level work (task shuffle, spill and input bytes
  * from graft.ShuffleMetrics, JVM GC time) over the measured
  * repetitions only, and reports it per repetition as exec.*. */
final class ExecMeter(spark: SparkSession) {
  private val listener = graft.ShuffleMetrics.install(spark)
  private val sums = Array.fill(5)(0L)
  private var reps = 0

  def apply[T](body: => T): T = {
    val a = listener.snapshot(spark.sparkContext)
    val g = Probes.gcMs()
    try body
    finally {
      val d = listener.snapshot(spark.sparkContext) - a
      Seq(d.shuffleWriteB, d.shuffleReadB, d.spillB, d.inputReadB, Probes.gcMs() - g)
        .zipWithIndex.foreach { case (v, i) => sums(i) += v }
      reps += 1
    }
  }

  def report(out: Outcome): Unit = {
    val r = math.max(reps, 1).toDouble
    Seq("exec.shuffle_write_bytes", "exec.shuffle_read_bytes", "exec.spill_bytes",
      "exec.input_read_bytes", "exec.gc_ms").zipWithIndex.foreach { case (n, i) =>
      out.put(n, sums(i) / r, if (n.endsWith("_ms")) "ms" else "B")
    }
  }
}
