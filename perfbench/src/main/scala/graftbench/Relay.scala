package graftbench

/** relay: the paper's CDC relay (changefeed -> classify -> envelope ->
  * publish -> cursor upsert -> resume) in its two operating regimes on
  * one session with `cores - 1` task threads, so the live generator
  * keeps a core:
  *
  *  - backfill (RelayBackfill): draining a seeded backlog, where
  *    per-row costs dominate; it gives `rows_per_s`;
  *  - live (RelayLive): an open loop at a fixed rate, where per-batch
  *    fixed costs dominate; it gives `latency_p50_ms` / `latency_p99_ms`.
  *
  * A change that trades one regime for the other shows in one run. */
object Relay {
  def run(ctx: Ctx, out: Outcome): Unit = {
    val (spark, sessionS) = ctx.session(math.max(1, ctx.cores - 1))
    val progress = new ProgressLog(spark).install()
    val exec = new ExecMeter(spark)
    if (ctx.tracer.on) PerLayer.zeros(out)
    val back = RelayBackfill.phase(ctx, spark, progress, exec, out)
    val live = RelayLive.phase(ctx, spark, progress, exec, out)
    out.put("setup_s", sessionS + back.setupS + live.setupS, "s")
    out.put("rows_per_s", back.rowsPerS, "1/s")
    out.put("latency_p50_ms", Stats.quantile(live.latencyMs, 0.5), "ms")
    out.put("latency_p99_ms", Stats.quantile(live.latencyMs, 0.99), "ms")
    out.put("recall", (back.delivered + live.delivered).toDouble /
      math.max(back.expected + live.expected, 1L), "ratio")
    out.put("peak_rss_mb", Probes.peakRssMb(), "MB")
    if (ctx.tracer.on) {
      exec.report(out)
      out.put("bench.tracing_overhead_pct",
        (back.tracingOverheadPct + live.tracingOverheadPct) / 2, "%")
      ctx.tracer.dump(ctx.traceDir.resolve(s"relay-seed${ctx.seed}.jsonl"))
      spark.stop()
      RelayBackfill.singleCore(ctx, out)
    }
    out.put("bench.failed_ratio", out.failed.toDouble / out.attempted.max(1L), "ratio")
  }
}
