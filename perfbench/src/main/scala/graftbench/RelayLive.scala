package graftbench

import java.nio.file.{Files, Path, StandardCopyOption}
import java.util.concurrent.locks.LockSupport
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import org.apache.spark.GraftListenerShim
import graft.cdc.{ChangefeedPipeline, FileCursorStore}
import graft.sources.ChangefeedLog

/** Metrics shared by the two relay workloads, read off streaming
  * progress events and the log directories. */
object RelayLayers {
  def p50(xs: Seq[Double]): Double = Stats.median(xs)
  def dur(p: Progress, k: String): Double = p.durations.getOrElse(k, 0L).toDouble

  /** cdc.* timings of the relay query's micro-batches. */
  def cdc(out: Outcome, batches: Seq[Progress]): Unit = {
    out.put("cdc.trigger_ms_p50", p50(batches.map(dur(_, "triggerExecution"))), "ms")
    out.put("cdc.latest_offset_ms_p50", p50(batches.map(dur(_, "latestOffset"))), "ms")
    out.put("cdc.planning_ms_p50", p50(batches.map(dur(_, "queryPlanning"))), "ms")
    out.put("cdc.commit_ms_p50",
      p50(batches.map(p => dur(p, "walCommit") + dur(p, "commitOffsets"))), "ms")
    out.put("cdc.add_batch_ms_p50", p50(batches.map(dur(_, "addBatch"))), "ms")
    out.put("cdc.batches", batches.size.toDouble, "count")
    out.put("cdc.rows_per_batch_p50", p50(batches.map(_.inputRows.toDouble)), "count")
  }

  /** Trigger spans with their phases laid out in execution order
    * (offsets, WAL, planning, batch, commit); returns trigger span ids
    * with their intervals so publishes and cursor sets can be parented. */
  def triggerSpans(t: Tracer, batches: Seq[Progress], key: String,
      parent: Long = 0L): Seq[(Long, Long, Long)] =
    batches.map { p =>
      val end = p.startNs + (dur(p, "triggerExecution") * 1e6).toLong
      val id = t.record("cdc.trigger", "cdc", s"$key-batch-${p.batchId}", p.startNs, end, parent)
      var at = p.startNs
      Seq("latestOffset", "walCommit", "getBatch", "queryPlanning", "addBatch",
        "commitOffsets").foreach { phase =>
        val d = (dur(p, phase) * 1e6).toLong
        if (d > 0) t.record(s"cdc.$phase", "cdc", s"$key-batch-${p.batchId}", at, at + d, id)
        at += d
      }
      (id, p.startNs, end)
    }

  def enclosing(triggers: Seq[(Long, Long, Long)], ns: Long): Long =
    triggers.find { case (_, a, b) => ns >= a && ns <= b }.map(_._1).getOrElse(0L)

  /** sources.read_rows_per_s (one thread, readSegment over every
    * segment) and sources.scan_s (a batch full count through the DSv2
    * source) over a log directory. */
  def sourceScan(spark: SparkSession, out: Outcome, t: Tracer, log: Path): Unit = {
    val segs = ChangefeedLog.listSegments(log.toString)
    val t0 = System.nanoTime()
    val rows = t.span("sources.read_segments", "sources", "scan") {
      segs.map(s => ChangefeedLog.readSegment(s.path).size.toLong).sum
    }
    out.put("sources.read_rows_per_s", rows / Stats.sSince(t0), "1/s")
    val t1 = System.nanoTime()
    val n = t.span("sources.batch_count", "sources", "scan") {
      spark.read.format("graft-changefeed").option("path", log.toString).load().count()
    }
    out.put("sources.scan_s", Stats.sSince(t1), "s")
    out.expect("batch scan counts every logged row", n == rows, s"$n vs $rows")
  }

  def drain(spark: SparkSession): Unit = GraftListenerShim.drainListenerBus(spark.sparkContext)
}

/** The live phase of the relay workload: an open loop. Pre-rendered
  * segments (two tables, one resolved row each) are moved into a
  * changefeed log every 100 ms, at a fixed row rate far below the drain
  * capacity. The log already retains a history behind the stored
  * cursor, so each micro-batch pays the full per-batch fixed cost:
  * offset listing over retained segments, planning, foreachBatch
  * dispatch and the cursor commit. `streaming` and `operators` idle. */
object RelayLive {
  val RowsPerSecond = 10000
  val SegmentMs = 100
  val HistorySegments = 400
  val HistoryRows = 250
  val WarmupSeconds = 1

  final case class Rep(genS: Double, resumeS: Double, latencyMs: Seq[Double],
      cursorLagMs: Seq[Double], lateMs: Seq[Double], listMs: Seq[Double],
      publishes: Long, distinct: Long, expected: Long, busyMs: Double, windowMs: Double,
      backlogEnd: Long, batches: Seq[Progress], cursorSetMs: Seq[Double], log: Path)

  final case class Result(setupS: Double, latencyMs: Seq[Double], delivered: Long,
      expected: Long, tracingOverheadPct: Double)

  /** Runs a short warm-up repetition and two measured ones of
    * `seconds / 2` each; with tracing, one traced one after them. */
  def phase(ctx: Ctx, spark: SparkSession, progress: ProgressLog, exec: ExecMeter,
      out: Outcome): Result = {
    val perSeg = RowsPerSecond * SegmentMs / 1000
    val liveS = math.max(2, (ctx.seconds + 1) / 2)
    val untraced = new Tracer(false)
    val warm = rep(ctx, spark, progress, untraced, 0, WarmupSeconds, perSeg, out)
    val measured = (1 to 2).map(i =>
      exec(rep(ctx, spark, progress, untraced, i, liveS, perSeg, out)))
    val latency = measured.flatMap(_.latencyMs)
    System.err.println(f"[perfbench] live: ${latency.size} latency samples over " +
      f"${measured.map(_.batches.size).sum} micro-batches, p50 ${Stats.median(latency)}%.1f ms; " +
      f"generator late p99 ${Stats.quantile(measured.flatMap(_.lateMs), 0.99)}%.2f ms")
    var overheadPct = 0.0
    if (ctx.tracer.on) {
      val traced = Seq(rep(ctx, spark, progress, ctx.tracer, 3, liveS, perSeg, out))
      RelayLayers.cdc(out, traced.flatMap(_.batches))
      out.put("sources.list_segments_ms_p50", Stats.median(traced.flatMap(_.listMs)), "ms")
      out.put("sources.segments_retained",
        ChangefeedLog.listSegments(traced.last.log.toString).size.toDouble, "count")
      out.put("cdc.busy_share", traced.map(_.busyMs).sum / traced.map(_.windowMs).sum, "ratio")
      out.put("cdc.publish_calls", traced.map(_.publishes).sum.toDouble, "count")
      out.put("cdc.duplicate_ratio",
        traced.map(_.publishes).sum.toDouble / traced.map(_.distinct).sum.max(1L), "ratio")
      out.put("cdc.cursor_set_ms_p50", Stats.median(traced.flatMap(_.cursorSetMs)), "ms")
      out.put("cdc.cursor_commits", traced.map(_.cursorSetMs.size).sum.toDouble, "count")
      out.put("cdc.cursor_lag_p50_ms", Stats.median(traced.flatMap(_.cursorLagMs)), "ms")
      out.put("cdc.resume_s", Stats.median(traced.map(_.resumeS)), "s")
      out.put("cdc.backlog_rows_end", traced.map(_.backlogEnd).max.toDouble, "count")
      out.put("bench.generator_late_ms_p99", Stats.quantile(traced.flatMap(_.lateMs), 0.99), "ms")
      out.put("bench.latency_samples", latency.size.toDouble, "count")
      val base = Stats.median(latency)
      overheadPct = (Stats.median(traced.flatMap(_.latencyMs)) - base) / base * 100.0
    }
    Result(Stats.median((warm +: measured).map(r => r.genS + r.resumeS)), latency,
      measured.map(_.distinct).sum, measured.map(_.expected).sum, overheadPct)
  }

  private def sleepUntil(ns: Long): Unit = {
    var now = System.nanoTime()
    while (now < ns) {
      LockSupport.parkNanos(ns - now)
      now = System.nanoTime()
    }
  }

  private def rep(ctx: Ctx, spark: SparkSession, progress: ProgressLog, t: Tracer,
      idx: Int, seconds: Int, perSeg: Int, out: Outcome): Rep = {
    val dir = ctx.freshDir(s"live-$idx")
    val log = dir.resolve("log")
    val staging = dir.resolve("staging")
    val nLive = seconds * 1000 / SegmentMs + 1
    // set-up: history behind the stored cursor, live segments pre-rendered
    val g0 = System.nanoTime()
    val feed = Gen.liveFeed(ctx.seed, HistorySegments, HistoryRows, nLive, perSeg)
    feed.history.zipWithIndex.foreach { case (s, i) =>
      ChangefeedLog.writeSegmentAs(log.toString, s, f"h$i%05d")
    }
    val staged = feed.live.zipWithIndex.map { case (s, i) =>
      ChangefeedLog.writeSegmentAs(staging.toString, s, f"l$i%05d")
    }
    new FileCursorStore(dir.resolve("cursor").toString).set(feed.historyCursor.toString)
    val genS = Stats.sSince(g0)
    if (idx == 0) out.expect("generator is deterministic",
      Gen.digest(feed.history ++ feed.live) ==
        Gen.digest({ val f = Gen.liveFeed(ctx.seed, HistorySegments, HistoryRows, nLive, perSeg)
          f.history ++ f.live }))

    val qname = s"live-${ctx.seed}-$idx"
    val buf = StampQueue.buffer(qname)
    val store = new StampCursorStore(dir.resolve("cursor").toString)
    def move(j: Int): Unit =
      Files.move(staged(j), log.resolve(staged(j).getFileName), StandardCopyOption.ATOMIC_MOVE)
    // resume: the first live segment is waiting when the relay starts
    move(0)
    val q0 = System.nanoTime()
    val query = new ChangefeedPipeline(new StampQueue(qname), store,
      dir.resolve("checkpoint").toString).startFromLog(spark, log.toString)
    val firstRows = feed.live.head.size - 1
    while (buf.count.get < firstRows && query.isActive && Stats.sSince(q0) < 60)
      LockSupport.parkNanos(200000L)
    val resumeS = (buf.items.asScala.map(_.nanos).minOption.getOrElse(System.nanoTime()) - q0) / 1e9

    // open loop: segments arrive as a seeded Poisson process (mean gap
    // SegmentMs), whatever the relay does; a fixed period would phase-lock
    // with the micro-batch cadence and make the latency bimodal
    val t0 = System.nanoTime() + 20000000L
    val gaps = new java.util.Random(ctx.seed * 7919L + idx)
    val due = new Array[Long](nLive)
    due(0) = q0
    var at = t0
    (1 until nLive).foreach { j =>
      due(j) = at
      at += (-math.log(1.0 - gaps.nextDouble()) * SegmentMs * 1e6).toLong
    }
    val late = Array.fill(nLive - 1)(0.0)
    val listMs = scala.collection.mutable.ArrayBuffer.empty[Double]
    (1 until nLive).foreach { j =>
      sleepUntil(due(j))
      val m0 = System.nanoTime()
      move(j)
      val m1 = System.nanoTime()
      late(j - 1) = Stats.msSince(due(j), m0)
      t.record("bench.move_segment", "bench", s"seg-$j", m0, m1)
      if (t.on) {
        val l0 = System.nanoTime()
        ChangefeedLog.listSegments(log.toString)
        val l1 = System.nanoTime()
        t.record("sources.list_segments", "sources", s"seg-$j", l0, l1)
        listMs += Stats.msSince(l0, l1)
      }
    }
    val tEnd = System.nanoTime()
    val expectedRows = feed.live.map(_.size - 1).sum.toLong
    val backlogEnd = math.max(0L, expectedRows - buf.count.get)
    // the cursor is committed after the batch's publishes: wait for both
    def cursorAt: Long = store.get().map(_.toLong).getOrElse(0L)
    while ((buf.count.get < expectedRows || cursorAt < feed.maxResolved) && query.isActive &&
      Stats.sSince(tEnd) < 60) LockSupport.parkNanos(1000000L)
    query.stop()
    RelayLayers.drain(spark)

    // correctness: byte-exact envelope for every live change row, nothing
    // from behind the cursor, final cursor = max resolved timestamp
    val expected = new java.util.HashMap[String, (String, Int)]()
    feed.live.zipWithIndex.foreach { case (s, j) =>
      s.filter(_.tbl.isDefined).foreach(r => expected.put(r.key.get, (Gen.envelope(r), j)))
    }
    val firstAt = new java.util.HashMap[String, java.lang.Long]()
    var wrong = 0L
    val stamps = buf.items.asScala.toSeq
    stamps.foreach { s =>
      val msg = new String(s.data, "UTF-8")
      val k0 = msg.indexOf("\"key\":\"") + 7
      val key = if (k0 < 7) "" else msg.substring(k0, msg.indexOf('"', k0))
      val exp = expected.get(key)
      if (exp == null || exp._1 != msg) wrong += 1
      else {
        val prev = firstAt.get(key)
        if (prev == null || s.nanos < prev) firstAt.put(key, s.nanos)
      }
    }
    out.check("published envelopes are byte-exact and from the live feed", stamps.size.toLong, wrong)
    out.check("every live change row is published", expectedRows, expectedRows - firstAt.size)
    val finalCursor = store.get().map(_.toLong)
    out.expect("final cursor is the max resolved timestamp",
      finalCursor.contains(feed.maxResolved), s"$finalCursor vs ${feed.maxResolved}")
    StampQueue.drop(qname)

    val latency = firstAt.asScala.toSeq.flatMap { case (k, ns) =>
      val j = expected.get(k)._2
      if (j == 0) None else Some(Stats.msSince(due(j), ns))
    }
    val sets = store.sets.asScala.toSeq.sortBy(_._2)
    val resolvedAt = feed.live.map(_.last.sortUs)
    val cursorLag = (1 until nLive).flatMap { j =>
      sets.find(_._1 >= resolvedAt(j)).map(s => Stats.msSince(due(j), s._3))
    }
    val batches = progress.of(query.id.toString).filter(_.inputRows > 0)

    val window = batches.filter(b => b.startNs >= t0 && b.startNs < tEnd)
    if (t.on) {
      val triggers = RelayLayers.triggerSpans(t, batches, qname)
      stamps.groupBy(s => RelayLayers.enclosing(triggers, s.nanos)).foreach { case (parent, ss) =>
        t.record("cdc.publish", "cdc", s"$qname-publish", ss.map(_.nanos).min,
          ss.map(_.nanos).max, parent)
      }
      sets.foreach { case (c, a, b) =>
        t.record("cdc.cursor_set", "cdc", s"$qname-cursor-$c", a, b, RelayLayers.enclosing(triggers, a))
      }
    }
    System.err.println(f"[perfbench] live rep $idx: gen=$genS%.2fs resume=$resumeS%.2fs " +
      f"window=${Stats.msSince(t0, tEnd) / 1000}%.1fs batches=${batches.size} " +
      f"latency p50=${Stats.median(latency)}%.1fms p99=${Stats.quantile(latency, 0.99)}%.1fms")
    Rep(genS, resumeS, latency, cursorLag, late.toSeq, listMs.toSeq, stamps.size.toLong,
      firstAt.size.toLong, expectedRows, window.map(RelayLayers.dur(_, "triggerExecution")).sum,
      Stats.msSince(t0, tEnd), backlogEnd, batches,
      sets.map { case (_, a, b) => Stats.msSince(a, b) }, log)
  }
}
