package graftbench

import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.cdc.{ChangefeedLogQueue, ChangefeedPipeline}
import graft.sources.ChangefeedLog
import graft.streaming.{CdcApply, ChangeRow, Materialized}

/** The backfill phase of the relay workload: a closed-loop drain of a
  * seeded backlog (two tables, repeated keys, tombstones, ~1% malformed
  * payloads) with Trigger.AvailableNow and maxSegmentsPerTrigger,
  * published through the DSv2 sink into a second changefeed log, which
  * CdcApply then materializes on RocksDB state. Same sources and cdc
  * layers as the live phase, but per-row costs dominate: segment parse,
  * the malformed predicate, the envelope, sink writes and state-store
  * writes beside reads. */
object RelayBackfill {
  val Segments = 12
  val RowsPerSegment = 5000
  val KeysPerTable = 10000
  val SegmentsPerTrigger = 4
  val MeasuredReps = 3

  final case class Rep(genS: Double, drainS: Double, materializeS: Double, rows: Long,
      published: Long, distinct: Long, expected: Long, dlq: Long,
      drainBatches: Seq[Progress], viewBatches: Seq[Progress], cursorSetMs: Seq[Double],
      sinkSegments: Long, sinkBytes: Long, log: Path) {
    def workS: Double = drainS + materializeS
  }

  final case class Result(setupS: Double, rowsPerS: Double, delivered: Long, expected: Long,
      tracingOverheadPct: Double)

  /** Runs a warm-up repetition and three measured ones, each on a fresh
    * backlog, log, checkpoint and cursor; with tracing, two traced ones
    * after them. */
  def phase(ctx: Ctx, spark: SparkSession, progress: ProgressLog, exec: ExecMeter,
      out: Outcome): Result = {
    val untraced = new Tracer(false)
    val warm = rep(ctx, spark, progress, untraced, 0, out)
    val measured = (1 to MeasuredReps).map(i => exec(rep(ctx, spark, progress, untraced, i, out)))
    var overheadPct = 0.0
    if (ctx.tracer.on) {
      val traced = (101 to 102).map(i => rep(ctx, spark, progress, ctx.tracer, i, out))
      val last = traced.last
      RelayLayers.sourceScan(spark, out, ctx.tracer, last.log)
      out.put("sources.sink_segments", last.sinkSegments.toDouble, "count")
      out.put("sources.sink_bytes", last.sinkBytes.toDouble, "B")
      out.put("sources.published_bytes_per_row", last.sinkBytes.toDouble / last.published, "B")
      out.put("cdc.drain_rows_per_s", Stats.median(traced.map(r => r.rows / r.drainS)), "1/s")
      out.put("cdc.drain_batch_ms_p50", Stats.median(traced.flatMap(_.drainBatches)
        .map(RelayLayers.dur(_, "triggerExecution"))), "ms")
      out.put("cdc.dead_lettered", last.dlq.toDouble, "count")
      val vb = traced.flatMap(_.viewBatches)
      out.put("streaming.materialize_rows_per_s",
        Stats.median(traced.map(r => r.published / r.materializeS)), "1/s")
      out.put("streaming.batch_ms_p50",
        Stats.median(vb.map(RelayLayers.dur(_, "triggerExecution"))), "ms")
      out.put("streaming.update_ms_total", vb.map(_.stateUpdateMs).sum / traced.size.toDouble, "ms")
      out.put("streaming.commit_ms_total", vb.map(_.stateCommitMs).sum / traced.size.toDouble, "ms")
      val lastView = last.viewBatches.lastOption
      out.put("streaming.state_rows", lastView.map(_.stateRows.toDouble).getOrElse(0.0), "count")
      out.put("streaming.state_bytes", lastView.map(_.stateBytes.toDouble).getOrElse(0.0), "B")
      out.put("streaming.sst_bytes", lastView.map(_.sstBytes.toDouble).getOrElse(0.0), "B")
      val base = Stats.median(measured.map(_.workS))
      overheadPct = (Stats.median(traced.map(_.workS)) - base) / base * 100.0
    }
    Result(warm.workS + Stats.median((warm +: measured).map(_.genS)),
      Stats.median(measured.map(r => r.rows / r.workS)),
      measured.map(_.distinct).sum, measured.map(_.expected).sum, overheadPct)
  }

  /** cdc.drain_rows_per_s_1core: the same drain on a one-thread session,
    * the stream-processing baseline the scaling ratio is read against. */
  def singleCore(ctx: Ctx, out: Outcome): Unit = {
    val (one, _) = ctx.session(1)
    val progress = new ProgressLog(one).install()
    val off = new Tracer(false)
    val r = rep(ctx, one, progress, off, 200, out)
    out.put("cdc.drain_rows_per_s_1core", r.rows / r.drainS, "1/s")
    one.stop()
  }

  private def rep(ctx: Ctx, spark: SparkSession, progress: ProgressLog, t: Tracer,
      idx: Int, out: Outcome): Rep = {
    val dir = ctx.freshDir(s"backfill-$idx")
    val log = dir.resolve("log")
    val published = dir.resolve("published")
    val key = s"rep-$idx"
    val g0 = System.nanoTime()
    val backlog = Gen.backlog(ctx.seed, Segments, RowsPerSegment, KeysPerTable)
    backlog.segments.zipWithIndex.foreach { case (s, i) =>
      ChangefeedLog.writeSegmentAs(log.toString, s, f"b$i%05d")
    }
    val genS = Stats.sSince(g0)
    if (idx == 0) out.expect("generator is deterministic", Gen.digest(backlog.segments) ==
      Gen.digest(Gen.backlog(ctx.seed, Segments, RowsPerSegment, KeysPerTable).segments))

    // drain: backlog -> envelope/classify -> DSv2 sink, malformed -> DLQ
    val dlqName = s"dlq-${ctx.seed}-$idx"
    val store = new StampCursorStore(dir.resolve("cursor").toString)
    val d0 = System.nanoTime()
    val drainQuery = {
      val q = new ChangefeedPipeline(new ChangefeedLogQueue(published.toString), store,
        dir.resolve("checkpoint").toString, trigger = Some(Trigger.AvailableNow()),
        deadLetterQueue = Some(new StampQueue(dlqName)))
        .start(spark, spark.readStream.format("graft-changefeed")
          .option("path", log.toString)
          .option("maxSegmentsPerTrigger", SegmentsPerTrigger.toLong).load())
      q.awaitTermination()
      q
    }
    val drainS = Stats.sSince(d0)

    // materialize: published log -> CdcApply latest-wins view on RocksDB
    val view = new java.util.concurrent.ConcurrentHashMap[String, Materialized]()
    val m0 = System.nanoTime()
    val viewQuery = {
      import spark.implicits._
      val changes = spark.readStream.format("graft-changefeed")
        .option("path", published.toString)
        .option("maxSegmentsPerTrigger", SegmentsPerTrigger.toLong).load()
        .select(concat(col("tbl"), lit("/"), col("key")).as("key"), col("sort_us"),
          col("value"))
        .as[ChangeRow]
      val q = CdcApply.updates(changes)(spark).writeStream
        .outputMode("update")
        .option("checkpointLocation", dir.resolve("view-checkpoint").toString)
        .trigger(Trigger.AvailableNow())
        .foreachBatch { (ds: Dataset[Materialized], _: Long) =>
          ds.collect().foreach(m => view.put(m.key, m))
        }
        .start()
      q.awaitTermination()
      q
    }
    val materializeS = Stats.sSince(m0)
    RelayLayers.drain(spark)

    // correctness
    val outSegs = ChangefeedLog.listSegments(published.toString)
    val outRows = outSegs.flatMap(s => ChangefeedLog.readSegment(s.path))
    val good = backlog.good
    val goodSet = good.toSet
    out.check("published rows are exactly the backlog's well-formed change rows",
      outRows.size.toLong, outRows.count(r => !goodSet.contains(r)).toLong)
    val outSet = outRows.toSet
    out.check("every well-formed change row is published", good.size.toLong,
      good.count(r => !outSet.contains(r)).toLong)
    val latest = backlog.latest
    val outLatest = outRows.groupBy(r => (r.tbl.get, r.key.get))
      .map { case (k, rs) => k -> rs.maxBy(r => (r.sortUs, r.value)) }
    out.check("published log's latest-per-key equals the generator's", latest.size.toLong,
      latest.count { case (k, r) => !outLatest.get(k).contains(r) }.toLong +
        (outLatest.keySet -- latest.keySet).size)
    val dlq = StampQueue.buffer(dlqName).items.asScala.map(s => new String(s.data, "UTF-8")).toSeq
    StampQueue.drop(dlqName)
    out.check("malformed rows reach the dead-letter queue, and only they",
      backlog.malformed.size.toLong,
      (backlog.malformed.toSet -- dlq.toSet).size.toLong + dlq.count(v => !backlog.malformed.contains(v)))
    out.expect("final cursor is the max resolved timestamp",
      store.get().map(_.toLong).contains(backlog.maxResolved),
      s"${store.get()} vs ${backlog.maxResolved}")
    val expectedView = latest.map { case ((tbl, k), r) => s"$tbl/$k" -> r }
    out.check("CdcApply view equals the generator's latest-per-key", expectedView.size.toLong,
      expectedView.count { case (k, r) =>
        val m = view.get(k)
        // a re-delete of a deleted key emits nothing, so only the op is checked
        if (Gen.isTombstone(r.value)) m == null || m.op != "delete"
        else m == null || m.op != "upsert" || m.sort_us != r.sortUs || m.value != r.value
      }.toLong + view.keySet.asScala.count(k => !expectedView.contains(k)))

    val drainBatches = progress.of(drainQuery.id.toString).filter(_.inputRows > 0)
    val viewBatches = progress.of(viewQuery.id.toString).filter(_.inputRows > 0)
    if (t.on) {
      val drainSpan = t.record("cdc.drain", "cdc", key, d0, d0 + (drainS * 1e9).toLong)
      val triggers = RelayLayers.triggerSpans(t, drainBatches, key, drainSpan)
      store.sets.asScala.foreach { case (c, a, b) =>
        t.record("cdc.cursor_set", "cdc", s"$key-cursor-$c", a, b, RelayLayers.enclosing(triggers, a))
      }
      val viewSpan = t.record("streaming.materialize", "streaming", key, m0,
        m0 + (materializeS * 1e9).toLong)
      viewBatches.foreach { p =>
        t.record("streaming.batch", "streaming", s"$key-view-${p.batchId}", p.startNs,
          p.startNs + (RelayLayers.dur(p, "triggerExecution") * 1e6).toLong, viewSpan)
      }
    }
    System.err.println(f"[perfbench] backfill rep $idx: gen=$genS%.2fs drain=$drainS%.2fs " +
      f"(${drainBatches.size} batches, p50 ${Stats.median(drainBatches.map(RelayLayers.dur(_, "triggerExecution")))}%.0f ms) " +
      f"materialize=$materializeS%.2fs (${viewBatches.size} batches) " +
      drainBatches.headOption.map(_.durations.toString).getOrElse(""))
    Rep(genS, drainS, materializeS, backlog.rows, outRows.size.toLong,
      good.count(outSet.contains).toLong,
      good.size.toLong, dlq.size.toLong, drainBatches, viewBatches,
      store.sets.asScala.toSeq.map { case (_, a, b) => Stats.msSince(a, b) }, outSegs.size.toLong,
      outSegs.map(s => Files.size(s.path)).sum, log)
  }
}
