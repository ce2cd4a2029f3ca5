package graft.cdc

import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._
import graft.SparkSuite
import graft.sources.ChangefeedLog
import graft.sources.ChangefeedLog.Record
import org.apache.spark.GraftListenerShim
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageSubmitted}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** Case class mirroring the events schema for MemoryStream input. */
case class Ev(event_id: Long, ts: java.sql.Timestamp, user_id: Long,
    event_type: String, value: Double, props: String)

class ChangefeedPipelineSpec extends SparkSuite {
  import spark.implicits._

  private def ev(id: Long, us: Long): Ev =
    Ev(id, new java.sql.Timestamp(us / 1000), id % 7, "click", 1.25, s"""{"k": $id}""")

  private def ckpt(): String =
    Files.createTempDirectory("graft-ckpt").toString

  test("pipeline publishes envelopes and commits the resolved cursor") {
    val qname = "t-publish"
    InMemoryQueue.clear(qname)
    val store = new FileCursorStore(
      Files.createTempDirectory("graft-cur").resolve("cursor").toString)
    val pipeline = new ChangefeedPipeline(new InMemoryQueue(qname), store, ckpt())

    val in = MemoryStream[Ev](1, spark, None)
    val hourUs = 3600000000L
    in.addData(ev(1, hourUs + 1), ev(2, hourUs + 2), ev(3, 2 * hourUs + 1))
    val q = pipeline.start(spark, Changefeed.changefeedFrameFrom(in.toDF()))
    q.processAllAvailable(); q.stop()

    val msgs = InMemoryQueue.messages(qname)
    assert(msgs.size === 3)
    // exact envelope shape from the reference README / model.rs
    val m1 = msgs.find(_.contains("\"key\":\"[1]\"")).get
    assert(m1.startsWith("""{"table":"events","key":"[1]","value":{"after": {"event_id": 1"""))
    assert(m1.contains(""""value_cents": 125"""))
    assert(pipeline.messagesSent.value === 3L)
    // resolved cursor = end of the max event hour (3h boundary)
    assert(store.get() === Some((3 * hourUs).toString))
  }

  test("restart resumes after the stored cursor (skips already-published rows)") {
    val qname = "t-resume"
    InMemoryQueue.clear(qname)
    val store = new InMemoryCursorStore("t-resume")
    val hourUs = 3600000000L
    store.set((2 * hourUs).toString) // everything in hours 1-2 already done

    val pipeline = new ChangefeedPipeline(new InMemoryQueue(qname), store, ckpt())
    val in = MemoryStream[Ev](2, spark, None)
    in.addData(ev(1, hourUs + 1000), ev(2, 2 * hourUs + 5000), ev(3, 2 * hourUs + 7000))
    val q = pipeline.start(spark, Changefeed.changefeedFrameFrom(in.toDF()))
    q.processAllAvailable(); q.stop()

    val msgs = InMemoryQueue.messages(qname)
    assert(msgs.size === 2) // event 1 (hour 1) skipped
    assert(!msgs.exists(_.contains("\"key\":\"[1]\"")))
  }

  test("a cursor behind the GC floor is dropped and the feed restarts from scratch") {
    val qname = "t-gc"
    InMemoryQueue.clear(qname)
    val store = new InMemoryCursorStore("t-gc")
    store.set("5") // ancient cursor
    val pipeline = new ChangefeedPipeline(new InMemoryQueue(qname), store, ckpt(),
      gcFloorUs = Some(1000000L))

    val in = MemoryStream[Ev](3, spark, None)
    in.addData(ev(1, 3600000000L + 1))
    intercept[InvalidCursorException] {
      pipeline.start(spark, Changefeed.changefeedFrameFrom(in.toDF()))
    }
    val q = pipeline.startWithRetry(spark, Changefeed.changefeedFrameFrom(in.toDF()))
    q.processAllAvailable(); q.stop()
    assert(InMemoryQueue.messages(qname).size === 1)
  }

  test("file-based changefeed stream drives the pipeline end-to-end") {
    val qname = "t-filestream"
    InMemoryQueue.clear(qname)
    val store = new InMemoryCursorStore("t-filestream")
    val pipeline = new ChangefeedPipeline(new InMemoryQueue(qname), store, ckpt())
    // the file stream source wants a directory of files
    val dir = Files.createTempDirectory("graft-evdir")
    Files.copy(java.nio.file.Paths.get("/root/testdata/sf0.001/events.parquet"),
      dir.resolve("events.parquet"))
    val frame = Changefeed.streamFromEventsDir(spark, dir.toString)
    val q = pipeline.start(spark, frame)
    q.processAllAvailable(); q.stop()
    assert(InMemoryQueue.messages(qname).size === 1000) // one per event
    assert(store.get().isDefined) // resolved cursor committed
    assert(pipeline.messagesSent.value === 1000L)
  }

  test("--cursor-frequency drives the resolved-row cadence seen by the DSv2 stream") {
    import org.apache.spark.sql.functions.col
    val cfg = GraftConfig.fromArgs(
      Seq("--table", "events", "--cursor-frequency", "30m"), Map.empty)
    val f = cfg.cursorFrequencyUs
    assert(f === 1800000000L)
    val minUs = 60000000L
    // events at 0:05, 0:20, 0:40, 1:10 → 30-min bucket ends 0:30, 1:00, 1:30
    val events = Seq(ev(1, 5 * minUs), ev(2, 20 * minUs),
      ev(3, 40 * minUs), ev(4, 70 * minUs)).toDF()
    val logDir = Files.createTempDirectory("graft-cadence").toString
    Changefeed.changefeedFrameFrom(events, f)
      .write.format("graft-changefeed").option("path", logDir)
      .mode("append").save()
    val q = spark.readStream.format("graft-changefeed")
      .option("path", logDir).load()
      .writeStream.format("memory").queryName("cadence")
      .option("checkpointLocation", ckpt()).start()
    q.processAllAvailable(); q.stop()
    val resolved = spark.table("cadence")
      .where(col("tbl").isNull && col("key").isNull)
      .select("sort_us").collect().map(_.getLong(0)).toSet
    assert(resolved === Set(1L, 2L, 3L).map(_ * f),
      s"resolved cadence off the 30m grid: $resolved")
    // the hourly default would have emitted only 1:00 and 2:00
    assert(resolved.exists(_ % 3600000000L != 0))
  }

  test("file queue writes idempotent per-batch JSONL; cursor store survives restart") {
    val dir = Files.createTempDirectory("graft-fq").toString
    val fq = new FileQueue(dir)
    val payloads = Seq("{\"a\":1}", "{\"a\":2}", "{\"a\":3}").toDF("payload")
    ChangefeedPipeline.publishToFileQueue(payloads, 7L, fq)
    ChangefeedPipeline.publishToFileQueue(payloads, 7L, fq) // re-run same batch
    import scala.jdk.CollectionConverters._
    val lines = Files.list(java.nio.file.Paths.get(dir)).iterator().asScala
      .flatMap(p => Files.readAllLines(p).asScala).toSeq
    assert(lines.sorted === Seq("{\"a\":1}", "{\"a\":2}", "{\"a\":3}"))

    val curPath = Files.createTempDirectory("graft-cur2").resolve("c").toString
    val s1 = new FileCursorStore(curPath)
    assert(s1.get() === None)
    s1.set("12345")
    val s2 = new FileCursorStore(curPath) // "restart"
    assert(s2.get() === Some("12345"))
  }

  test("malformed payloads route to the DLQ; good rows publish; cursor advances") {
    val qname = "t-dlq"; val dname = "t-dlq-dead"
    InMemoryQueue.clear(qname); InMemoryQueue.clear(dname)
    val store = new InMemoryCursorStore("t-dlq")
    val pipeline = new ChangefeedPipeline(new InMemoryQueue(qname), store, ckpt(),
      deadLetterQueue = Some(new InMemoryQueue(dname)))
    val in = MemoryStream[RawFeedRow](91, spark, None)
    val good = (1 to 4).map(i => RawFeedRow(i, Some("events"), Some(s"[$i]"),
      s"""{"after": {"event_id": $i}}"""))
    val bad = Seq(
      RawFeedRow(5, Some("events"), Some("[5]"), """{"afte"""), // truncated
      RawFeedRow(6, Some("events"), Some("[6]"), """{"nope": 1}"""), // no after
      // valid NON-OBJECT JSON: parses, but has no keys — three-valued
      // logic would make `malformed` NULL and silently drop these;
      // they must dead-letter like any other poison
      RawFeedRow(9, Some("events"), Some("[9]"), "42"), // bare scalar
      RawFeedRow(10, Some("events"), Some("[10]"), "[1, 2]")) // bare array
    // a tombstone (DELETE) carries `"after": null` — legitimate, must
    // publish, NOT dead-letter
    val tombstone = RawFeedRow(8, Some("events"), Some("[8]"),
      """{"after": null}""")
    val resolved = RawFeedRow(7, None, None,
      """{"resolved": "7.0000000000"}""")
    in.addData(good ++ bad :+ tombstone :+ resolved: _*)
    val q = pipeline.start(spark, in.toDF())
    q.processAllAvailable(); q.stop()
    // exactly the parseable change rows (incl. the tombstone) published
    val msgs = InMemoryQueue.messages(qname)
    assert(msgs.size === 5)
    assert(msgs.count(_.contains(""""value":{"after": null}""")) === 1)
    // poison rows preserved RAW in the dead letter queue
    assert(InMemoryQueue.messages(dname).toSet === bad.map(_.value).toSet)
    assert(pipeline.messagesSent.value === 5L)
    assert(pipeline.messagesDeadLettered.value === 4L)
    // the resolved cursor still committed — poison never stalls the feed
    assert(store.get() === Some("7"))
  }

  test("without a DLQ the relay forwards bytes verbatim (reference behavior)") {
    val qname = "t-nodlq"
    InMemoryQueue.clear(qname)
    val pipeline = new ChangefeedPipeline(new InMemoryQueue(qname),
      new InMemoryCursorStore("t-nodlq"), ckpt())
    val in = MemoryStream[RawFeedRow](92, spark, None)
    in.addData(RawFeedRow(1, Some("events"), Some("[1]"), """{"nope": 1}"""))
    val q = pipeline.start(spark, in.toDF())
    q.processAllAvailable(); q.stop()
    // the reference publishes whatever the feed carried (model.rs:74-91)
    assert(InMemoryQueue.messages(qname).size === 1)
    assert(pipeline.messagesDeadLettered.value === 0L)
  }

  private val hourUs = 3600000000L

  /** A small two-table log of three segments; each holds change rows of
    * both tables (one a tombstone), one malformed row and a closing
    * resolved row. Returns (dir, good change rows, malformed values,
    * max resolved µs). */
  private def smallLog(): (String, Seq[Record], Seq[String], Long) = {
    val dir = Files.createTempDirectory("graft-small-log").toString
    val segs = (1 to 3).map { s =>
      val base = s * hourUs
      val good = Seq(
        Record(base + 1, Some("events"), Some(s"[$s]"), s"""{"after": {"id": $s}}"""),
        Record(base + 2, Some("orders"), Some(s"[${100 + s}]"), s"""{"after": {"id": ${100 + s}}}"""),
        Record(base + 3, Some("events"), Some(s"[$s]"), """{"after": null}"""))
      val bad = Record(base + 4, Some(if (s % 2 == 0) "orders" else "events"),
        Some(s"[9$s]"), s"""{"afte$s""")
      val resolved = Record(base + 5, None, None, s"""{"resolved": "${base + 5}.0000000000"}""")
      ChangefeedLog.writeSegmentAs(dir, good :+ bad :+ resolved, s"s$s")
      (good, bad.value)
    }
    (dir, segs.flatMap(_._1), segs.map(_._2), 3 * hourUs + 5)
  }

  /** The log as a stream of one segment per micro-batch. */
  private def logStream(dir: String): DataFrame =
    spark.readStream.format("graft-changefeed").option("path", dir)
      .option("maxSegmentsPerTrigger", 1L).load()

  private def drain(pipeline: ChangefeedPipeline, dir: String,
      ignoreCursor: Boolean = false): StreamingQuery = {
    val q = pipeline.start(spark, logStream(dir), ignoreCursor)
    q.awaitTermination()
    q
  }

  private def published(dir: String): Seq[Record] =
    ChangefeedLog.listSegments(dir).flatMap(s => ChangefeedLog.readSegment(s.path))

  /** Counts job and stage starts per streaming query id. */
  private class JobCounter extends SparkListener {
    private val jobs = new ConcurrentLinkedQueue[String]()
    private val stages = new ConcurrentLinkedQueue[String]()
    private def queryId(p: java.util.Properties) =
      Option(p).flatMap(p => Option(p.getProperty("sql.streaming.queryId")))
    override def onJobStart(e: SparkListenerJobStart): Unit =
      queryId(e.properties).foreach(jobs.add)
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      queryId(e.properties).foreach(stages.add)
    def jobsOf(queryId: String): Int = jobs.asScala.count(_ == queryId)
    def stagesOf(queryId: String): Int = stages.asScala.count(_ == queryId)
  }

  test("every non-empty relay micro-batch runs exactly one Spark job") {
    val (log, _, _, _) = smallLog()
    val run = java.util.UUID.randomUUID.toString.take(8)
    def pipeline(name: String, queue: MessageQueue, dlq: Option[MessageQueue] = None,
        router: Option[String => MessageQueue] = None) =
      name -> new ChangefeedPipeline(queue, new InMemoryCursorStore(s"jobs-$run-$name"),
        ckpt(), trigger = Some(Trigger.AvailableNow()), deadLetterQueue = dlq,
        tableRouter = router)
    val configs = Seq(
      pipeline("plain", new InMemoryQueue(s"jobs-$run-plain")),
      pipeline("dlq+log",
        new ChangefeedLogQueue(Files.createTempDirectory("graft-jobs-out").toString),
        dlq = Some(new InMemoryQueue(s"jobs-$run-dlq"))),
      pipeline("router", new InMemoryQueue(s"jobs-$run-unused"),
        router = Some((t: String) => new InMemoryQueue(s"jobs-$run-$t"))))
    val counter = new JobCounter
    spark.sparkContext.addSparkListener(counter)
    try configs.foreach { case (name, p) =>
      val q = drain(p, log)
      GraftListenerShim.drainListenerBus(spark.sparkContext)
      val batches = q.recentProgress.count(_.numInputRows > 0)
      assert(batches === 3, name)
      assert(counter.jobsOf(q.id.toString) === batches,
        s"$name: ${counter.jobsOf(q.id.toString)} jobs for $batches micro-batches")
      // one stage per job: no shuffle inside the relay pass
      assert(counter.stagesOf(q.id.toString) === batches, name)
    } finally spark.sparkContext.removeSparkListener(counter)
  }

  test("DLQ + changefeed log queue: poison to the DLQ, good rows to the log, idempotent rerun") {
    val (log, good, bad, maxResolved) = smallLog()
    val dname = "t-dlq-log-dead"
    InMemoryQueue.clear(dname)
    val out = Files.createTempDirectory("graft-dlq-log-out").toString
    val checkpoint = ckpt()
    def pipeline() = new ChangefeedPipeline(new ChangefeedLogQueue(out),
      new InMemoryCursorStore("t-dlq-log"), checkpoint,
      trigger = Some(Trigger.AvailableNow()),
      deadLetterQueue = Some(new InMemoryQueue(dname)))
    val first = pipeline()
    drain(first, log)
    // poison reaches the DLQ raw, and only poison
    assert(InMemoryQueue.messages(dname).sorted === bad.sorted)
    // the published log holds exactly the well-formed change rows
    val key = (r: Record) => (r.sortUs, r.tbl, r.key, r.value)
    assert(published(out).sortBy(key) === good.sortBy(key))
    assert(first.messagesSent.value === good.size.toLong)
    assert(first.messagesDeadLettered.value === bad.size.toLong)
    assert(new InMemoryCursorStore("t-dlq-log").get() === Some(maxResolved.toString))

    // a batch whose commit never landed re-runs under the same id: its
    // e<b>p<n> segments are replaced, not duplicated
    val before = ChangefeedLog.listSegments(out).map(_.path.getFileName.toString)
    assert(before.forall(_.matches("""seg-\d+-\d+-e[0-2]p\d+\.log""")), before)
    val commits = Paths.get(checkpoint, "commits")
    Files.delete(commits.resolve("2"))
    Files.deleteIfExists(commits.resolve(".2.crc"))
    val rerun = pipeline()
    drain(rerun, log, ignoreCursor = true)
    assert(rerun.messagesSent.value === good.count(_.sortUs > 3 * hourUs).toLong)
    assert(ChangefeedLog.listSegments(out).map(_.path.getFileName.toString) === before)
    assert(published(out).sortBy(key) === good.sortBy(key))
  }

  test("table router + DLQ: poison of every table to the DLQ, rows to their table's queue") {
    val run = java.util.UUID.randomUUID.toString.take(8)
    val dname = s"t-route-dead-$run"
    val store = new InMemoryCursorStore(s"t-route-$run")
    val pipeline = new ChangefeedPipeline(new InMemoryQueue(s"t-route-$run-unused"),
      store, ckpt(), deadLetterQueue = Some(new InMemoryQueue(dname)),
      tableRouter = Some((t: String) => new InMemoryQueue(s"t-route-$run-$t")))
    val in = MemoryStream[RawFeedRow](93, spark, Some(3))
    def row(us: Long, tbl: String, value: String) =
      RawFeedRow(us, Some(tbl), Some(s"[$us]"), value)
    val good = Seq(row(1, "events", """{"after": {"id": 1}}"""),
      row(2, "orders", """{"after": {"id": 2}}"""),
      row(4, "orders", """{"after": null}"""),
      row(6, "events", """{"after": {"id": 6}}"""))
    val bad = Seq(row(3, "events", """{"afte"""), row(5, "orders", "42"),
      row(8, "orders", """{"nope": 1}"""))
    def resolved(us: Long) = RawFeedRow(us, None, None, s"""{"resolved": "$us.0000000000"}""")
    in.addData(good ++ bad :+ resolved(9) :+ resolved(7): _*)
    val q = pipeline.start(spark, in.toDF())
    q.processAllAvailable(); q.stop()
    assert(InMemoryQueue.messages(dname).sorted === bad.map(_.value).sorted)
    for (t <- Seq("events", "orders")) {
      val msgs = InMemoryQueue.messages(s"t-route-$run-$t")
      val want = good.filter(_.tbl.contains(t))
      assert(msgs.size === want.size, t)
      assert(msgs.forall(_.startsWith(s"""{"table":"$t"""")), msgs)
      assert(want.forall(r => msgs.exists(_.endsWith(s""""value":${r.value}}"""))), msgs)
    }
    assert(InMemoryQueue.messages(s"t-route-$run-unused").isEmpty)
    assert(pipeline.messagesSent.value === good.size.toLong)
    assert(pipeline.messagesDeadLettered.value === bad.size.toLong)
    assert(store.get() === Some("9"))
  }
}

/** Raw (sort_us, tbl, key, value) feed row for poison-payload tests. */
case class RawFeedRow(sort_us: Long, tbl: Option[String],
    key: Option[String], value: String)
