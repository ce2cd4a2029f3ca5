package graftbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import scala.collection.concurrent.TrieMap
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

import graft.cdc.{CursorStore, FileCursorStore, MessageQueue}

/** Order statistics with linear interpolation between closest ranks
  * (the same rule as numpy's default), so a percentile moves smoothly
  * with the data instead of jumping between samples. */
object Stats {
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
  def msSince(t0: Long, t1: Long): Double = (t1 - t0) / 1e6
  def sSince(t0: Long): Double = (System.nanoTime() - t0) / 1e9
}

/** A metric as the result line prints it. */
final case class Metric(value: Double, unit: String)

/** Outcome of one workload run: checks attempted and failed, metrics. */
final class Outcome {
  val metrics = scala.collection.mutable.LinkedHashMap.empty[String, Metric]
  private var attemptedN = 0L
  private var failedN = 0L
  val failures = scala.collection.mutable.ArrayBuffer.empty[String]

  def put(name: String, value: Double, unit: String): Unit =
    metrics(name) = Metric(value, unit)

  /** One correctness check over `n` items of which `bad` failed. */
  def check(what: String, n: Long, bad: Long): Unit = {
    attemptedN += math.max(n, 1L)
    failedN += bad
    if (bad > 0) failures += s"$what: $bad of $n wrong"
  }
  def expect(what: String, ok: Boolean, detail: => String = ""): Unit =
    check(if (ok) what else s"$what ($detail)", 1L, if (ok) 0L else 1L)

  def attempted: Long = attemptedN
  def failed: Long = failedN
  def correct: Boolean = failedN == 0
}

object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b.append("\\\"")
      case '\\' => b.append("\\\\")
      case '\n' => b.append("\\n")
      case '\t' => b.append("\\t")
      case c if c < ' ' => b.append(f"\\u${c.toInt}%04x")
      case c => b.append(c)
    }
    b.append('"').toString
  }
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "0" else java.lang.Double.toString(d)
}

/** Process-level probes: peak resident memory and JVM GC time. */
object Probes {
  /** Peak RSS (VmHWM) of this process in MiB; the JVM's committed heap
    * when /proc is not there. */
  def peakRssMb(): Double = {
    val status = java.nio.file.Paths.get("/proc/self/status")
    if (Files.exists(status))
      Files.readAllLines(status).asScala.find(_.startsWith("VmHWM:"))
        .map(_.replaceAll("[^0-9]", "").toDouble / 1024.0).getOrElse(0.0)
    else ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getCommitted / 1048576.0
  }

  def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(b.getCollectionTime, 0L)).sum

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val st = Files.walk(p)
      try st.sorted(java.util.Comparator.reverseOrder[Path]())
        .forEach(f => { Files.deleteIfExists(f); () })
      finally st.close()
    }
}

final case class Span(id: Long, parent: Long, key: String, name: String,
    layer: String, startNs: Long, endNs: Long)

/** In-memory spans recorded around the benchmark's own calls into the
  * program: name, layer, start, end, parent. Spans of one segment or
  * one operator call share a `key`. Off in the untraced runs, where
  * `span` is a plain call. */
final class Tracer(val on: Boolean) {
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicLong(0L)

  def record(name: String, layer: String, key: String, startNs: Long,
      endNs: Long, parent: Long = 0L): Long =
    if (!on) 0L
    else {
      val id = ids.incrementAndGet()
      spans.add(Span(id, parent, key, name, layer, startNs, endNs))
      id
    }

  def span[T](name: String, layer: String, key: String, parent: Long = 0L)(
      body: => T): T =
    if (!on) body
    else {
      val t0 = System.nanoTime()
      try body
      finally { record(name, layer, key, t0, System.nanoTime(), parent); () }
    }

  /** Self time per layer: a span's duration minus the part of it that
    * its child spans cover. */
  def selfTimeMs(): Seq[(String, Double, Long)] = {
    val all = spans.asScala.toSeq
    val children = all.filter(_.parent != 0L).groupBy(_.parent)
    all.map { s =>
      val covered = children.getOrElse(s.id, Nil)
        .map(c => (math.max(c.startNs, s.startNs), math.min(c.endNs, s.endNs)))
        .filter { case (a, b) => b > a }.sortBy(_._1)
        .foldLeft((0L, Long.MinValue)) { case ((sum, end), (a, b)) =>
          val from = math.max(a, end)
          (if (b > from) sum + (b - from) else sum, math.max(end, b))
        }._1
      (s.layer, (s.endNs - s.startNs - covered) / 1e6)
    }.groupBy(_._1).map { case (layer, xs) =>
      (layer, xs.map(_._2).sum, xs.size.toLong)
    }.toSeq.sortBy(-_._2)
  }

  /** Write every span as one JSON line and the self-time table beside it. */
  def dump(file: Path): Unit = if (on) {
    Files.createDirectories(file.getParent)
    val lines = spans.asScala.toSeq.sortBy(_.startNs).map { s =>
      s"""{"id":${s.id},"parent":${s.parent},"key":${Json.str(s.key)},""" +
        s""""name":${Json.str(s.name)},"layer":${Json.str(s.layer)},""" +
        s""""start_ns":${s.startNs},"end_ns":${s.endNs}}"""
    }
    Files.write(file, lines.mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
    val table = selfTimeMs().map { case (layer, ms, n) =>
      f"$layer%-12s $ms%12.1f ms self  $n%8d spans"
    }
    Files.write(file.resolveSibling(file.getFileName.toString + ".selftime.txt"),
      table.mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
    System.err.println("[perfbench] self time per layer:\n" + table.mkString("\n"))
  }
}

/** A publish with the time it happened. */
final case class Stamped(nanos: Long, data: Array[Byte])

/** Published messages of one queue, with a cheap running count. */
final class StampBuffer {
  val items = new ConcurrentLinkedQueue[Stamped]()
  val count = new AtomicLong(0L)
}

/** Benchmark-side MessageQueue: keeps each published payload with its
  * publish time. Executor tasks receive a deserialized copy, so the
  * buffers live in a process-wide registry keyed by queue name (local
  * mode runs tasks in this JVM). */
final class StampQueue(val name: String) extends MessageQueue {
  override def publish(data: Array[Byte]): Unit = {
    val b = StampQueue.buffer(name)
    b.items.add(Stamped(System.nanoTime(), data))
    b.count.incrementAndGet()
    ()
  }
}

object StampQueue {
  private val buffers = TrieMap.empty[String, StampBuffer]
  def buffer(name: String): StampBuffer = buffers.getOrElseUpdate(name, new StampBuffer)
  def drop(name: String): Unit = { buffers.remove(name); () }
}

/** A FileCursorStore that records when each cursor was set and how
  * long the set took. */
final class StampCursorStore(path: String) extends CursorStore {
  private val inner = new FileCursorStore(path)
  /** (cursor, set start ns, set end ns) per call. */
  val sets = new ConcurrentLinkedQueue[(Long, Long, Long)]()
  override def get(): Option[String] = inner.get()
  override def set(cursor: String): Unit = {
    val t0 = System.nanoTime()
    inner.set(cursor)
    sets.add((cursor.toLong, t0, System.nanoTime()))
    ()
  }
}

/** One streaming progress event, reduced to what the benchmark reads. */
final case class Progress(queryId: String, batchId: Long, startNs: Long,
    durations: Map[String, Long], inputRows: Long, stateRows: Long,
    stateBytes: Long, stateUpdateMs: Long, stateCommitMs: Long,
    sstBytes: Long)

/** Collects progress events of every streaming query in the session.
  * The event's wall-clock trigger start is mapped onto System.nanoTime
  * so it lines up with the benchmark's own stamps. */
final class ProgressLog(spark: SparkSession) extends StreamingQueryListener {
  private val wallToNanos = System.nanoTime() - System.currentTimeMillis() * 1000000L
  val events = new ConcurrentLinkedQueue[Progress]()

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    val startMs = java.time.Instant.parse(p.timestamp).toEpochMilli
    val ops = p.stateOperators.toSeq
    def custom(k: String): Long = ops.map(o =>
      Option(o.customMetrics.get(k)).map(_.longValue).getOrElse(0L)).sum
    events.add(Progress(p.id.toString, p.batchId, startMs * 1000000L + wallToNanos,
      p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
      p.numInputRows, ops.map(_.numRowsTotal).sum, ops.map(_.memoryUsedBytes).sum,
      ops.map(_.allUpdatesTimeMs).sum, ops.map(_.commitTimeMs).sum,
      custom("rocksdbSstFileSize")))
    ()
  }

  def of(queryId: String): Seq[Progress] =
    events.asScala.filter(_.queryId == queryId).toSeq.sortBy(_.batchId)

  def install(): this.type = { spark.streams.addListener(this); this }
}
