package graft.cdc

import java.io.{BufferedWriter, File, FileWriter}
import java.util.concurrent.ConcurrentLinkedQueue
import scala.collection.concurrent.TrieMap
import scala.jdk.CollectionConverters._

/** Message-queue abstraction the pipeline publishes change payloads to —
  * the Spark re-expression of the reference's `MessageQueue` trait
  * (reference src/queues.rs:12-14; RabbitMQ impl src/queues.rs:44-64).
  *
  * Implementations must be Serializable: they're shipped into
  * `foreachPartition` closures and publish from executors — on a real
  * cluster each task opens its own connection (a Kafka/AMQP producer);
  * the impls here are the test/local equivalents.
  */
trait MessageQueue extends Serializable {
  /** Publish one message; called per record from executor tasks. */
  def publish(data: Array[Byte]): Unit
}

/** In-memory queue registry (the RabbitMQ stand-in for tests/local
  * mode). Messages land in a process-global buffer keyed by queue name
  * — executors in local mode share the JVM, mirroring how the test
  * double in a cluster deployment would be a real broker. */
class InMemoryQueue(val name: String) extends MessageQueue {
  override def publish(data: Array[Byte]): Unit =
    InMemoryQueue.buffer(name).add(new String(data, "UTF-8"))
}

object InMemoryQueue {
  private val buffers = TrieMap.empty[String, ConcurrentLinkedQueue[String]]
  def buffer(name: String): ConcurrentLinkedQueue[String] =
    buffers.getOrElseUpdate(name, new ConcurrentLinkedQueue[String]())
  def messages(name: String): Seq[String] = buffer(name).iterator().asScala.toSeq
  def clear(name: String): Unit = buffer(name).clear()
}

/** Changefeed-log queue: "publishing" appends the batch's change rows
  * to another changefeed log THROUGH the `graft-changefeed` sink's
  * segment writer, called in-task (one atomic segment per partition,
  * idempotent `e<batch>p<part>` ids) — the broker-free Spark-native
  * queue. Row-level publish is deliberately unsupported: the pipeline
  * dispatches on this type and writes whole micro-batch partitions
  * (ChangefeedPipeline.start). */
class ChangefeedLogQueue(val dir: String) extends MessageQueue {
  override def publish(data: Array[Byte]): Unit =
    throw new UnsupportedOperationException(
      "ChangefeedLogQueue publishes whole micro-batches via the DSv2 sink")
}

/** File-backed queue: one JSONL file per (batch, partition), written
  * atomically (tmp + rename). Re-running a batch overwrites the same
  * files → idempotent publish, which upgrades Structured Streaming's
  * at-least-once foreachBatch into effectively-once delivery. */
class FileQueue(val dir: String) extends Serializable {
  def writerFor(batchId: Long, partitionId: Int): FileQueueWriter =
    new FileQueueWriter(dir, batchId, partitionId)
}

class FileQueueWriter(dir: String, batchId: Long, partitionId: Int) {
  new File(dir).mkdirs()
  private val target = new File(dir, f"batch-$batchId%05d-part-$partitionId%05d.jsonl")
  private val tmp = new File(dir, target.getName + ".tmp")
  private val w = new BufferedWriter(new FileWriter(tmp))
  private var n = 0L
  def write(line: String): Unit = { w.write(line); w.write("\n"); n += 1 }
  /** Atomic commit; empty partitions leave no file behind. */
  def commit(): Long = {
    w.close()
    if (n > 0) { tmp.renameTo(target); () } else { tmp.delete(); () }
    n
  }
}
