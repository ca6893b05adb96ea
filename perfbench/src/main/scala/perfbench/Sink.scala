package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.TaskContext

import graft.streaming.OffsetCommittingSender

/** One task's drain: first `send` to `flush` return. */
final case class TaskDrain(batchId: Long, partitionId: Int, startNs: Long, endNs: Long, rows: Long)

/** What the benchmark's sink has seen, JVM-global: in `local[N]` mode
  * executors share the driver's JVM, so tasks and the driver meet here.
  *
  * A record becomes visible only when its task's `flush()` returns — the
  * commit point of both delivery modes — so sequence numbers, the digest
  * and latency are all taken at flush. Under exactly-once an aborted
  * attempt's buffered records never reach this state, as in Kafka under
  * `read_committed`.
  */
object Sink {
  private val lock = new Object
  private var seen = new java.util.BitSet()
  private var digest = new Digest
  private var duplicates = 0L
  private var malformed = 0L
  private var lastFlushNs = 0L
  // (due tick, latency ns, records): one entry per (flush, due tick)
  private val latency = ArrayBuffer.empty[(Long, Long, Long)]
  private val drains = ArrayBuffer.empty[TaskDrain]
  private val committedProgress = ConcurrentHashMap.newKeySet[(String, Long, Int)]()

  val sends = new AtomicLong
  val flushes = new AtomicLong
  val progressLookups = new AtomicLong
  val delivered = new AtomicLong

  // due time of record `seq`: dueBaseNs + (seq / rowsPerTick) * tickNs
  @volatile var dueBaseNs = 0L
  @volatile var tickNs = 0L
  @volatile var rowsPerTick = 1L

  /** Start a fresh observation window; `tickNs == 0` makes every record
    * due at `dueBaseNs` (a backlog is due when the drain starts).
    */
  def reset(dueBase: Long, tick: Long, perTick: Long): Unit = lock.synchronized {
    seen = new java.util.BitSet()
    digest = new Digest
    duplicates = 0L; malformed = 0L; lastFlushNs = 0L
    latency.clear(); drains.clear(); committedProgress.clear()
    Seq(sends, flushes, progressLookups, delivered).foreach(_.set(0L))
    dueBaseNs = dueBase; tickNs = tick; rowsPerTick = perTick
  }

  final case class Snapshot(
      digest: Digest,
      distinct: Long,
      duplicates: Long,
      malformed: Long,
      lastFlushNs: Long,
      latency: Seq[(Long, Long, Long)],
      drains: Seq[TaskDrain],
      sends: Long,
      flushes: Long,
      progressLookups: Long)

  def snapshot(): Snapshot = lock.synchronized {
    val d = new Digest
    d.merge(digest)
    Snapshot(d, seen.cardinality().toLong, duplicates, malformed, lastFlushNs,
      latency.toList, drains.toList, sends.get(), flushes.get(), progressLookups.get())
  }

  private[perfbench] def commit(seqs: Array[Long], hA: Array[Long], hB: Array[Long],
      n: Int, firstSendNs: Long): Unit = lock.synchronized {
    var i = 0
    val byTick = scala.collection.mutable.LongMap.empty[Long]
    while (i < n) {
      val s = seqs(i)
      if (s < 0 || s > Int.MaxValue) malformed += 1
      else if (seen.get(s.toInt)) duplicates += 1
      else {
        seen.set(s.toInt)
        digest.count += 1; digest.sumA += hA(i); digest.sumB += hB(i)
      }
      if (s >= 0) {
        val tick = if (tickNs == 0L) 0L else s / rowsPerTick
        byTick.update(tick, byTick.getOrElse(tick, 0L) + 1)
      }
      i += 1
    }
    val now = System.nanoTime()
    byTick.foreach { case (tick, c) => latency += ((tick, now - (dueBaseNs + tick * tickNs), c)) }
    lastFlushNs = math.max(lastFlushNs, now)
    delivered.addAndGet(n.toLong)
    val tc = TaskContext.get()
    val batch = Option(tc).flatMap(c => Option(c.getLocalProperty("streaming.sql.batchId")))
      .map(_.toLong).getOrElse(-1L)
    drains += TaskDrain(batch, Option(tc).map(_.partitionId()).getOrElse(-1), firstSendNs, now, n.toLong)
  }

  private[perfbench] def markCommitted(key: (String, Long, Int)): Unit = committedProgress.add(key)
  private[perfbench] def isCommitted(key: (String, Long, Int)): Boolean = committedProgress.contains(key)
}

/** The benchmark's record sender, bound through the production
  * reflective factory (`Main.reflectiveSenderFactory`), so it is pooled
  * per (sink, partition) exactly as a Kafka producer would be.
  *
  * It behaves like a transactional producer: `send` hashes and buffers,
  * `flush` commits the buffer (and any staged progress) atomically into
  * [[Sink]], `close` with an open buffer aborts it. The progress map
  * plays the compacted progress topic of the production binding.
  */
class BenchSender(props: Map[String, String]) extends OffsetCommittingSender {
  private val txnId = props.getOrElse("transactional.id", "")
  private var n = 0
  private var seqs = new Array[Long](1024)
  private var hA = new Array[Long](1024)
  private var hB = new Array[Long](1024)
  private var firstSendNs = 0L
  private var staged: Option[(Long, Int)] = None

  override def send(topic: String, partition: Option[Int], timestampMs: Long,
      key: Array[Byte], value: Array[Byte], headers: Seq[(String, Array[Byte])]): Unit = {
    if (n == 0) firstSendNs = System.nanoTime()
    if (n == seqs.length) {
      seqs = java.util.Arrays.copyOf(seqs, n * 2)
      hA = java.util.Arrays.copyOf(hA, n * 2)
      hB = java.util.Arrays.copyOf(hB, n * 2)
    }
    val bytes = Envelope.canonical(topic, partition.getOrElse(-1), timestampMs, key, value, headers)
    val (a, b) = Digest.hashes(bytes)
    seqs(n) = Envelope.seqOf(headers)
    hA(n) = a
    hB(n) = b
    n += 1
    Sink.sends.incrementAndGet()
  }

  override def stageProgress(batchId: Long, partitionId: Int): Unit =
    staged = Some((batchId, partitionId))

  override def progressCommitted(batchId: Long, partitionId: Int): Boolean = {
    Sink.progressLookups.incrementAndGet()
    Sink.isCommitted((txnId, batchId, partitionId))
  }

  override def flush(): Unit = {
    Sink.flushes.incrementAndGet()
    if (n > 0) Sink.commit(seqs, hA, hB, n, firstSendNs)
    staged.foreach { case (b, p) => Sink.markCommitted((txnId, b, p)) }
    abort()
  }

  override def close(): Unit = abort()

  private def abort(): Unit = { n = 0; staged = None }
}
