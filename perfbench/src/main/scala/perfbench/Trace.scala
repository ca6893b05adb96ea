package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener

/** One traced interval. `parent` is -1 for a root. Times are
  * `System.nanoTime`; listener events, which carry wall-clock millis,
  * are converted with [[Trace.wallToNano]].
  */
final case class Span(id: Long, parent: Long, name: String, startNs: Long, endNs: Long,
    attrs: Map[String, Double] = Map.empty) {
  def durNs: Long = endNs - startNs
}

/** In-memory span store. Spans are written out once, when the run ends;
  * with tracing off nothing is recorded.
  */
final class Trace(val on: Boolean) {
  private val spans = ArrayBuffer.empty[Span]
  private var nextId = 0L
  private val wallAtStart = System.currentTimeMillis()
  private val nanoAtStart = System.nanoTime()

  def wallToNano(ms: Long): Long = nanoAtStart + (ms - wallAtStart) * 1000000L

  def add(parent: Long, name: String, startNs: Long, endNs: Long,
      attrs: Map[String, Double] = Map.empty): Long = synchronized {
    if (!on) -1L
    else {
      nextId += 1
      spans += Span(nextId, parent, name, startNs, endNs, attrs)
      nextId
    }
  }

  def all: Seq[Span] = synchronized(spans.toList)

  /** Self time per span: its duration minus the union of its children. */
  def selfNs(all: Seq[Span]): Map[Long, Long] = {
    val kids = all.groupBy(_.parent)
    all.map { s =>
      val iv = kids.getOrElse(s.id, Nil)
        .map(c => (math.max(c.startNs, s.startNs), math.min(c.endNs, s.endNs)))
        .filter { case (a, b) => b > a }
      s.id -> (s.durNs - Trace.unionNs(iv))
    }.toMap
  }

  def toJson: String = {
    val ss = all
    val self = selfNs(ss)
    ss.map { s =>
      val attrs = s.attrs.map { case (k, v) => s""""$k":${Json.num(v)}""" }.mkString(",")
      s"""{"id":${s.id},"parent":${s.parent},"name":${Json.str(s.name)},""" +
        s""""start_ns":${s.startNs - nanoAtStart},"end_ns":${s.endNs - nanoAtStart},""" +
        s""""self_ns":${self(s.id)},"attrs":{$attrs}}"""
    }.mkString("[\n", ",\n", "\n]\n")
  }
}

object Trace {
  /** Total length covered by a set of intervals. */
  def unionNs(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curA = Long.MinValue
    var curB = Long.MinValue
    iv.sortBy(_._1).foreach { case (a, b) =>
      if (a > curB) { if (curB > curA) total += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    if (curB > curA) total += curB - curA
    total
  }
}

/** A finished Spark job with its tasks' metrics summed. */
final case class JobRecord(jobId: Int, startMs: Long, endMs: Long, batchId: Long,
    tasks: Long, cpuNs: Long, runMs: Long, gcMs: Long, shuffleBytes: Long, spillBytes: Long)

/** Spark-listener side of the trace: jobs with their task metrics, and
  * structured-streaming progress. Registered only on traced runs.
  */
final class Listeners extends SparkListener {
  private final class Acc(val startMs: Long, val batchId: Long) {
    var tasks, cpuNs, runMs, gcMs, shuffle, spill = 0L
  }
  private val open = new java.util.concurrent.ConcurrentHashMap[Int, Acc]()
  private val stageJob =
    new java.util.concurrent.ConcurrentHashMap[java.lang.Integer, java.lang.Integer]()
  private val done = ArrayBuffer.empty[JobRecord]
  private val progress = ArrayBuffer.empty[StreamingQueryListener.QueryProgressEvent]

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val batch = Option(e.properties).flatMap(p => Option(p.getProperty("streaming.sql.batchId")))
      .map(_.toLong).getOrElse(-1L)
    open.put(e.jobId, new Acc(e.time, batch))
    e.stageIds.foreach(s => stageJob.put(s, e.jobId))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val job = stageJob.get(e.stageId)
    val acc = if (job == null) null else open.get(job.intValue)
    val m = e.taskMetrics
    if (acc != null && m != null) acc.synchronized {
      acc.tasks += 1
      acc.cpuNs += m.executorCpuTime
      acc.runMs += m.executorRunTime
      acc.gcMs += m.jvmGCTime
      acc.shuffle += m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten
      acc.spill += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    val acc = open.remove(e.jobId)
    if (acc != null) synchronized {
      done += JobRecord(e.jobId, acc.startMs, e.time, acc.batchId, acc.tasks, acc.cpuNs,
        acc.runMs, acc.gcMs, acc.shuffle, acc.spill)
    }
  }

  val streams: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      Listeners.this.synchronized(progress += e)
  }

  def jobs: Seq[JobRecord] = synchronized(done.toList)
  def progresses: Seq[StreamingQueryListener.QueryProgressEvent] = synchronized(progress.toList)
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null"
    else if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString
    else v.toString

  def obj(fields: Seq[(String, String)]): String =
    fields.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
}
