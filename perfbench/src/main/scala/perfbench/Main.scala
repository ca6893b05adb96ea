package perfbench

import java.io.File
import java.lang.management.{ManagementFactory, MemoryType}
import javax.management.{ListenerNotFoundException, Notification, NotificationEmitter,
  NotificationListener}
import javax.management.openmbean.CompositeData
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import com.sun.management.GarbageCollectionNotificationInfo
import org.apache.spark.sql.SparkSession

/** A metric as printed: value and unit. */
final case class M(value: Double, unit: String)

/** What one workload run reports.
  *
  * `endToEnd` and `perLayer` hold exactly the metric names the benchmark
  * definition lists; `named` holds the workload's own metrics under the
  * names its documentation uses (for example `backlog_rows_per_s`), and
  * `layers` the detailed per-layer metrics of a traced run.
  */
final case class Outcome(
    attempted: Long,
    failed: Long,
    correct: Boolean,
    endToEnd: Map[String, M],
    perLayer: Map[String, M],
    named: Map[String, M],
    layers: Map[String, M])

final case class Opts(
    workload: String,
    seed: Long,
    seconds: Int,
    trace: Boolean,
    workDir: String,
    hashes: String,
    liveRowsPerS: Long,
    recordDir: Option[String])

/** Benchmark entry point; see `perfbench/README.md`. Usage:
  * {{{
  * perfbench.Main --workload <repl_backlog|repl_live_eo|query_mix> --seed <n>
  *   --seconds <s> --trace <0|1> --work-dir <dir> --result <file>
  *   --hashes <expected_hashes.json> --live-rows-per-s <n> [--record <dir>]
  * }}}
  * Writes the result object to `--result`, the spans of a traced run to
  * `<work-dir>/trace.json`.
  */
object Main {
  /** Executor slots: one core stays free for the driver and the
    * open-loop generator.
    */
  val Cores: Int = math.max(1, math.min(3, Runtime.getRuntime.availableProcessors() - 1))
  /** The query mix leaves a second core to its driver, which builds plans
    * and launches eager jobs between tasks: with [[Cores]] slots the
    * per-query times varied by 20-30 % from run to run, with one fewer
    * by about 10 %, at the same pass time.
    */
  val MixCores: Int = math.max(1, Cores - 1)

  /** Exit status of a flagged run: see [[GeneratorLate]]. */
  val LateExit = 3

  /** Exits explicitly: a thread left behind by a failed run must not
    * keep the JVM alive past its result.
    */
  def main(argv: Array[String]): Unit =
    try { run(argv); sys.exit(0) }
    catch {
      case e: GeneratorLate => System.err.println(s"[perfbench] ${e.getMessage}"); sys.exit(LateExit)
      case e: Throwable => e.printStackTrace(); sys.exit(1)
    }

  private def run(argv: Array[String]): Unit = {
    val kv = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = kv.getOrElse(k, sys.error(s"missing --$k"))
    val opts = Opts(need("workload"), need("seed").toLong, need("seconds").toInt,
      need("trace") == "1", need("work-dir"), kv.getOrElse("hashes", ""),
      kv.getOrElse("live-rows-per-s", "0").toLong, kv.get("record"))
    val resultPath = need("result")
    val trace = new Trace(opts.trace)
    val t0 = System.nanoTime()
    val spark = session(opts.workDir, if (opts.workload == "query_mix") MixCores else Cores)
    val sessionS = (System.nanoTime() - t0) / 1e9
    val out =
      try opts.workload match {
        case "repl_backlog" => Replication.backlog(spark, opts, trace, sessionS)
        case "repl_live_eo" => Replication.liveExactlyOnce(spark, opts, trace, sessionS)
        case "query_mix" => QueryMix.run(spark, opts, trace, sessionS)
        case w => sys.error(s"unknown workload '$w'")
      } finally SparkSession.getActiveSession.foreach(_.stop())
    if (opts.trace)
      Files.write(Paths.get(opts.workDir, "trace.json"), trace.toJson.getBytes(UTF_8))
    Files.write(Paths.get(resultPath), render(out, opts.trace).getBytes(UTF_8))
  }

  def session(workDir: String, cores: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", new File(workDir, "spark-local").getAbsolutePath)
      .config("spark.sql.warehouse.dir", new File(workDir, "warehouse").getAbsolutePath)
      .config("spark.sql.streaming.forceDeleteTempCheckpointLocation", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  private def metrics(ms: Map[String, M]): String =
    Json.obj(ms.toSeq.sortBy(_._1).map { case (k, m) =>
      k -> Json.obj(Seq("value" -> Json.num(m.value), "unit" -> Json.str(m.unit)))
    })

  /** The result object, plus the workload's named and layer metrics,
    * which the wrapper prints before it.
    */
  def render(o: Outcome, traced: Boolean): String =
    Json.obj(Seq(
      "correct" -> o.correct.toString,
      "attempted" -> o.attempted.toString,
      "failed" -> o.failed.toString,
      "metrics" -> metrics(if (traced) o.perLayer else o.endToEnd),
      "named" -> metrics(o.named),
      "layers" -> metrics(o.layers))) + "\n"
}

/** Peak heap in use after a collection. While [[watch]] is on, every
  * collection the JVM runs reports the heap its pools hold after it
  * (the GC MXBeans' notifications), so retention that grows inside the
  * measured window and is released before it ends still shows. [[sample]]
  * adds a forced full collection as a floor, at the end of set-up and
  * of the window: the heap the run's state, caches and indexes retain.
  */
object Heap {
  @volatile private var peak = 0L

  private def heapPools: Set[String] = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet

  private def record(used: Long): Unit = synchronized { peak = math.max(peak, used) }

  private val listener = new NotificationListener {
    private val pools = heapPools
    def handleNotification(n: Notification, handback: AnyRef): Unit =
      if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
        record(info.getGcInfo.getMemoryUsageAfterGc.asScala.collect {
          case (pool, u) if pools(pool) => u.getUsed
        }.sum)
      }
  }

  private def emitters: Seq[NotificationEmitter] =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.toSeq.collect { case e: NotificationEmitter => e }

  def watch(): Unit = emitters.foreach(_.addNotificationListener(listener, null, null))

  def unwatch(): Unit = emitters.foreach { e =>
    try e.removeNotificationListener(listener) catch { case _: ListenerNotFoundException => () }
  }

  def sample(): Unit = {
    // the second collection takes what Spark's cleaner released after the first
    System.gc()
    Thread.sleep(100)
    System.gc()
    // usage as the collection left it, not as threads refilled it since
    record(ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == MemoryType.HEAP)
      .flatMap(p => Option(p.getCollectionUsage)).map(_.getUsed).sum)
  }

  def peakMb: Double = peak / 1048576.0

  def gcSeconds: Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum / 1e3
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    val s = xs.sorted
    val pos = q * (s.length - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.length - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  /** Quantile of weighted samples (value, weight). */
  def weightedQuantile(xs: Seq[(Double, Long)], q: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    val s = xs.sortBy(_._1)
    val total = s.map(_._2).sum
    val target = math.max(1L, math.ceil(q * total).toLong)
    var acc = 0L
    s.find { case (_, w) => acc += w; acc >= target }.getOrElse(s.last)._1
  }

  def geomean(xs: Seq[Double]): Double = math.exp(xs.map(math.log).sum / xs.length)
}
