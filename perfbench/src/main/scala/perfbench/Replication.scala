package perfbench

import java.io.File
import java.nio.file.{Files, Paths, StandardCopyOption}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQuery

import graft.admin.{InMemoryMetadataClient, TopicSpec}
import graft.config.ReplicatorConfig
import graft.streaming.{Pipeline, PooledSenderFactory}

/** The two replication workloads. Both go through the replicator's own
  * entry points: argv → `Main.preflight` (config + topic reconciliation
  * against in-memory metadata) → `Main.startStream` with a file-backed
  * `sourceOverride` and [[BenchSender]] bound through the production
  * pooled sender factory.
  */
object Replication {
  /** Backlog: 24 files of 10 000 records, drained six files per batch so
    * each batch has work for every executor slot.
    */
  val BacklogFiles = 24
  val BacklogRowsPerFile = 10000L
  val BacklogFilesPerBatch = 6
  /** Untimed drains before the window: while the JIT compiles, the rate
    * climbs from the first drain to about the fifth, to twice the first.
    */
  val WarmupDrains = 4
  /** Live: one file per 200 ms tick; five seconds of warm-up ticks. */
  val TickMs = 200L
  val WarmupTicks = 25
  /** A generator tick this late flags the run (it no longer offers the rate). */
  val LateFlagMs = 50.0

  private def argv(extra: String*): Array[String] =
    Array("--topics", "^bench-t.*", "--consumer.bootstrap.servers", "source:9092",
      "--consumer.group.id", "perfbench", "--producer.bootstrap.servers", "target:9092") ++ extra

  /** Config from argv plus reconciliation; returns it with the call's ms. */
  private def preflight(env: Envelope, args: Array[String]): (ReplicatorConfig, Double) = {
    val topics = env.topicPartitions.zipWithIndex.map { case (p, t) => TopicSpec(env.topicName(t), p) }
    val t0 = System.nanoTime()
    val cfg = graft.Main.preflight(args, _ => new InMemoryMetadataClient(topics))
      .fold(errs => sys.error(s"preflight failed: ${errs.mkString("; ")}"), identity)
    (cfg, (System.nanoTime() - t0) / 1e6)
  }

  /** Write records `[0, files * rowsPerFile)` as one parquet file per
    * consecutive slice of `rowsPerFile`. Returns the files in seq order
    * and the generator's digest, folded by the writing tasks.
    */
  private def writeFiles(spark: SparkSession, env: Envelope, files: Int, rowsPerFile: Long,
      dir: String): (IndexedSeq[File], Digest) = {
    val sc = spark.sparkContext
    val (count, sumA, sumB) = (sc.longAccumulator, sc.longAccumulator, sc.longAccumulator)
    val rdd = sc.parallelize(0 until files, files).flatMap { f =>
      Iterator.range(0, rowsPerFile.toInt).map { i =>
        val seq = f * rowsPerFile + i
        val rec = env.record(seq)
        val (a, b) = Digest.hashes(Envelope.canonical(rec))
        count.add(1L); sumA.add(a); sumB.add(b)
        Envelope.row(rec, seq)
      }
    }
    // random payloads: dictionaries and compression would only cost time
    spark.createDataFrame(rdd, Envelope.Schema).write
      .option("parquet.enable.dictionary", "false").option("compression", "uncompressed")
      .parquet(dir)
    val part = """part-(\d+)-.*\.parquet""".r
    val out = new File(dir).listFiles().toIndexedSeq.collect {
      case f if part.matches(f.getName) => (part.findFirstMatchIn(f.getName).get.group(1).toInt, f)
    }.sortBy(_._1)
    require(out.map(_._1) == (0 until files), s"expected $files fixture files in $dir")
    val d = new Digest
    d.count = count.sum; d.sumA = sumA.sum; d.sumB = sumB.sum
    (out.map(_._2), d)
  }

  /** `Main.preflight` three times: the median call time and the config. */
  private def preflight3(env: Envelope, args: Array[String]): (ReplicatorConfig, Double) = {
    val runs = Seq.fill(3)(preflight(env, args))
    (runs.head._1, Stats.median(runs.map(_._2)))
  }

  /** Record-level outcome of one observation window. */
  private final case class Check(attempted: Long, failed: Long) {
    def +(o: Check): Check = Check(attempted + o.attempted, failed + o.failed)
  }

  /** Lost, malformed and (under exactly-once) duplicated records fail;
    * a digest mismatch with nothing lost means a corrupted record.
    */
  private def check(snap: Sink.Snapshot, expected: Digest, exactlyOnce: Boolean, what: String): Check = {
    val lost = expected.count - snap.distinct
    val dups = if (exactlyOnce) snap.duplicates else 0L
    val corrupted = if (snap.digest != expected && lost == 0 && snap.malformed == 0) 1L else 0L
    val failed = lost + snap.malformed + dups + corrupted
    if (failed > 0)
      System.err.println(s"[perfbench] $what: lost=$lost malformed=${snap.malformed} " +
        s"duplicates=${snap.duplicates} digest=${snap.digest} expected=$expected")
    Check(expected.count, failed)
  }

  private def quantilesMs(lat: Seq[(Long, Long, Long)], q: Double): Double =
    Stats.weightedQuantile(lat.map { case (_, ns, c) => (ns / 1e6, c) }, q)

  // ---------------------------------------------------------------- backlog

  def backlog(spark0: SparkSession, opts: Opts, trace: Trace, sessionS: Double): Outcome = {
    var spark = spark0
    val env = new Envelope(opts.seed)
    val total = BacklogFiles * BacklogRowsPerFile
    val cap = BacklogFilesPerBatch * BacklogRowsPerFile
    val args = argv("--backfill", "--max-offsets-per-trigger", cap.toString)
    val srcDir = new File(opts.workDir, "backlog-src").getAbsolutePath
    val ((expected, (cfg, preflightMs)), fixtureS) = timed {
      (writeFiles(spark, env, BacklogFiles, BacklogRowsPerFile, srcDir)._2, preflight3(env, args))
    }
    val senders = graft.Main.reflectiveSenderFactory(cfg, classOf[BenchSender].getName)
    var n = 0

    final case class Drain(rowsPerS: Double, p50: Double, p99: Double, check: Check,
        snap: Sink.Snapshot, startNs: Long, q: StreamingQuery)

    def drain(): Drain = {
      n += 1
      val ck = new File(opts.workDir, s"backlog-ck-$n").getAbsolutePath
      val src = Pipeline.fileSource(spark, cfg, srcDir, Envelope.Schema, BacklogRowsPerFile)
      val start = System.nanoTime()
      Sink.reset(start, 0L, 1L)
      val q = graft.Main.startStream(spark, cfg, ck, _ => senders, Some(src))
      q.awaitTermination()
      val snap = Sink.snapshot()
      val secs = (snap.lastFlushNs - start) / 1e9
      System.err.println(f"[perfbench] drain $n: ${snap.distinct / secs}%.0f rows/s in $secs%.2f s")
      Drain(snap.distinct / secs, quantilesMs(snap.latency, 0.5), quantilesMs(snap.latency, 0.99),
        check(snap, expected, exactlyOnce = false, s"backlog drain $n"), snap, start, q)
    }

    def window(): Seq[Drain] = {
      val t0 = System.nanoTime()
      val out = Seq.newBuilder[Drain]
      do out += drain() while (System.nanoTime() - t0 < opts.seconds * 1000000000L)
      out.result()
    }

    val (warm, warmS) = timed(Seq.fill(WarmupDrains)(drain()))
    val setupS = sessionS + fixtureS + warmS
    Heap.sample()
    Heap.watch()
    val measured = window()
    Heap.sample()
    Heap.unwatch()
    val heapMb = Heap.peakMb
    var checks = (warm ++ measured).map(_.check).reduce(_ + _)

    val rate = Stats.median(measured.map(_.rowsPerS))
    val p50 = Stats.median(measured.map(_.p50))
    val p99 = Stats.median(measured.map(_.p99))
    val samples = measured.map(_.snap.distinct).sum

    var perLayer = Map.empty[String, M]
    var layers = Map.empty[String, M]
    if (opts.trace) {
      val lis = new Listeners
      spark.sparkContext.addSparkListener(lis)
      spark.streams.addListener(lis.streams)
      val gc0 = Heap.gcSeconds
      val w0 = System.nanoTime()
      val traced = window()
      val w1 = System.nanoTime()
      org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
      checks = checks + traced.map(_.check).reduce(_ + _)
      val tracedRate = Stats.median(traced.map(_.rowsPerS))
      val stream = traced.map(d => StreamRun(d.q.runId.toString, d.startNs, d.snap.lastFlushNs, d.snap))
      val (generic, detail) = StreamLayers.report(trace, lis, stream, w0, w1, Heap.gcSeconds - gc0,
        commitDir = None)
      spark.sparkContext.removeSparkListener(lis)
      spark.streams.removeListener(lis.streams)
      // untraced again: the overhead compares the traced window with the
      // untraced windows on both sides of it, so warm-up does not read as
      // negative overhead
      val after = window()
      checks = checks + after.map(_.check).reduce(_ + _)
      val untracedRate = (rate + Stats.median(after.map(_.rowsPerS))) / 2
      // single-core baseline of the same drain (stream-processing sheet)
      spark.stop()
      spark = Main.session(opts.workDir, 1)
      val one = Seq(drain(), drain())
      checks = checks + one.map(_.check).reduce(_ + _)
      perLayer = generic ++ Map(
        "trace.overhead_pct" -> M((untracedRate / tracedRate - 1) * 100, "%"))
      layers = detail ++ Map(
        "admin.preflight_ms" -> M(preflightMs, "ms"),
        "backlog.rows_per_s_local1" -> M(one.last.rowsPerS, "rows/s"),
        "backlog.rows_per_s" -> M(tracedRate, "rows/s"))
    }
    senders match { case p: PooledSenderFactory => p.shutdownAll(); case _ => () }

    Outcome(checks.attempted, checks.failed, checks.failed == 0,
      endToEnd = Map(
        "setup_s" -> M(setupS, "s"),
        "heap_peak_mb" -> M(heapMb, "MB"),
        "op_rate_per_s" -> M(rate, "1/s"),
        "op_p50_ms" -> M(p50, "ms"),
        "op_p99_ms" -> M(p99, "ms")),
      perLayer = perLayer,
      named = Map(
        "backlog_rows_per_s" -> M(rate, "rows/s"),
        "setup.session_s" -> M(sessionS, "s"),
        "setup.fixture_s" -> M(fixtureS, "s"),
        "setup.warmup_s" -> M(warmS, "s"),
        "backlog_drains" -> M(measured.size, "count"),
        "backlog_rows_per_drain" -> M(total, "rows"),
        "latency_samples" -> M(samples, "records"),
        "failed_ratio" -> M(checks.failed.toDouble / checks.attempted, "ratio")),
      layers = layers)
  }

  private def timed[A](body: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = body
    (a, (System.nanoTime() - t0) / 1e9)
  }

  // ---------------------------------------------------------- live, exactly-once

  def liveExactlyOnce(spark: SparkSession, opts: Opts, trace: Trace, sessionS: Double): Outcome = {
    require(opts.liveRowsPerS >= 10, "repl_live_eo needs --live-rows-per-s")
    val env = new Envelope(opts.seed)
    val rowsPerTick = opts.liveRowsPerS * TickMs / 1000L
    val windowTicks = opts.seconds * (1000L / TickMs).toInt
    // traced: untraced, traced and untraced windows back to back
    val phases = if (opts.trace) 3 else 1
    val ticks = WarmupTicks + phases * windowTicks
    val total = ticks * rowsPerTick
    val args = argv("--exactly-once")
    val srcDir = new File(opts.workDir, "live-src").getAbsolutePath
    val ((staged, expected, (cfg, preflightMs)), fixtureS) = timed {
      val (files, digest) = writeFiles(spark, env, ticks, rowsPerTick,
        new File(opts.workDir, "live-staged").getAbsolutePath)
      (files, digest, preflight3(env, args))
    }
    new File(srcDir).mkdirs()
    val ck = new File(opts.workDir, "live-ck").getAbsolutePath
    val senders = graft.Main.reflectiveSenderFactory(cfg, classOf[BenchSender].getName)
    val src = Pipeline.fileSource(spark, cfg, srcDir, Envelope.Schema)
    val lis = new Listeners

    val tracedFrom = WarmupTicks + windowTicks
    val tracedUntil = tracedFrom + windowTicks
    @volatile var publishedTicks = 0
    @volatile var tracedStartNs = Long.MaxValue
    @volatile var tracedEndNs = Long.MaxValue
    @volatile var gcTraced = 0.0
    val loop = new OpenLoop(ticks, TickMs * 1000000L, i => {
      if (i == WarmupTicks + windowTicks) Heap.unwatch()
      if (opts.trace && i == tracedFrom) {
        spark.sparkContext.addSparkListener(lis)
        spark.streams.addListener(lis.streams)
        tracedStartNs = System.nanoTime()
        gcTraced = -Heap.gcSeconds
      }
      if (opts.trace && i == tracedUntil) {
        gcTraced += Heap.gcSeconds
        spark.sparkContext.removeSparkListener(lis)
        spark.streams.removeListener(lis.streams)
        tracedEndNs = System.nanoTime()
      }
      Files.move(staged(i).toPath, Paths.get(srcDir, f"tick-$i%05d.parquet"),
        StandardCopyOption.ATOMIC_MOVE)
      publishedTicks = i + 1
    })
    val setupS = sessionS + fixtureS
    Heap.sample()
    Heap.watch()
    val q = graft.Main.startStream(spark, cfg, ck, _ => senders, Some(src))
    // Spark fires a processing-time trigger on whole multiples of its
    // interval on the wall clock. The first tick is due 100 ms past such
    // a boundary, so every run offers its records at the same phases of
    // the trigger instead of at a phase that varies from run to run.
    val wall = System.currentTimeMillis()
    val startNs = System.nanoTime() +
      ((wall / cfg.checkpointIntervalMs + 2) * cfg.checkpointIntervalMs + 100 - wall) * 1000000L
    Sink.reset(startNs, TickMs * 1000000L, rowsPerTick)
    // lag sampler: records published but not yet visible
    @volatile var sampling = true
    val lag = scala.collection.mutable.ArrayBuffer.empty[(Int, Long)]
    val sampler = new Thread(() => {
      while (sampling) {
        val p = publishedTicks
        lag.synchronized(lag += ((p, p * rowsPerTick - Sink.delivered.get())))
        Thread.sleep(50)
      }
    }, "perfbench-lag")
    sampler.setDaemon(true)
    loop.start(startNs)
    sampler.start()
    try loop.join()
    finally { sampling = false; sampler.join() }
    val deadline = System.nanoTime() + 60000000000L
    while (Sink.snapshot().distinct < total && System.nanoTime() < deadline && q.isActive)
      Thread.sleep(20)
    Heap.unwatch()
    Heap.sample()
    val heapMb = Heap.peakMb
    q.stop()
    q.exception.foreach(e => throw e)
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    val snap = Sink.snapshot()
    val checks = check(snap, expected, exactlyOnce = true, "live stream")

    def phase(from: Int, until: Int) = snap.latency.filter { case (t, _, _) => t >= from && t < until }
    val measured = phase(WarmupTicks, WarmupTicks + windowTicks)
    val p50 = quantilesMs(measured, 0.5)
    val p99 = quantilesMs(measured, 0.99)
    val rows = measured.map(_._3).sum
    val lastVisible = measured.map { case (t, ns, _) => Sink.dueBaseNs + t * Sink.tickNs + ns }.max
    val rate = rows / ((lastVisible - loop.dueNs(WarmupTicks)) / 1e9)
    val late = loop.lateness.drop(WarmupTicks).map(_ / 1e6).toSeq
    val lateP99 = Stats.quantile(late, 0.99)
    if (lateP99 > LateFlagMs)
      throw new GeneratorLate(f"the generator ran late (p99 $lateP99%.1f ms over $LateFlagMs%.0f ms): " +
        "the run did not offer the fixed rate and is not recorded")

    var perLayer = Map.empty[String, M]
    var layers = Map.empty[String, M]
    if (opts.trace) {
      val tracedLat = phase(tracedFrom, tracedUntil)
      val untracedP50 = (p50 + quantilesMs(phase(tracedUntil, ticks), 0.5)) / 2
      val (w0, w1) = (tracedStartNs, tracedEndNs)
      val tracedSnap = snap.copy(latency = tracedLat,
        drains = snap.drains.filter(d => d.startNs >= w0 && d.startNs < w1))
      val (generic, detail) = StreamLayers.report(trace, lis,
        Seq(StreamRun(q.runId.toString, w0, w1, tracedSnap)), w0, w1,
        gcTraced, commitDir = Some(graft.Main.commitDir(ck)))
      val maxLag = lag.synchronized(lag.filter(_._1 > WarmupTicks).map(_._2)).max
      perLayer = generic ++ Map(
        "trace.overhead_pct" -> M((quantilesMs(tracedLat, 0.5) / untracedP50 - 1) * 100, "%"))
      layers = detail ++ Map(
        "admin.preflight_ms" -> M(preflightMs, "ms"),
        "source.lag_rows_max" -> M(maxLag, "rows"),
        "gen.late_ms_p99" -> M(lateP99, "ms"))
    }
    senders match { case p: PooledSenderFactory => p.shutdownAll(); case _ => () }

    Outcome(checks.attempted, checks.failed, checks.failed == 0,
      endToEnd = Map(
        "setup_s" -> M(setupS, "s"),
        "heap_peak_mb" -> M(heapMb, "MB"),
        "op_rate_per_s" -> M(rate, "1/s"),
        "op_p50_ms" -> M(p50, "ms"),
        "op_p99_ms" -> M(p99, "ms")),
      perLayer = perLayer,
      named = Map(
        "live_p50_ms" -> M(p50, "ms"),
        "setup.session_s" -> M(sessionS, "s"),
        "setup.fixture_s" -> M(fixtureS, "s"),
        "live_p99_ms" -> M(p99, "ms"),
        "live_offered_rows_per_s" -> M(opts.liveRowsPerS, "rows/s"),
        "latency_samples" -> M(rows, "records"),
        "gen.late_ms_p99" -> M(lateP99, "ms"),
        "failed_ratio" -> M(checks.failed.toDouble / checks.attempted, "ratio")),
      layers = layers)
  }
}

/** A live run whose generator fell behind its schedule: it did not offer
  * the fixed rate, so its figures are not recorded.
  */
final class GeneratorLate(msg: String) extends RuntimeException(msg)

/** One stream run observed by a traced window. */
final case class StreamRun(runId: String, startNs: Long, endNs: Long, snap: Sink.Snapshot)

/** Per-layer numbers of a traced replication window, from the streaming
  * progress events (`durationMs`), the job listener and the sink's task
  * drains; also lays the stream → batch → phase / task / job spans.
  */
object StreamLayers {
  private val Phases = Seq("latestOffset", "walCommit", "getBatch", "queryPlanning", "addBatch",
    "commitOffsets")

  def report(trace: Trace, lis: Listeners, runs: Seq[StreamRun], w0: Long, w1: Long, gcS: Double,
      commitDir: Option[String]): (Map[String, M], Map[String, M]) = {
    val byRun = lis.progresses.map(_.progress).filter(_.numInputRows > 0)
      .groupBy(_.runId.toString)
    val jobs = lis.jobs.filter(j => trace.wallToNano(j.startMs) >= w0 && trace.wallToNano(j.startMs) <= w1)
    val perBatch = Seq.newBuilder[(Map[String, Long], Long, Double, Double)]
    runs.foreach { r =>
      val streamSpan = trace.add(-1, "stream", r.startNs, r.endNs)
      byRun.getOrElse(r.runId, Nil).foreach { p =>
        val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
        val b0 = trace.wallToNano(java.time.Instant.parse(p.timestamp).toEpochMilli)
        val bSpan = trace.add(streamSpan, s"batch", b0, b0 + d.getOrElse("triggerExecution", 0L) * 1000000L,
          Map("batch_id" -> p.batchId.toDouble, "rows" -> p.numInputRows.toDouble))
        var at = b0
        Phases.foreach { ph =>
          val len = d.getOrElse(ph, 0L) * 1000000L
          val phSpan = trace.add(bSpan, ph, at, at + len)
          if (ph == "addBatch") {
            r.snap.drains.filter(_.batchId == p.batchId).foreach { t =>
              trace.add(phSpan, "sender.task", t.startNs, t.endNs,
                Map("partition" -> t.partitionId.toDouble, "rows" -> t.rows.toDouble))
            }
            jobs.filter(_.batchId == p.batchId).foreach { j =>
              trace.add(phSpan, "spark.job", trace.wallToNano(j.startMs), trace.wallToNano(j.endMs),
                Map("job_id" -> j.jobId.toDouble, "tasks" -> j.tasks.toDouble))
            }
          }
          at += len
        }
        val tasks = r.snap.drains.filter(_.batchId == p.batchId)
        val longest = if (tasks.isEmpty) 0.0 else tasks.map(t => (t.endNs - t.startNs) / 1e6).max
        val skew = if (tasks.isEmpty) 1.0
          else tasks.map(_.rows.toDouble).max / Stats.median(tasks.map(_.rows.toDouble))
        perBatch += ((d, p.numInputRows, d.getOrElse("addBatch", 0L) - longest, skew))
      }
    }
    val batches = perBatch.result()
    require(batches.nonEmpty, "traced window saw no batch")
    def ms(k: String*) = batches.map { case (d, _, _, _) => k.map(d.getOrElse(_, 0L)).sum.toDouble }
    def mean(xs: Seq[Double]) = xs.sum / xs.size
    def pq(name: String, xs: Seq[Double]) = Seq(
      s"$name.p50" -> M(Stats.quantile(xs, 0.5), "ms"), s"$name.p99" -> M(Stats.quantile(xs, 0.99), "ms"))
    val drains = runs.flatMap(_.snap.drains).map(t => (t.endNs - t.startNs) / 1e6)
    val wall = (w1 - w0) / 1e9
    val busy = Trace.unionNs(jobs.map(j => (trace.wallToNano(j.startMs), trace.wallToNano(j.endMs)))) / 1e9
    val markers = commitDir.map { d =>
      val f = new File(d)
      if (!f.exists()) 0L else Files.walk(f.toPath).iterator().asScala.count(p => Files.isRegularFile(p)).toLong
    }.getOrElse(0L)
    val trigger = ms("triggerExecution").sum / 1e3
    val generic = Map(
      "units" -> M(batches.size, "count"),
      // means: progress durations are whole milliseconds, and a median
      // of them repeats exactly from run to run
      "stage.build_ms" -> M(mean(ms("latestOffset", "getBatch")), "ms"),
      "stage.plan_ms" -> M(mean(ms("queryPlanning")), "ms"),
      "stage.exec_ms" -> M(mean(ms("addBatch")), "ms"),
      "spark.jobs" -> M(jobs.size, "count"),
      "spark.tasks" -> M(jobs.map(_.tasks).sum, "count"),
      "spark.executor_cpu_s" -> M(jobs.map(_.cpuNs).sum / 1e9, "s"),
      "spark.executor_run_s" -> M(jobs.map(_.runMs).sum / 1e3, "s"),
      "spark.driver_outside_jobs_s" -> M(wall - busy, "s"),
      "jvm.gc_s" -> M(gcS, "s"))
    val detail = (pq("pipeline.latest_offset_ms", ms("latestOffset")) ++
      pq("pipeline.get_batch_ms", ms("getBatch")) ++
      pq("pipeline.planning_ms", ms("queryPlanning")) ++
      pq("pipeline.wal_commit_ms", ms("walCommit")) ++
      pq("pipeline.commit_offsets_ms", ms("commitOffsets")) ++
      pq("pipeline.trigger_ms", ms("triggerExecution")) ++
      pq("writer.add_batch_ms", ms("addBatch")) ++
      pq("writer.drain_ms", if (drains.isEmpty) Seq(0.0) else drains) ++
      pq("writer.non_drain_ms", batches.map(_._3)) ++ Seq(
      "pipeline.batches" -> M(batches.size, "count"),
      "pipeline.rows_per_batch" -> M(Stats.median(batches.map(_._2.toDouble)), "rows"),
      "pipeline.idle_share" -> M(math.max(0.0, 1 - trigger / wall), "ratio"),
      "writer.task_rows_skew" -> M(Stats.median(batches.map(_._4)), "ratio"),
      "writer.markers" -> M(markers, "count"),
      "sender.sends" -> M(runs.map(_.snap.sends).sum, "count"),
      "sender.flushes" -> M(runs.map(_.snap.flushes).sum, "count"),
      "sender.progress_lookups" -> M(runs.map(_.snap.progressLookups).sum, "count"))).toMap
    (generic, detail)
  }
}
