package perfbench

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.util.SplittableRandom

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

import graft.SparkEntry

/** The analytics workload: a fixed list of `SparkEntry.queries`, each
  * built, planned and executed through the noop sink by one closed-loop
  * client. The list spans contraction queries dominated by driver-side
  * builds and lineage cuts, single-pass kernels dominated by executor
  * CPU, and probes of persisted indexes. Replication code is not run.
  */
object QueryMix {
  /** The scan baseline (d4), a contraction query dominated by driver-side
    * builds and lineage cuts (x132), a single-pass kernel dominated by
    * executor CPU (x5), and probes of two persisted indexes: the IVF
    * index of `operators.SimilarityIndexes` (x175) and the BM25 index
    * (x184), both through `IndexCache`.
    */
  val Queries: Seq[String] = Seq("d4_identity", "x132_decontamination_repair", "x5_topk_cosine",
    "x175_ivf_topk_indexed", "x184_bm25_topk_indexed")
  /** Untimed passes after the checked first one, counted in set-up: the
    * pass time falls by a third over the first five passes while the JIT
    * compiles. Two passes take the steepest part of that descent out of
    * the window at a cost the run budget allows.
    */
  val WarmupPasses = 2
  /** A run measures at least this many passes, however short `--seconds`. */
  val MinPasses = 2

  /** Fixture sizes: the `documents`, `embeddings` and `events` row
    * counts of the repository's test data at sf0.01 (`FIXTURES.md`,
    * `TESTDATA.md`); `Users` is its distinct `user_id` count.
    */
  val Docs = 500
  val Vectors = 500
  val Events = 10000
  val Users = 150
  /** The fixture does not depend on the run's seed: the expected result
    * hashes are recorded once for it. The seed sets the query order.
    */
  val FixtureSeed = 42L

  /** The test data's vocabulary: its documents draw every word from these. */
  private val Words = ("a agg batch big column customer data fast filter group hash join key " +
    "line merge order part query row scan slow small sort spark stream table the value vector " +
    "window").split(" ")

  /** Write `documents`, `embeddings` and `events` parquet into `dir`,
    * with the distributions measured on the repository's test data:
    * documents of 10 to 99 uniform words, one in twenty an earlier
    * document's text plus " dup", `lang` `en` for two in five and four
    * other languages evenly, twenty sources in turn; 64-dimensional unit
    * vectors in uniform random directions with ten uniform labels;
    * events in time order over 30 days, five uniform types, values
    * exponential with mean 50 at cent precision, `props` `{"k": 0..99}`.
    */
  def writeFixture(spark: SparkSession, dir: String): Unit = {
    val r = new SplittableRandom(FixtureSeed)
    val texts = new Array[String](Docs)
    val langs = Seq("de", "es", "fr", "zh")
    val docs = (0 until Docs).map { i =>
      texts(i) =
        if (i > 0 && r.nextInt(20) == 0) texts(r.nextInt(i)) + " dup"
        else Seq.fill(10 + r.nextInt(90))(Words(r.nextInt(Words.length))).mkString(" ")
      val lang = if (r.nextInt(5) < 2) "en" else langs(r.nextInt(langs.size))
      Row(i.toLong, texts(i), lang, s"src${i % 20}", texts(i).length.toLong)
    }
    val docSchema = StructType(Seq(StructField("doc_id", LongType), StructField("text", StringType),
      StructField("lang", StringType), StructField("source", StringType),
      StructField("n_chars", LongType)))
    val vecs = (0 until Vectors).map { i =>
      val g = Array.fill(64)(gaussian(r))
      val norm = math.sqrt(g.map(x => x * x).sum)
      Row(i.toLong, g.map(x => (x / norm).toFloat).toSeq, r.nextInt(10))
    }
    val vecSchema = StructType(Seq(StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType)), StructField("label", IntegerType)))
    val t0 = java.time.LocalDateTime.of(2024, 1, 1, 0, 0)
    val micros = Array.fill(Events)((r.nextDouble() * 30 * 86400e6).toLong).sorted
    val types = Seq("click", "view", "purchase", "signup", "error")
    val events = (0 until Events).map { i =>
      Row(i.toLong, t0.plusNanos(micros(i) * 1000L), r.nextInt(Users).toLong,
        types(r.nextInt(types.size)), math.round(-50 * math.log(1 - r.nextDouble()) * 100) / 100.0,
        s"""{"k": ${r.nextInt(100)}}""")
    }
    val evSchema = StructType(Seq(StructField("event_id", LongType),
      StructField("ts", TimestampNTZType), StructField("user_id", LongType),
      StructField("event_type", StringType), StructField("value", DoubleType),
      StructField("props", StringType)))
    def write(rows: Seq[Row], schema: StructType, name: String): Unit =
      spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
        .write.mode("overwrite").parquet(s"$dir/$name.parquet")
    write(docs, docSchema, "documents")
    write(vecs, vecSchema, "embeddings")
    write(events, evSchema, "events")
  }

  /** A standard normal draw (Box-Muller). */
  private def gaussian(r: SplittableRandom): Double =
    math.sqrt(-2 * math.log(1 - r.nextDouble())) * math.cos(2 * math.Pi * r.nextDouble())

  /** Order-insensitive hash of a result: columns sorted by name (the
    * oracle comparison's convention), rows rendered exactly and sorted.
    * Returns `<rows>:<sha256>`.
    */
  def resultHash(df: DataFrame): String = {
    val idx = df.columns.zipWithIndex.sortBy(_._1).map(_._2)
    def fmt(v: Any): String = v match {
      case null => "∅"
      case b: Array[Byte] => b.map(x => f"$x%02x").mkString("0x", "", "")
      case s: scala.collection.Map[_, _] => s.toSeq.map { case (k, x) => fmt(k) + "=" + fmt(x) }.sorted.mkString("{", ",", "}")
      case s: scala.collection.Seq[_] => s.map(fmt).mkString("[", ",", "]")
      case r: Row => (0 until r.length).map(i => fmt(r.get(i))).mkString("(", ",", ")")
      case d: Double => java.lang.Double.toString(d)
      case f: Float => java.lang.Float.toString(f)
      case d: java.math.BigDecimal => d.toPlainString
      case x => x.toString
    }
    val rows = df.collect().map(r => idx.map(i => fmt(r.get(i))).mkString("\u0001")).sorted
    val md = java.security.MessageDigest.getInstance("SHA-256")
    md.update(idx.map(df.columns(_)).mkString(",").getBytes(UTF_8))
    rows.foreach(s => md.update(("\n" + s).getBytes(UTF_8)))
    s"${rows.length}:" + md.digest().map(b => f"$b%02x").mkString
  }

  private val Entry = "\"([^\"]+)\"\\s*:\\s*\"([^\"]+)\"".r

  def readHashes(path: String): Map[String, String] =
    Entry.findAllMatchIn(new String(Files.readAllBytes(Paths.get(path)), UTF_8))
      .map(m => m.group(1) -> m.group(2)).toMap

  /** One timed query execution, in seconds per phase. */
  final case class Exec(name: String, build: Double, plan: Double, exec: Double,
      wall0Ms: Long, wall1Ms: Long, t0: Long, t1: Long, t2: Long, t3: Long) {
    def total: Double = build + plan + exec
  }

  def timedExec(spark: SparkSession, dir: String, name: String): Exec = {
    val w0 = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val df = SparkEntry.queries(name)(spark, dir)
    val t1 = System.nanoTime()
    df.queryExecution.executedPlan
    val t2 = System.nanoTime()
    df.write.format("noop").mode("overwrite").save()
    val t3 = System.nanoTime()
    Exec(name, (t1 - t0) / 1e9, (t2 - t1) / 1e9, (t3 - t2) / 1e9, w0, System.currentTimeMillis(),
      t0, t1, t2, t3)
  }

  def run(spark: SparkSession, opts: Opts, trace: Trace, sessionS: Double): Outcome = {
    val dir = new File(opts.workDir, "mix-data").getAbsolutePath
    val t00 = System.nanoTime()
    writeFixture(spark, dir)
    val fixtureS = (System.nanoTime() - t00) / 1e9
    if (opts.recordDir.isDefined) return record(spark, dir, opts.recordDir.get)
    val expected = readHashes(opts.hashes)
    require(Queries.forall(expected.contains), s"${opts.hashes} lacks a hash for some query")

    var attempted = 0L
    var failed = 0L
    // untimed first pass: the one-per-JVM index builds and the result
    // check against the recorded hashes
    val t0 = System.nanoTime()
    Queries.foreach { q =>
      attempted += 1
      val ok =
        try {
          val got = resultHash(SparkEntry.queries(q)(spark, dir))
          if (got != expected(q)) System.err.println(s"[perfbench] $q: hash $got, expected ${expected(q)}")
          got == expected(q)
        } catch { case e: Exception => System.err.println(s"[perfbench] $q failed: $e"); false }
      if (!ok) failed += 1
    }
    val order = new scala.util.Random(opts.seed)
    def pass(): Seq[Exec] = {
      val p = order.shuffle(Queries).flatMap { q =>
        attempted += 1
        try Some(timedExec(spark, dir, q))
        catch { case e: Exception => failed += 1; System.err.println(s"[perfbench] $q failed: $e"); None }
      }
      System.err.println("[perfbench] pass: " + p.map(e => f"${e.name} ${e.total}%.3f s").mkString(", "))
      p
    }
    // the heap peak covers the warm-up passes too: a large array held
    // by one query shows only when a collection falls inside it, and two
    // passes give too few chances for a steady peak
    Heap.watch()
    (1 to WarmupPasses).foreach(_ => pass())
    val setupS = sessionS + fixtureS + (System.nanoTime() - t0) / 1e9
    Heap.sample()

    def window(): Seq[Exec] = {
      val w0 = System.nanoTime()
      val out = Seq.newBuilder[Exec]
      do out ++= pass()
      while (System.nanoTime() - w0 < opts.seconds * 1000000000L ||
        out.knownSize < MinPasses * Queries.size)
      out.result()
    }
    def perQuery(xs: Seq[Exec], f: Exec => Double): Map[String, Double] =
      xs.groupBy(_.name).map { case (q, es) => q -> Stats.median(es.map(f)) }

    val measured = window()
    Heap.sample()
    Heap.unwatch()
    val heapMb = Heap.peakMb
    // the mix by each query's median over the passes
    def rateOf(xs: Seq[Exec]) = Queries.size / perQuery(xs, _.total).values.sum
    val byQuery = perQuery(measured, _.total)
    val medians = byQuery.values.toSeq
    val rate = rateOf(measured)
    val p50 = Stats.quantile(measured.map(_.total), 0.5) * 1e3
    // the tail over the queries' medians: a run has ten to fifteen
    // executions, too few for a p99 of its own, which would be the one
    // slowest execution
    val p99 = Stats.quantile(medians, 0.99) * 1e3

    var perLayer = Map.empty[String, M]
    var layers = Map.empty[String, M]
    if (opts.trace) {
      val lis = new Listeners
      spark.sparkContext.addSparkListener(lis)
      val gc0 = Heap.gcSeconds
      val w0 = System.nanoTime()
      val traced = window()
      val w1 = System.nanoTime()
      org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
      spark.sparkContext.removeSparkListener(lis)
      // untraced again: the overhead compares the traced window with the
      // untraced windows on both sides of it
      val after = window()
      val untracedRate = (rate + rateOf(after)) / 2
      val jobs = lis.jobs
      def jobsOf(e: Exec) = jobs.filter(j => j.startMs >= e.wall0Ms && j.startMs <= e.wall1Ms)
      traced.foreach { e =>
        val qs = trace.add(-1, s"query", e.t0, e.t3)
        val phases = Seq(("build", e.t0, e.t1), ("plan", e.t1, e.t2), ("exec", e.t2, e.t3))
        val ids = phases.map { case (n, a, b) => (trace.add(qs, n, a, b), a, b) }
        jobsOf(e).foreach { j =>
          val js = trace.wallToNano(j.startMs)
          // a job belongs to the phase it started in
          val parent = ids.find { case (_, a, b) => js >= a && js <= b }.map(_._1).getOrElse(qs)
          trace.add(parent, "spark.job", js, trace.wallToNano(j.endMs),
            Map("job_id" -> j.jobId.toDouble, "tasks" -> j.tasks.toDouble,
              "cpu_s" -> j.cpuNs / 1e9, "shuffle_mb" -> j.shuffleBytes / 1e6))
        }
      }
      val tracedRate = rateOf(traced)
      val wall = (w1 - w0) / 1e9
      val busy = Trace.unionNs(jobs.map(j => (trace.wallToNano(j.startMs), trace.wallToNano(j.endMs)))) / 1e9
      val perJobs = perQuery(traced, e => jobsOf(e).size.toDouble)
      val sums = Seq("build" -> perQuery(traced, _.build), "plan" -> perQuery(traced, _.plan),
        "exec" -> perQuery(traced, _.exec))
      perLayer = Map(
        "units" -> M(traced.size, "count"),
        "stage.build_ms" -> M(traced.map(_.build).sum / traced.size * 1e3, "ms"),
        "stage.plan_ms" -> M(traced.map(_.plan).sum / traced.size * 1e3, "ms"),
        "stage.exec_ms" -> M(traced.map(_.exec).sum / traced.size * 1e3, "ms"),
        "spark.jobs" -> M(jobs.size, "count"),
        "spark.tasks" -> M(jobs.map(_.tasks).sum, "count"),
        "spark.executor_cpu_s" -> M(jobs.map(_.cpuNs).sum / 1e9, "s"),
        "spark.executor_run_s" -> M(jobs.map(_.runMs).sum / 1e3, "s"),
        "spark.driver_outside_jobs_s" -> M(wall - busy, "s"),
        "jvm.gc_s" -> M(Heap.gcSeconds - gc0, "s"),
        "trace.overhead_pct" -> M((untracedRate / tracedRate - 1) * 100, "%"))
      layers = (sums.flatMap { case (ph, m) => m.map { case (q, v) => s"q.$q.${ph}_s" -> M(v, "s") } } ++
        perJobs.map { case (q, v) => s"q.$q.jobs" -> M(v, "count") } ++
        sums.map { case (ph, m) => s"mix.${ph}_s" -> M(m.values.sum, "s") } ++ Seq(
        "mix.jobs" -> M(jobs.size, "count"),
        "mix.tasks" -> M(jobs.map(_.tasks).sum, "count"),
        "mix.executor_cpu_s" -> M(jobs.map(_.cpuNs).sum / 1e9, "s"),
        "mix.gc_s" -> M(jobs.map(_.gcMs).sum / 1e3, "s"),
        "mix.shuffle_mb" -> M(jobs.map(_.shuffleBytes).sum / 1e6, "MB"),
        "mix.spill_mb" -> M(jobs.map(_.spillBytes).sum / 1e6, "MB"),
        "mix.driver_outside_jobs_s" -> M(wall - busy, "s"))).toMap
    }

    Outcome(attempted, failed, failed == 0,
      endToEnd = Map(
        "setup_s" -> M(setupS, "s"),
        "heap_peak_mb" -> M(heapMb, "MB"),
        "op_rate_per_s" -> M(rate, "1/s"),
        "op_p50_ms" -> M(p50, "ms"),
        "op_p99_ms" -> M(p99, "ms")),
      perLayer = perLayer,
      named = byQuery.map { case (q, v) => s"q.$q.s" -> M(v, "s") } ++ Map(
        "mix_total_s" -> M(medians.sum, "s"),
        "mix_geomean_s" -> M(Stats.geomean(medians), "s"),
        "latency_samples" -> M(measured.size, "executions"),
        "mix_passes" -> M(measured.size.toDouble / Queries.size, "count"),
        "setup.session_s" -> M(sessionS, "s"),
        "setup.fixture_s" -> M(fixtureS, "s"),
        "failed_ratio" -> M(failed.toDouble / attempted, "ratio")),
      layers = layers)
  }

  /** Write every query's result and its oracle SQL under `out` (the
    * layout `tools/check.py` reads), plus the result hashes, for the
    * one-time recording of `expected_hashes.json`.
    */
  private def record(spark: SparkSession, dir: String, out: String): Outcome = {
    writeFixture(spark, s"$out/data")
    val hashes = Queries.map { q =>
      val df = SparkEntry.queries(q)(spark, dir)
      df.coalesce(1).write.mode("overwrite").parquet(s"$out/$q")
      q -> resultHash(df)
    }
    def obj(kv: Seq[(String, String)]) = Json.obj(kv.map { case (k, v) => k -> Json.str(v) })
    Files.write(Paths.get(out, "oracle_sql.json"),
      obj(Queries.map(q => q -> SparkEntry.oracleSql(q))).getBytes(UTF_8))
    Files.write(Paths.get(out, "hashes.json"), obj(hashes).getBytes(UTF_8))
    Outcome(Queries.size, 0, correct = true, Map.empty, Map.empty, Map.empty, Map.empty)
  }
}
