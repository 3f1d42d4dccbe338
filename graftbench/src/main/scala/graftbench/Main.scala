package graftbench

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths, StandardCopyOption}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.graftbench.Bus
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQueryListener, Trigger}

import graft.{PipelineConfig, Queries, Tables}
import graft.pipeline.LogPipeline
import graft.sources.KinesisEventSource
import graft.streaming.LogStreamJob

/** Benchmark entry point. One run = one workload:
  *
  *   set-up (repeated [[SetupReps]] times, median reported)
  *   → checked / warm-up execution (outside the timed region)
  *   → timed region of `--seconds`
  *   → output checks (outside the timed region)
  *
  * and one `RESULT {json}` line on stdout. With `--trace 1` the timed
  * region runs under spans and an engine listener instead, and the
  * per-layer metrics are reported in place of the end-to-end ones.
  */
object Main {
  val SetupReps = 3
  /** Kinesis records per `pipeline_batch` run (one batch). A run's time is
    * mostly per-file and per-job cost: half as many records take about as
    * long.
    */
  val BatchRecords = 20000
  /** Batch runs before any timed phase; the first pays the cold JIT and
    * codegen. The stream's micro-batches then warm the same code further.
    */
  val WarmBatchOps = 1
  /** The timed batch loop runs at least this many times and reports the
    * fastest. Other tenants' load on a shared host only ever slows a run,
    * and it comes in bursts of seconds to a minute: in ten runs the median
    * of three batch runs spread 0.52 (Q3 - Q1 over the median), the fastest
    * 0.20.
    */
  val MinBatchOps = 3
  /** Offered `pipeline_stream` rate, in BASELINE shards of 1,000 rec/s. */
  val StreamShards = 1
  /** The generator writes one file per tick; the trigger takes whole ticks. */
  val StreamTickMs = 250
  /** About twice the micro-batch time, so batches stay independent. */
  val StreamTriggerMs = 2000
  /** Files per trigger interval. */
  val StreamIntervalFiles = StreamTriggerMs / StreamTickMs
  /** One interval's files are in place before the stream starts: its first
    * micro-batch takes them along with the streaming engine's start-up.
    */
  val StreamStartFiles = StreamIntervalFiles
  /** Scheduled trigger intervals before the measured ones: the first
    * micro-batch after the pause that aligns the schedule to the trigger
    * runs up to twice as long as the ones after it, even after warm-up
    * batches.
    */
  val StreamWarmTriggers = 1
  /** Measured trigger intervals after the warm-up ones, whatever
    * `--seconds` is: the stream's percentiles cover this many micro-batches.
    */
  val StreamMeasuredTriggers = 8
  /** A stream run whose generator wrote its files later than this (p99)
    * behind schedule measured the host, not the program: it is not made.
    */
  val MaxLateMs = 50

  val CatalogQueries: Seq[String] = Seq(
    "q01_pricing_summary", "q37_pipeline_parse", "q44_neardup_exact", "q67_salted_join",
    "q82_gram_novelty", "q96_triangles", "q114_boilerplate_strip", "q140_stupid_backoff",
    "q149_winnow_candidates", "q156_label_propagation", "q170_dsir_importance",
    "q196_margin_mining_ann", "q202_kneser_ney")
  /** Tables each catalog query scans, for its input-rows and input-bytes rates. */
  val CatalogInputs: Map[String, Seq[String]] = Map(
    "q01_pricing_summary" -> Seq("lineitem"), "q37_pipeline_parse" -> Seq("events"),
    "q44_neardup_exact" -> Seq("documents"), "q67_salted_join" -> Seq("lineitem", "orders"),
    "q82_gram_novelty" -> Seq("documents"), "q96_triangles" -> Seq("documents"),
    "q114_boilerplate_strip" -> Seq("documents"), "q140_stupid_backoff" -> Seq("documents"),
    "q149_winnow_candidates" -> Seq("documents"), "q156_label_propagation" -> Seq("customer"),
    "q170_dsir_importance" -> Seq("documents"), "q196_margin_mining_ann" -> Seq("embeddings"),
    "q202_kneser_ney" -> Seq("documents"))

  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "rec_per_s" -> "1/s", "mib_per_s" -> "MiB/s",
    "latency_p50_ms" -> "ms", "latency_p99_ms" -> "ms", "wall_s" -> "s",
    "peak_mem_mib" -> "MiB")

  val PerLayer: Seq[(String, String)] = Seq(
    "sources.self_s" -> "s", "pipeline.decode.self_s" -> "s",
    "pipeline.parse.self_s" -> "s", "pipeline.write.self_s" -> "s",
    "pipeline.records_in" -> "count", "pipeline.payloads_out" -> "count",
    "pipeline.kept" -> "count", "pipeline.unknown_routed" -> "count",
    "pipeline.dropped" -> "count", "pipeline.kept_ratio" -> "ratio",
    "pipeline.write.files" -> "count", "pipeline.write.mib" -> "MiB",
    "pipeline.write.partitions" -> "count",
    "streaming.batches" -> "count", "streaming.rows_per_batch_p50" -> "count",
    "streaming.trigger_ms_p50" -> "ms", "streaming.add_batch_ms_p50" -> "ms",
    "streaming.latest_offset_ms_p50" -> "ms", "streaming.planning_ms_p50" -> "ms",
    "streaming.wal_commit_ms_p50" -> "ms", "streaming.commit_ms_p50" -> "ms",
    "streaming.idle_frac" -> "ratio", "streaming.backlog_records_max" -> "count",
    "streaming.drain_s" -> "s",
    "streaming.latency_samples" -> "count", "generator.late_ms_p99" -> "ms",
    "spark.jobs" -> "count", "spark.stages" -> "count", "spark.tasks" -> "count",
    "spark.driver_s" -> "s", "spark.task_cpu_s" -> "s", "spark.task_run_s" -> "s",
    "spark.shuffle_write_mib" -> "MiB", "spark.spill_mib" -> "MiB", "spark.gc_s" -> "s",
    "trace.overhead_pct" -> "%", "trace.spans" -> "count") ++
    CatalogQueries.flatMap { q =>
      Seq(s"catalog.$q.build_s" -> "s", s"catalog.$q.plan_s" -> "s",
        s"catalog.$q.exec_s" -> "s", s"catalog.$q.jobs" -> "count",
        s"catalog.$q.stages" -> "count", s"catalog.$q.shuffle_mib" -> "MiB")
    }

  /** `data` is the workload's corpus: the generator's event rows for
    * `pipeline`, the queries' tables for `catalog_core`.
    */
  final case class Opts(workload: String, seed: Long, seconds: Int, trace: Boolean,
                        work: String, data: String)

  /** What a run reports. `metrics` holds only what the run measured; the
    * rest of the reported set reads 0 (a layer this workload never runs).
    * `invalid` says why the measurement itself cannot be trusted (the
    * harness fell behind), as opposed to a failed output check.
    */
  final class Result {
    var attempted = 0L
    var failed = 0L
    val problems = mutable.ArrayBuffer.empty[String]
    val invalid = mutable.ArrayBuffer.empty[String]
    val metrics = mutable.LinkedHashMap.empty[String, Double]
    def fail(n: Long, why: String): Unit = { failed += n; problems += why }
  }

  def main(argv: Array[String]): Unit = {
    val kv = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val o = Opts(kv("workload"), kv("seed").toLong, kv("seconds").toInt, kv("trace") == "1",
      new File(kv("work")).getAbsolutePath, new File(kv("data")).getAbsolutePath)
    val r = new Result
    o.workload match {
      case "pipeline" => Pipeline.run(o, r)
      case "catalog_core" => Catalog.run(o, r)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    if (!o.trace && !r.metrics.contains("peak_mem_mib")) r.metrics("peak_mem_mib") = Mem.peakMib()
    val wanted = if (o.trace) PerLayer else EndToEnd
    val ms = wanted.map { case (n, u) =>
      s"${Gen.jsonString(n)}:{\"value\":${num(r.metrics.getOrElse(n, 0.0))},\"unit\":${Gen.jsonString(u)}}"
    }
    def list(xs: Seq[String]) = xs.map(Gen.jsonString).mkString("[", ",", "]")
    println(s"""RESULT {"attempted":${r.attempted},"failed":${r.failed},""" +
      s""""problems":${list(r.problems.toSeq)},"invalid":${list(r.invalid.toSeq)},""" +
      s""""metrics":${ms.mkString("{", ",", "}")}}""")
    System.out.flush()
    // the result is out; skip Spark's shutdown (the runner removes the
    // work directory)
    Runtime.getRuntime.halt(0)
  }

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "0" else java.math.BigDecimal.valueOf(d).toPlainString

  private val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime

  /** Log line stamped with seconds since the JVM started. */
  def log(msg: String): Unit =
    System.err.println(f"[graftbench ${(System.currentTimeMillis() - jvmStartMs) / 1e3}%6.1fs] $msg")

  /** Linear-interpolated percentile (numpy's default), `p` in [0, 100]. */
  def pct(xs: Seq[Double], p: Double): Double = {
    if (xs.isEmpty) return 0.0
    val s = xs.sorted
    val rank = p / 100.0 * (s.length - 1)
    val lo = math.floor(rank).toInt; val hi = math.ceil(rank).toInt
    s(lo) + (s(hi) - s(lo)) * (rank - lo)
  }
  def median(xs: Seq[Double]): Double = pct(xs, 50)

  def secs[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime(); val v = body; (v, (System.nanoTime() - t0) / 1e9)
  }

  def session(o: Opts): SparkSession = {
    val n = Runtime.getRuntime.availableProcessors()
    val s = SparkSession.builder()
      .master(s"local[$n]")
      .appName("graftbench")
      .config("spark.sql.shuffle.partitions", n.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", "10000")
      .config("spark.local.dir", s"${o.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${o.work}/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Run `prepare` [[SetupReps]] times, each in a fresh session; the last
    * session and preparation are kept. Reports the median as `setup_s`.
    */
  def setUp[T](o: Opts, r: Result)(prepare: SparkSession => T): (SparkSession, T) = {
    var last: (SparkSession, T) = null
    val reps = (1 to SetupReps).map { i =>
      gc()
      val t0 = System.nanoTime()
      val (spark, ds) = secs(session(o))
      val v = prepare(spark)
      val dt = (System.nanoTime() - t0) / 1e9
      if (i < SetupReps) spark.stop() else last = (spark, v)
      (dt, ds)
    }
    log("set-up times (of which session) " +
      reps.map { case (t, d) => f"$t%.3f ($d%.3f)" }.mkString(" "))
    r.metrics("setup_s") = median(reps.map(_._1))
    last
  }

  def rmrf(path: String): Unit = {
    val f = new File(path)
    if (f.exists()) {
      Files.walk(f.toPath).sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]()).iterator().asScala
        .foreach(p => Files.deleteIfExists(p))
    }
  }

  def eventRows(spark: SparkSession, data: String): IndexedSeq[EventRow] =
    Tables(spark, data, "events")
      .select(col("event_id"), coalesce(col("user_id"), lit(0L)),
        coalesce(col("event_type"), lit("")), coalesce(col("value"), lit(0.0)),
        coalesce(col("props"), lit("")))
      .orderBy(col("event_id"))
      .collect().toIndexedSeq
      .map(r => EventRow(r.getLong(0), r.getLong(1), r.getString(2), r.getDouble(3), r.getString(4)))

  def gc(): Unit = { System.gc(); Thread.sleep(50) }

  /** Engine-layer metrics for one traced region. */
  def engineMetrics(r: Result, l: EngineListener, before: Array[Long], after: Array[Long],
                    wallMs: (Long, Long), gcS: Double): Unit = {
    val d = after.zip(before).map { case (a, b) => (a - b).toDouble }
    r.metrics("spark.jobs") = d(0)
    r.metrics("spark.stages") = d(1)
    r.metrics("spark.tasks") = d(2)
    r.metrics("spark.task_cpu_s") = d(3) / 1e9
    r.metrics("spark.task_run_s") = d(4) / 1e3
    r.metrics("spark.shuffle_write_mib") = d(5) / (1 << 20)
    r.metrics("spark.spill_mib") = d(6) / (1 << 20)
    r.metrics("spark.gc_s") = gcS
    val (from, to) = wallMs
    r.metrics("spark.driver_s") = ((to - from) - l.jobCoveredMs(from, to)) / 1e3
  }

  def jvmGcSeconds(): Double =
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum / 1e3

  /** Attach a listener + trace for a traced region. */
  def traced(spark: SparkSession, o: Opts): (Trace, EngineListener) = {
    val t = new Trace(s"${o.workload}-${o.seed}-${ProcessHandle.current().pid()}")
    val l = new EngineListener(t)
    spark.sparkContext.addSparkListener(l)
    (t, l)
  }

  def finishTrace(spark: SparkSession, o: Opts, r: Result, t: Trace, l: EngineListener): Unit = {
    Bus.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(l)
    val path = s"${o.work}/spans-${o.workload}.jsonl"
    t.writeJsonl(path)
    r.metrics("trace.spans") = t.all.size.toDouble
    val self = t.selfSeconds.toSeq.sortBy(-_._2)
    val total = self.map(_._2).sum
    log(s"spans written to $path")
    log(f"${"span"}%-44s ${"count"}%6s ${"self_s"}%9s ${"share"}%7s")
    val counts = t.all.groupBy(_.name).map { case (k, v) => k -> v.size }
    self.foreach { case (n, s) =>
      log(f"$n%-44s ${counts(n)}%6d $s%9.3f ${if (total > 0) 100 * s / total else 0.0}%6.1f%%")
    }
  }
}

// ---------------------------------------------------------------------------

/** Shared pieces of the pipeline's stream and batch phases. */
object PipelineCommon {
  val cfg: PipelineConfig = PipelineConfig(whitelist = Gen.Whitelist)

  def writeLines(path: String, lines: Iterator[String]): Long = {
    val tmp = Paths.get(new File(path).getParent, "." + new File(path).getName + ".tmp")
    val w = Files.newBufferedWriter(tmp, UTF_8)
    var bytes = 0L
    try lines.foreach { l => w.write(l); w.write('\n'); bytes += l.length + 1 } finally w.close()
    Files.move(tmp, Paths.get(path), StandardCopyOption.ATOMIC_MOVE)
    bytes
  }

  /** Lines per `log_type/month/day` prefix of a pipeline output root, as
    * count and order-free digest, read back from the gzip part files.
    */
  def readOutput(outRoot: String): Map[String, PrefixSum] = {
    val base = Paths.get(outRoot, cfg.pathPrefix)
    if (!Files.exists(base)) return Map.empty
    val files = Files.walk(base).iterator().asScala
      .filter(p => Files.isRegularFile(p))
      .filter { p => val n = p.getFileName.toString; !n.startsWith(".") && !n.startsWith("_") }
      .toSeq
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      Runtime.getRuntime.availableProcessors())
    try {
      val futures = files.map { p =>
        pool.submit(new java.util.concurrent.Callable[(String, PrefixSum)] {
          def call(): (String, PrefixSum) = {
            val rel = base.relativize(p.getParent).iterator().asScala.map(_.toString)
              .map(s => s.substring(s.indexOf('=') + 1)).mkString("/")
            val in = new java.util.zip.GZIPInputStream(Files.newInputStream(p), 1 << 16)
            val bytes = try in.readAllBytes() finally in.close()
            var count = 0L; var digest = 0L; var start = 0; var i = 0
            while (i < bytes.length) {
              if (bytes(i) == '\n') {
                count += 1; digest += Gen.hash64(bytes, start, i); start = i + 1
              }
              i += 1
            }
            rel -> PrefixSum(count, digest)
          }
        })
      }
      futures.map(_.get()).groupBy(_._1).map { case (k, v) => k -> v.map(_._2).reduce(_ + _) }
    } finally pool.shutdown()
  }

  /** Number of prefixes whose lines differ from the expectation. */
  def mismatches(expected: Map[String, PrefixSum], actual: Map[String, PrefixSum]): Int =
    (expected.keySet ++ actual.keySet).count(k => expected.get(k) != actual.get(k))

  def outputStats(outRoot: String): (Int, Double, Int) = {
    val base = Paths.get(outRoot, cfg.pathPrefix)
    val files = Files.walk(base).iterator().asScala.filter(Files.isRegularFile(_))
      .filter(_.getFileName.toString.endsWith(".gz")).toSeq
    (files.size, files.map(Files.size(_)).sum.toDouble / (1 << 20),
      files.map(_.getParent).distinct.size)
  }
}

// ---------------------------------------------------------------------------

/** `pipeline`: the Kinesis→gzip path, used two ways in one JVM.
  *
  *   stream open-loop `LogStreamJob` for [[Main.StreamMeasuredTriggers]]
  *          trigger intervals of offered load after a start-up micro-batch
  *          and [[Main.StreamWarmTriggers]] warm-up intervals
  *          (per-record latency, drain);
  *   batch  closed-loop `LogPipeline.run` for `--seconds` and at least
  *          [[Main.MinBatchOps]] runs (throughput, time per batch).
  */
object Pipeline {
  import Main._
  import PipelineCommon._

  def run(o: Opts, r: Result): Unit = {
    val root = s"${o.work}/pipeline"
    val rate = StreamShards * 1000
    val perFile = rate * StreamTickMs / 1000
    val nFiles = StreamStartFiles + (StreamWarmTriggers + StreamMeasuredTriggers) * StreamIntervalFiles
    val ms = (i: Int) => i * 1000.0 / rate
    val (spark, (in, stream)) = setUp(o, r) { spark =>
      rmrf(root)
      new File(s"$root/in").mkdirs()
      val rows = eventRows(spark, o.data)
      val (recs, comp) = Gen.generate(rows, BatchRecords, o.seed, ms)
      val nIn = Runtime.getRuntime.availableProcessors() * 2
      val per = (recs.length + nIn - 1) / nIn
      var bytes = 0L
      recs.grouped(per).zipWithIndex.foreach { case (g, k) =>
        bytes += writeLines(f"$root/in/part-$k%03d.json", Gen.lambdaEvents(g.toSeq, k.toLong * per))
      }
      val stream = Gen.generate(rows, perFile * nFiles, o.seed + 1, ms)
      (PipelineBatch.Input(s"$root/in", comp, bytes), PipelineStream.Prepared(stream._1, stream._2))
    }
    log(s"composition: ${in.comp.copy(prefixes = Map.empty)} prefixes=${in.comp.prefixes.size}")

    // checked warm-up runs outside the timed region
    PipelineBatch.loop(spark, o, r, in, root, 0, None, WarmBatchOps)
    if (!o.trace) {
      Mem.start()
      // the stream first: its micro-batches run the same decode, parse and
      // write code, so the timed batch runs after it start from a warm JIT
      val plain = PipelineStream.once(spark, r, stream, s"$root/stream", rate, perFile, nFiles, None)
      val times = PipelineBatch.loop(spark, o, r, in, root, o.seconds.toDouble, None, MinBatchOps)
      r.metrics("rec_per_s") = BatchRecords / times.min
      r.metrics("mib_per_s") = in.bytes / (1 << 20).toDouble / times.min
      r.metrics("wall_s") = times.min
      r.metrics("latency_p50_ms") = median(plain.latMs)
      r.metrics("latency_p99_ms") = pct(plain.latMs, 99)
    } else {
      val tl @ (t, l) = traced(spark, o)
      val before = l.snapshot; val gc0 = jvmGcSeconds(); val w0 = System.currentTimeMillis()
      PipelineBatch.traceLayers(spark, o, r, in, root, t)
      val s = t.span("streaming.run")(
        PipelineStream.once(spark, r, stream, s"$root/stream", rate, perFile, nFiles, Some(tl)))
      Bus.drain(spark.sparkContext)
      engineMetrics(r, l, before, l.snapshot, (w0, System.currentTimeMillis()), jvmGcSeconds() - gc0)
      def p50(key: String) = median(s.batches.map(_.ms(key)))
      r.metrics("streaming.batches") = s.batches.size
      r.metrics("streaming.rows_per_batch_p50") =
        median(s.batches.map(b => s.recsPerBatch.getOrElse(b.batchId, 0L).toDouble))
      r.metrics("streaming.trigger_ms_p50") = p50("triggerExecution")
      r.metrics("streaming.add_batch_ms_p50") = p50("addBatch")
      r.metrics("streaming.latest_offset_ms_p50") = p50("latestOffset")
      r.metrics("streaming.planning_ms_p50") = p50("queryPlanning")
      r.metrics("streaming.wal_commit_ms_p50") = p50("walCommit")
      r.metrics("streaming.commit_ms_p50") = p50("commitOffsets")
      val busyMs = s.batches.map(b => b.commitMs - b.startMs).sum
      r.metrics("streaming.idle_frac") = if (s.span > 0) 1 - busyMs / 1e3 / s.span else 0.0
      r.metrics("streaming.backlog_records_max") = (s.backlog :+ 0.0).max
      r.metrics("streaming.drain_s") = s.drain
      r.metrics("streaming.latency_samples") = s.latMs.size
      r.metrics("generator.late_ms_p99") = pct(s.lateMs, 99)
      finishTrace(spark, o, r, t, l)
    }
  }
}

// ---------------------------------------------------------------------------

/** Closed-loop `LogPipeline.run` over one Lambda-event input of
  * [[Main.BatchRecords]] Kinesis records.
  */
object PipelineBatch {
  import Main._
  import PipelineCommon._

  final case class Input(dir: String, comp: Composition, bytes: Long)

  /** Closed loop for `seconds` and at least `minOps` ops: each op is one
    * full run into a fresh output root, checked after the loop. Returns
    * per-op seconds.
    */
  def loop(spark: SparkSession, o: Opts, r: Result, in: Input, root: String,
           seconds: Double, t: Option[Trace], minOps: Int = 1): Seq[Double] = {
    val times = mutable.ArrayBuffer.empty[Double]
    var spent = 0.0; var k = 0
    while (spent < seconds || times.size < minOps) {
      val out = s"$root/out-$k"
      gc()
      val (_, dt) = secs {
        def body(): Unit = {
          val src = t.fold(KinesisEventSource.readLambdaEventFile(spark, in.dir))(
            _.span("sources.read")(KinesisEventSource.readLambdaEventFile(spark, in.dir)))
          LogPipeline.run(src, cfg, out)
        }
        t.fold(body())(_.span("pipeline.run")(body()))
      }
      r.attempted += 1
      times += dt; spent += dt; k += 1
    }
    (0 until k).foreach { i =>
      verify(r, in.comp, s"$root/out-$i", s"run $i"); rmrf(s"$root/out-$i")
    }
    log(f"runs: ${times.map(t => f"$t%.3f").mkString(" ")}")
    times.toSeq
  }

  def verify(r: Result, comp: Composition, out: String, what: String): Unit = {
    val bad = mismatches(comp.prefixes, readOutput(out))
    if (bad > 0) r.fail(1, s"$what: $bad prefixes differ")
  }

  /** Traced run: batch ops traced and untraced in ABBA order (tracing
    * overhead without a warm-up bias), then self time per layer by
    * cumulative-prefix materialization and the stage counts against the
    * generator.
    */
  def traceLayers(spark: SparkSession, o: Opts, r: Result, in: Input, root: String,
                  t: Trace): Unit = {
    // the runs after the checked one still speed up as the JIT warms,
    // faster than ABBA order can cancel
    loop(spark, o, r, in, root, 0, None, 2)
    val abba = Seq(true, false, false, true)
    val ops = abba.map(on => on -> loop(spark, o, r, in, root, 0, if (on) Some(t) else None).head)
    def mean(on: Boolean) = ops.collect { case (`on`, s) => s }.sum / 2
    r.metrics("trace.overhead_pct") = 100 * (mean(true) / mean(false) - 1)

    def src = KinesisEventSource.readLambdaEventFile(spark, in.dir)
    def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
    def timed(name: String)(body: => Unit): Double = { gc(); t.span(name)(secs(body)._2) }
    val tSrc = timed("prefix.source")(noop(src))
    val tDec = timed("prefix.decode")(noop(LogPipeline.decode(src)))
    val tPar = timed("prefix.parse")(noop(LogPipeline.parse(LogPipeline.decode(src), cfg)))
    val out = s"$root/layers"
    var k = 0
    val tRun = timed("prefix.run") {
      LogPipeline.run(src, cfg, s"$out-$k"); k += 1
    }
    r.metrics("sources.self_s") = tSrc
    r.metrics("pipeline.decode.self_s") = tDec - tSrc
    r.metrics("pipeline.parse.self_s") = tPar - tDec
    r.metrics("pipeline.write.self_s") = tRun - tPar
    val (files, mib, parts) = outputStats(s"$out-0")
    r.metrics("pipeline.write.files") = files
    r.metrics("pipeline.write.mib") = mib
    r.metrics("pipeline.write.partitions") = parts
    (0 until k).foreach(i => rmrf(s"$out-$i"))

    // stage counts (untimed) against the generator's composition
    val dec = LogPipeline.decode(src)
    val parsed = LogPipeline.parse(dec, cfg)
    val counts = parsed.groupBy(col("kept"), col("route") === Gen.UnknownRoute).count()
      .collect().map(x => (x.getBoolean(0), x.getBoolean(1)) -> x.getLong(2)).toMap
    val got = Map(
      "records_in" -> src.count(), "payloads_out" -> dec.count(),
      "kept" -> counts.collect { case ((true, _), n) => n }.sum,
      "unknown_routed" -> counts.getOrElse((true, true), 0L),
      "dropped" -> counts.collect { case ((false, _), n) => n }.sum)
    val want = Map("records_in" -> in.comp.recordsIn, "payloads_out" -> in.comp.payloadsOut,
      "kept" -> in.comp.kept, "unknown_routed" -> in.comp.unknownRouted,
      "dropped" -> in.comp.dropped)
    got.foreach { case (k, v) => r.metrics(s"pipeline.$k") = v.toDouble }
    r.metrics("pipeline.kept_ratio") = got("kept").toDouble / got("payloads_out")
    want.foreach { case (k, v) =>
      if (got(k) != v) r.fail(1, s"pipeline.$k = ${got(k)}, generator expects $v")
    }
  }
}

// ---------------------------------------------------------------------------

/** Open loop: a generator thread writes one Lambda-event file every
  * [[Main.StreamTickMs]] at [[Main.StreamShards]] × 1,000 rec/s into a
  * directory read by `KinesisEventSource.streamLambdaEventDir` →
  * `LogStreamJob.start` on a `ProcessingTime` trigger with a checkpoint.
  */
object PipelineStream {
  import Main._
  import PipelineCommon._

  final case class Progress(batchId: Long, startMs: Long, durations: Map[String, Long],
                            inputRows: Long) {
    def commitMs: Long = startMs + durations.getOrElse("triggerExecution", 0L)
    def ms(key: String): Double = durations.getOrElse(key, 0L).toDouble
  }

  final case class Prepared(recs: Array[KRecord], comp: Composition)

  /** One stream run, reduced to what the metrics need. Only records after
    * the start files and [[StreamWarmTriggers]] intervals are measured;
    * `batches` are the micro-batches that hold them. At each of their commits,
    * `backlog` samples the records scheduled but not yet committed and
    * `drainMs` the time since the batch's last scheduled record.
    */
  final case class Stats(latMs: Seq[Double], batches: Seq[Progress], recsPerBatch: Map[Long, Long],
                         lateMs: Seq[Double], backlog: Seq[Double], drainMs: Seq[Double],
                         lastCommit: Double) {
    def span: Double = batches.headOption.fold(0.0)(b => (lastCommit - b.startMs) / 1e3)
    /** Median over the measured batches: one batch alone is too noisy. */
    def drain: Double = median(drainMs) / 1e3
  }

  /** Start the job, feed it on schedule, wait until every file is
    * committed, stop it and check its output.
    */
  def once(spark: SparkSession, r: Result, prep: Prepared, root: String, rate: Int,
           perFile: Int, nFiles: Int, tl: Option[(Trace, EngineListener)]): Stats = {
    def span[T](name: String)(body: => T): T = tl.fold(body)(_._1.span(name)(body))
    val progress = new java.util.concurrent.ConcurrentLinkedQueue[Progress]()
    val listener = new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
        val p = e.progress
        progress.add(Progress(p.batchId, java.time.Instant.parse(p.timestamp).toEpochMilli,
          p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap, p.numInputRows))
      }
    }
    spark.streams.addListener(listener)
    val inDir = s"$root/in"; val out = s"$root/out"; val ckpt = s"$root/ckpt"
    new File(inDir).mkdirs()
    val start = StreamStartFiles
    val warm = start + StreamWarmTriggers * StreamIntervalFiles
    def records(k: Int, created: KRecord => Double) =
      prep.recs.slice(k * perFile, (k + 1) * perFile).toSeq.map(x => x.copy(createdMs = created(x)))
    // the start files are in place before the query starts: its first
    // micro-batch takes them along with the streaming engine's start-up
    val startAt = System.currentTimeMillis().toDouble
    (0 until start).foreach { k =>
      writeLines(f"$inDir/f-$k%06d.json", Gen.lambdaEvents(records(k, _ => startAt), k.toLong * perFile))
    }
    val query = span("streaming.start") {
      val src = span("sources.stream")(KinesisEventSource.streamLambdaEventDir(spark, inDir))
      LogStreamJob.start(src, cfg, out, ckpt, Trigger.ProcessingTime(StreamTriggerMs))
    }
    // Lambda events (input rows) per file
    val linesPerFile = (perFile + Gen.RecordsPerEvent - 1) / Gen.RecordsPerEvent
    def await(files: Int, timeoutMs: Long): Unit = {
      val deadline = System.currentTimeMillis() + timeoutMs
      while (progress.asScala.map(_.inputRows).sum < files.toLong * linesPerFile &&
        System.currentTimeMillis() < deadline && query.exception.isEmpty) Thread.sleep(20)
    }
    await(start, 60000)
    // absolute schedule from the next trigger on: record i after the start
    // files is created at t0 + (i - first)/rate; file k is written when its
    // last record is due. Processing-time triggers fire on multiples of the
    // interval. With T a trigger time and t0 half a tick before it, the
    // files of interval j land at T + j*interval + tick/2, + 3*tick/2, ...,
    // half a tick clear of both triggers, so the trigger at
    // T + (j+1)*interval takes exactly the files of interval j.
    val t0 = ((System.currentTimeMillis() + 500) / StreamTriggerMs + 1) * StreamTriggerMs -
      StreamTickMs / 2
    val first = prep.recs(start * perFile).createdMs
    def created(i: Int): Double = t0 + prep.recs(i).createdMs - first
    val files = (start until nFiles).map { k =>
      (Gen.lambdaEvents(records(k, x => t0 + x.createdMs - first), k.toLong * perFile).toVector,
        t0 + (k - start + 1).toLong * StreamTickMs)
    }
    val late = new Array[Double](files.size)
    val writer = new Thread(() => {
      files.zipWithIndex.foreach { case ((lines, due), j) =>
        var now = System.currentTimeMillis()
        while (now < due) { Thread.sleep(math.min(due - now, 20L).max(1L)); now = System.currentTimeMillis() }
        writeLines(f"$inDir/f-${start + j}%06d.json", lines.iterator)
        late(j) = (System.currentTimeMillis() - due).toDouble
      }
    }, "graftbench-generator")
    writer.start()
    writer.join()
    await(nFiles, 30000)
    query.stop()
    spark.streams.removeListener(listener)
    query.exception.foreach(e => r.fail(1, s"stream failed: ${e.getMessage}"))

    // file -> micro-batch from the source log, commit time from progress
    val all = progress.asScala.toSeq.filter(_.inputRows > 0).sortBy(_.batchId)
    r.attempted += all.size
    val commit = all.map(p => p.batchId -> p.commitMs).toMap
    val fileBatch = sourceLog(s"$ckpt/sources/0")
    val lat = mutable.ArrayBuffer.empty[Double]
    val recsPerBatch = mutable.HashMap.empty[Long, Long].withDefaultValue(0L)
    val lastRecord = mutable.HashMap.empty[Long, Double]
    val missing = (0 until nFiles).filterNot { k =>
      fileBatch.get(f"f-$k%06d.json").filter(commit.contains) match {
        case Some(b) =>
          recsPerBatch(b) += perFile
          if (k >= warm) {
            lastRecord(b) = lastRecord.getOrElse(b, 0.0) max created((k + 1) * perFile - 1)
            val c = commit(b); var i = k * perFile
            while (i < (k + 1) * perFile) { lat += c - created(i); i += 1 }
          }
          true
        case None => false
      }
    }
    if (missing.nonEmpty) r.fail(1, s"${missing.size} input files never committed")
    val bad = mismatches(prep.comp.prefixes, readOutput(out))
    if (bad > 0) r.fail(1, s"stream output: $bad prefixes differ")
    val lastCommit = fileBatch.get(f"f-${nFiles - 1}%06d.json").flatMap(commit.get)
      .getOrElse(System.currentTimeMillis()).toDouble
    // records scheduled but not yet committed, sampled at each commit
    val startRecs = start * perFile
    var done = 0L
    val backlog = all.map { p =>
      done += recsPerBatch(p.batchId)
      p.batchId -> (startRecs + ((p.commitMs - t0) * rate / 1000.0).max(0)
        .min((prep.recs.length - startRecs).toDouble) - done)
    }.toMap
    val measured = all.filter(p => lastRecord.contains(p.batchId))
    val s = Stats(lat.toSeq, measured, recsPerBatch.toMap, late.toSeq,
      measured.map(p => backlog(p.batchId)), measured.map(p => p.commitMs - lastRecord(p.batchId)),
      lastCommit)
    log("stream batches (start offset ms/trigger ms/records): " + all.map(p =>
      s"${p.startMs - t0.toLong}/${p.ms("triggerExecution").toLong}/${recsPerBatch(p.batchId)}").mkString(" "))
    log(f"stream: measured batches=${measured.size} p50=${median(s.latMs)}%.1f p99=${pct(s.latMs, 99)}%.1f " +
      f"drain=${s.drain}%.3f late_p99=${pct(s.lateMs, 99)}%.1f backlog_max=${(s.backlog :+ 0.0).max}%.0f")
    checkHealth(r, s, perFile * (StreamTriggerMs / StreamTickMs))
    rmrf(root)
    s
  }

  /** The stream numbers hold only if the generator kept its schedule and
    * the job kept up with it. The commit-time backlog jitters by the batch
    * duration from one commit to the next, so growth compares the median of
    * the first and the last third of the measured commits and allows half a
    * trigger interval's records: a job that falls behind adds a whole
    * interval's records per missed trigger.
    */
  def checkHealth(r: Result, s: Stats, perTrigger: Int): Unit = {
    val late = pct(s.lateMs, 99)
    if (late > MaxLateMs)
      r.invalid += f"generator late p99 $late%.1f ms > $MaxLateMs ms: the host could not keep the schedule"
    val third = s.backlog.size / 3
    if (third > 0) {
      val growth = median(s.backlog.takeRight(third)) - median(s.backlog.take(third))
      if (growth > perTrigger / 2)
        r.invalid += f"stream backlog grew by $growth%.0f records over the run: offered rate not sustained"
    }
  }

  /** File name → batch id, from a file-stream source log (plain and
    * `.compact` entries).
    */
  def sourceLog(dir: String): Map[String, Long] = {
    val entry = """"path":"([^"]*)".*"batchId":(\d+)""".r.unanchored
    Option(new File(dir).listFiles()).getOrElse(Array.empty[File])
      .filter(f => f.isFile && !f.getName.startsWith("."))
      .flatMap(f => Files.readAllLines(f.toPath, UTF_8).asScala)
      .collect { case entry(p, b) => p.substring(p.lastIndexOf('/') + 1) -> b.toLong }
      .toMap
  }
}

// ---------------------------------------------------------------------------

/** `catalog_core`: the 13 fixed catalog queries, each built and executed
  * into a noop sink; a checked pass over the same corpus (parquet outputs,
  * compared against the DuckDB oracle by the runner) runs first and
  * doubles as warm-up.
  */
object Catalog {
  import Main._

  def parquetRows(spark: SparkSession, path: String): Long = {
    val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
      new org.apache.hadoop.fs.Path(path), spark.sparkContext.hadoopConfiguration)
    val reader = org.apache.parquet.hadoop.ParquetFileReader.open(in)
    try reader.getRecordCount finally reader.close()
  }

  def run(o: Opts, r: Result): Unit = {
    val root = s"${o.work}/catalog"
    rmrf(root)
    val byName = Queries.all.map(q => q.name -> q).toMap
    val qs = CatalogQueries.map(byName)
    val tables = CatalogInputs.values.flatten.toSeq.distinct
    val (spark, inputs) = setUp(o, r) { spark =>
      tables.map { t =>
        val path = s"${o.data}/$t.parquet"
        Tables(spark, o.data, t)
        t -> (parquetRows(spark, path), new File(path).length())
      }.toMap
    }

    // checked pass (parquet outputs + oracle SQL for the runner); it also
    // warms codegen and the JIT for the timed pass
    new File(root).mkdirs()
    // the untimed pass runs its queries on parallel threads: most of its
    // cost is per-query compilation, which then overlaps
    val checkFailed = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      Runtime.getRuntime.availableProcessors())
    val (_, checkS) = secs {
      qs.map { q =>
        pool.submit(new Runnable {
          def run(): Unit =
            try {
              val (_, dt) = secs(q.build(spark, o.data).write.mode("overwrite")
                .parquet(s"$root/check/${q.name}"))
              log(f"checked ${q.name} ${dt}%.1fs")
            }
            catch { case e: Throwable => checkFailed.add(q.name); log(s"${q.name} failed: ${e.getMessage}") }
        })
      }.foreach(_.get())
    }
    pool.shutdown()
    graft.ops.Caches.drainAll(spark)
    gc()
    log(f"checked pass ${checkS}%.1fs")
    val oracle = (qs.flatMap(q => q.oracle.map(q.name -> _)) ++
      byName("q191_margin_mining").oracle.map("q191_margin_mining" -> _))
      .map { case (k, v) => s"${Gen.jsonString(k)}:${Gen.jsonString(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$root/oracle_sql.json"), oracle)

    /** One timed execution. Caches are drained and the heap collected after
      * it, so the next one starts clean.
      */
    def once(q: Queries.Q, t: Option[(Trace, EngineListener)]): Double = {
      val (_, dt) = secs {
        t match {
          case None =>
            q.build(spark, o.data).write.format("noop").mode("overwrite").save()
          case Some((tr, _)) =>
            tr.span(s"catalog.${q.name}") {
              val df = tr.span(s"catalog.${q.name}.build")(q.build(spark, o.data))
              tr.span(s"catalog.${q.name}.plan")(df.queryExecution.executedPlan)
              tr.span(s"catalog.${q.name}.exec")(df.write.format("noop").mode("overwrite").save())
            }
        }
      }
      graft.ops.Caches.drainAll(spark)
      gc()
      dt
    }

    checkFailed.asScala.foreach(q => r.fail(1, s"$q: checked pass failed"))
    def attempt(q: Queries.Q)(body: => Double): Option[Double] = {
      r.attempted += 1
      try Some(body) catch { case e: Throwable => r.fail(1, s"${q.name}: ${e.getMessage}"); None }
    }

    if (!o.trace) {
      // memory per query execution, each lap closed by the collection after
      // it: a median over executions, as the peak of the whole pass is the
      // one collection that happened to catch the most in-flight data
      Mem.start()
      val laps = mutable.ArrayBuffer.empty[Double]
      val samples = mutable.LinkedHashMap(qs.map(_.name -> mutable.ArrayBuffer.empty[Double]): _*)
      val start = System.nanoTime()
      var passes = 0
      while (passes == 0 || (System.nanoTime() - start) / 1e9 < o.seconds) {
        qs.foreach { q =>
          samples(q.name) ++= attempt(q)(once(q, None))
          laps += Mem.lap()
        }
        passes += 1
      }
      val per = samples.map { case (k, v) => k -> median(v.toSeq) }
      log(s"passes=$passes " + per.map { case (k, v) => f"$k=$v%.3f" }.mkString(" "))
      val wall = per.values.sum
      val rows = qs.map(q => CatalogInputs(q.name).map(inputs(_)._1).sum).sum.toDouble
      val bytes = qs.map(q => CatalogInputs(q.name).map(inputs(_)._2).sum).sum.toDouble
      r.metrics("wall_s") = wall
      r.metrics("rec_per_s") = rows / wall
      r.metrics("mib_per_s") = bytes / (1 << 20) / wall
      r.metrics("latency_p50_ms") = median(per.values.toSeq) * 1e3
      r.metrics("latency_p99_ms") = pct(per.values.toSeq, 99) * 1e3
      r.metrics("peak_mem_mib") = median(laps.toSeq)
      log(f"memory per query MiB: median ${median(laps.toSeq)}%.1f max ${laps.max}%.1f")
    } else {
      // each query untraced and traced, alternating which goes first, so
      // the overhead estimate carries no warm-up bias
      val tl @ (t, l) = traced(spark, o)
      val before = l.snapshot; val gc0 = jvmGcSeconds(); val w0 = System.currentTimeMillis()
      var tracedWall = 0.0; var wall = 0.0
      qs.zipWithIndex.foreach { case (q, i) =>
        if (i % 2 == 1) wall += attempt(q)(once(q, None)).getOrElse(0.0)
        val s0 = l.snapshot
        tracedWall += attempt(q)(once(q, Some(tl))).getOrElse(0.0)
        Bus.drain(spark.sparkContext)
        val d = l.snapshot.zip(s0).map { case (a, b) => (a - b).toDouble }
        r.metrics(s"catalog.${q.name}.jobs") = d(0)
        r.metrics(s"catalog.${q.name}.stages") = d(1)
        r.metrics(s"catalog.${q.name}.shuffle_mib") = d(5) / (1 << 20)
        if (i % 2 == 0) wall += attempt(q)(once(q, None)).getOrElse(0.0)
      }
      engineMetrics(r, l, before, l.snapshot, (w0, System.currentTimeMillis()), jvmGcSeconds() - gc0)
      val self = t.all.groupBy(_.name).map { case (k, v) => k -> v.map(_.seconds).sum }
      qs.foreach { q =>
        Seq("build", "plan", "exec").foreach { p =>
          r.metrics(s"catalog.${q.name}.${p}_s") = self.getOrElse(s"catalog.${q.name}.$p", 0.0)
        }
      }
      r.metrics("trace.overhead_pct") = 100 * (tracedWall / wall - 1)
      finishTrace(spark, o, r, t, l)
    }
  }
}
