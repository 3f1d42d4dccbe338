package graft

/** Benchmark main: runs every catalog query on SPARK_GRAFT_SF_DIR, prints
  * one JSON line. A failed query is recorded as -1 so it can never inflate
  * the total while looking healthy.
  *
  * Isolation (r7): repetitions are INTERLEAVED, not back-to-back — the run
  * is 3 full passes over the catalog, each pass in a different
  * deterministically-seeded shuffle order, with a System.gc() between
  * queries. Rationale: r6 ran 132 queries x3 back-to-back in lexicographic
  * order, which put the heavy q113-q131 family early and made mid-catalog
  * queries measure GC/heap pressure from their fixed neighbors — untouched
  * queries "regressed" up to 6x vs r5 on identical bytecode. Shuffling
  * per-pass gives each query three different neighborhoods, so the median
  * reflects the query, not its lexicographic neighbor; the explicit GC
  * drains the previous query's garbage before the clock starts. Seeds are
  * fixed (pass index) so runs stay reproducible.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = SparkEntry.session(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)

    // Execute via a noop-format write, not count(): under count() Catalyst's
    // EliminateSorts removes every terminal ORDER BY, so the bench would
    // silently skip the final sorts that Verify (a real parquet write) pays.
    def run(q: Queries.Q): Unit =
      q.build(spark, sfDir).write.format("noop").mode("overwrite").save()

    // dev-iteration knobs (the driver sets neither): restrict to name
    // prefixes and/or change the pass count, so a 3-query GC/variance
    // experiment doesn't pay the full 240-query catalog
    val onlyPrefixes = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").toSeq.filter(_.nonEmpty)).getOrElse(Nil)
    val ordered = Queries.all.sortBy(_.name)
      .filter(q => onlyPrefixes.isEmpty || onlyPrefixes.exists(q.name.startsWith))
    // warm the JVM + parquet footers once so per-query numbers measure the
    // query, not first-touch classloading
    ordered.headOption.foreach { q =>
      try run(q) catch { case _: Throwable => () }
    }

    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "target/bench.json")
    val passes = sys.env.get("SPARK_GRAFT_BENCH_PASSES").map(_.toInt).getOrElse(3)

    // Fixed-work CPU calibration, run before every pass: a deterministic
    // xorshift spin on one thread and on every core at once. Pure JVM
    // arithmetic — no Spark, no allocation, no I/O — so its wall time
    // moves ONLY when the machine itself does (host contention, frequency
    // scaling, steal). r8 measured three identical-code bench runs at
    // 146/176/183 s total with the per-query offset flat across untouched
    // queries; these numbers make that environmental drift measurable so
    // cross-run comparisons can be read modulo calibration.
    def spin(iters: Long): Long = {
      var x = 0x9e3779b97f4a7c15L; var i = 0L
      while (i < iters) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; i += 1 }
      x
    }
    def calibrate(): (Double, Double) = {
      val work = 400000000L
      val t0 = System.nanoTime(); spin(work)
      val single = (System.nanoTime() - t0) / 1e9
      val n = Runtime.getRuntime.availableProcessors()
      val t1 = System.nanoTime()
      val ts = (1 to n).map(_ => new Thread(() => { spin(work); () }))
      ts.foreach(_.start()); ts.foreach(_.join())
      val multi = (System.nanoTime() - t1) / 1e9
      (single, multi)
    }
    val calibrations = scala.collection.mutable.ArrayBuffer.empty[(Double, Double)]
    // samples so far per query; an empty vector after a pass means FAILED
    val samples = scala.collection.mutable.Map.empty[String, Vector[Double]]
    val failed = scala.collection.mutable.Set.empty[String]

    // ---- shuffle/spill annex (r10) ----
    // The r9 official bench degraded the LM family 10-40x with nothing in
    // the artifact to attribute it; these per-query task-metric deltas
    // (shuffle write/read, memory/disk spill bytes) make "which queries
    // carry shuffle+spill surface" READABLE from BENCH_r{N}.json itself.
    // Listener events are asynchronous — the snapshot is taken after the
    // wall clock stops and the next query's Caches.drainAll + System.gc
    // gives stragglers time to land, so attribution error is at most a few
    // straggler tasks, fine for an order-of-magnitude annex.
    // [0..3] additive byte counters; [4] task-GC ms (additive); plus a
    // separate max-tracker for per-task peak execution memory. r10 proved
    // spill is zero everywhere, so the residual-variance suspects (GC and
    // execution-memory pressure) get their own columns (r11).
    val ioAcc = new java.util.concurrent.atomic.AtomicLongArray(7)
    val peakMemAcc = new java.util.concurrent.atomic.AtomicLong(0L)
    val benchListener = new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(
          t: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
        val m = t.taskMetrics
        if (m != null) {
          ioAcc.addAndGet(0, m.shuffleWriteMetrics.bytesWritten)
          ioAcc.addAndGet(1, m.shuffleReadMetrics.totalBytesRead)
          ioAcc.addAndGet(2, m.memoryBytesSpilled)
          ioAcc.addAndGet(3, m.diskBytesSpilled)
          ioAcc.addAndGet(4, m.jvmGCTime)
          ioAcc.addAndGet(5, m.executorRunTime)
          ioAcc.addAndGet(6, m.executorCpuTime / 1000000L)
          peakMemAcc.accumulateAndGet(m.peakExecutionMemory, Math.max)
        }
      }
    }
    spark.sparkContext.addSparkListener(benchListener)
    // whole-JVM GC time (driver + executor threads share one JVM in local
    // mode) — the task-attributed jvmGCTime misses driver-side collection
    val gcBeans = java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
    def jvmGcMs(): Long = {
      var s = 0L; val it = gcBeans.iterator()
      while (it.hasNext) { val t = it.next().getCollectionTime; if (t > 0) s += t }
      s
    }
    // Janino compilations since JVM start: a pass-2+ nonzero delta means
    // the codegen cache MISSED and the JIT starts cold on a fresh class —
    // the compile-tier lottery behind the residual gram-family variance
    def nCompiles(): Long =
      org.apache.spark.metrics.source.CodegenMetrics
        .METRIC_COMPILATION_TIME.getCount
    def ioSnap(): Array[Long] =
      Array.tabulate(7)(ioAcc.get) :+ jvmGcMs() :+ nCompiles()
    // per query, per pass: [shuffle_write, shuffle_read, spill_mem,
    // spill_disk, task_gc_ms, task_run_ms, task_cpu_ms, jvm_gc_ms,
    // n_janino_compiles, peak_task_mem]
    val ioSamples = scala.collection.mutable.Map.empty[String, Vector[Array[Long]]]
    val ioCols = 10
    def ioMedians(name: String): Array[Long] =
      ioSamples.get(name).filter(_.nonEmpty) match {
        case None => Array.fill(ioCols)(-1L)
        case Some(v) => Array.tabulate(ioCols) { i =>
          val s = v.map(_(i)).sorted; s((s.length - 1) / 2)
        }
      }

    // median of the samples collected so far (lower-middle for even counts)
    // — partial JSON stays valid if the run is killed between passes
    def stats(name: String): (Double, Double, Double) =
      if (failed(name) || !samples.get(name).exists(_.nonEmpty)) (-1.0, -1.0, -1.0)
      else {
        val s = samples(name).sorted
        (s((s.length - 1) / 2), s.head, s.last)
      }
    def renderJson(): String = {
      val done = ordered.map(_.name).filter(n => failed(n) || samples.contains(n))
      val rows = done.map(n => n -> stats(n))
      val qs = rows.map { case (k, (med, _, _)) => "\"" + k + "\":" + med }
        .mkString("{", ",", "}")
      val spread = rows
        .map { case (k, (_, lo, hi)) => "\"" + k + "\":[" + lo + "," + hi + "]" }
        .mkString("{", ",", "}")
      // raw per-pass samples in pass order (detail file only): the spread
      // alone can't distinguish "first pass pays JIT" from "random hiccup"
      val raw = done.map { n =>
        "\"" + n + "\":[" +
          samples.getOrElse(n, Vector.empty).mkString(",") + "]"
      }.mkString("{", ",", "}")
      // matching raw annex rows per pass (detail only) — lets a slow
      // sample be attributed to ITS OWN gc/spill/shuffle, not the median's
      val rawIo = done.map { n =>
        "\"" + n + "\":[" + ioSamples.getOrElse(n, Vector.empty)
          .map(_.mkString("[", ",", "]")).mkString(",") + "]"
      }.mkString("{", ",", "}")
      val total = rows.collect { case (_, (med, _, _)) if med >= 0 => med }.sum
      val cal = calibrations
        .map { case (s1, sn) => f"[$s1%.3f,$sn%.3f]" }.mkString("[", ",", "]")
      // median-of-passes [shuffle_write B, shuffle_read B, spill_mem B,
      // spill_disk B, task_gc ms, task_run ms, task_cpu ms, jvm_gc ms,
      // peak_task_mem B] per query — the attribution annex (r10; GC,
      // run/cpu-time + peak-memory columns r11)
      val io = done.map { n =>
        "\"" + n + "\":[" + ioMedians(n).mkString(",") + "]"
      }.mkString("{", ",", "}")
      s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,""" +
        s""""spread_min_max":$spread,"runs_per_query":$passes,"stat":"median",""" +
        s""""calibration_single_allcore_sec_per_pass":$cal,""" +
        s""""io_shufw_shufr_spillmem_spilldisk_gcms_runms_cpums_jvmgcms_ncompile_peakmem":$io,""" +
        s""""samples_sec":$raw,"samples_io":$rawIo,""" +
        s""""order":"shuffled_per_pass","failed":${failed.size},"sf":"$sfDir"}"""
    }
    // The LAST stdout line, and the one the harness is meant to parse:
    // every BENCH_r01..r08.json came back `"parsed": null` because the
    // driver keeps only a ~2000-char stdout TAIL and the full 156-query
    // line is ~6 KB — the tail always started mid-line. This line carries
    // the total, run metadata, and a fixed 30-query headline subset of
    // medians, rendered to fit comfortably inside the tail (≈1 KB); the
    // complete per-query medians + spreads stay in the full line above
    // and in `detail_file`.
    def renderCompact(): String = {
      val done = ordered.map(_.name).filter(n => failed(n) || samples.contains(n))
      val rows = done.map(n => n -> stats(n))
      val total = rows.collect { case (_, (med, _, _)) if med >= 0 => med }.sum
      val qs = headline.filter(done.contains)
        .map(n => f""""$n":${stats(n)._1}%.3f""").mkString("{", ",", "}")
      f"""{"metric":"total","value":$total%.3f,"unit":"sec","sf":"$sfDir",""" +
        s""""n_queries":${done.size},"failed":${failed.size},""" +
        s""""runs_per_query":$passes,"stat":"median","order":"shuffled_per_pass",""" +
        s""""queries":$qs,"detail_file":"$outPath"}"""
    }

    // Persist to a file as well as stdout: the stdout line is long enough
    // that log-tail capture has truncated it (round 3 lost q01-q12 and the
    // total). Rewritten after EVERY query so a timeout/kill mid-run still
    // leaves valid partial numbers on disk.
    def writeJson(json: String): Unit =
      try {
        val p = java.nio.file.Paths.get(outPath)
        if (p.getParent != null) java.nio.file.Files.createDirectories(p.getParent)
        java.nio.file.Files.write(p, json.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      } catch { case e: Throwable =>
        System.err.println(s"[bench] could not write $outPath: ${e.getMessage}")
      }

    // median of three interleaved runs per query: single-shot sub-second
    // timings at sf0.1 on local[32] swing up to 5x run-to-run (r4 vs r5 on
    // identical bytecode: q88 0.83<->3.06 s), so one sample is not a
    // finding. The median discards both the one-time codegen/JIT first
    // touch AND a single GC/scheduler hiccup; min/max are recorded
    // alongside so the spread itself is visible in BENCH_r{N}.json.
    for (pass <- 0 until passes) {
      calibrations += calibrate()
      val order = new scala.util.Random(pass).shuffle(ordered)
      for (q <- order if !failed(q.name)) {
        // drain the previous query's caches (tracked op intermediates,
        // checkpoint blocks, index persists) and THEN its garbage before
        // the clock starts — r7 showed a multi-pass bench hauling every
        // prior query's unreleased MEMORY_AND_DISK blocks through the
        // heap, inflating untouched queries ~1.8x
        graft.ops.Caches.drainAll(spark)
        System.gc()
        try {
          val io0 = ioSnap()
          peakMemAcc.set(0L) // queries run one-at-a-time: reset per query
          val t0 = System.nanoTime()
          run(q)
          val sec = (System.nanoTime() - t0) / 1e9
          samples(q.name) = samples.getOrElse(q.name, Vector.empty) :+ sec
          val io1 = ioSnap()
          ioSamples(q.name) = ioSamples.getOrElse(q.name, Vector.empty) :+
            (Array.tabulate(9)(i => io1(i) - io0(i)) :+ peakMemAcc.get())
        } catch { case e: Throwable =>
          System.err.println(s"[bench] ${q.name} FAILED: ${e.getMessage}")
          failed += q.name
          samples.remove(q.name)
          ioSamples.remove(q.name)
        }
        writeJson(renderJson())
      }
    }
    // code-heap usage at end of run (stderr, diagnostic): if the
    // non-profiled segment sits near ReservedCodeCacheSize, flushing has
    // been evicting hot compiled methods mid-run — the interpreted-tier
    // burst signature
    locally {
      import scala.jdk.CollectionConverters._
      java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
        .filter(_.getName.toLowerCase.contains("code"))
        .foreach { p =>
          val u = p.getUsage
          System.err.println(
            s"[bench] codeheap '${p.getName}': used=${u.getUsed / 1048576}MB " +
            s"peak=${p.getPeakUsage.getUsed / 1048576}MB max=${u.getMax / 1048576}MB")
        }
    }
    // don't leave the metrics listener behind if this JVM outlives main
    // (sbt runs keep the session; stale listeners would keep accumulating)
    spark.sparkContext.removeSparkListener(benchListener)
    spark.stop()
    // r12 (VERDICT r11 item 2): the compact total line is the ONLY stdout
    // JSON and the LAST program output — every BENCH_r01..r11.json came
    // back `"parsed": null` even when the compact line sat complete inside
    // the driver's 2000-char tail, because (a) the full renderJson line
    // (tens of KB) used to print first and eat the tail, and (b) sbt's
    // LoggedOutput prefixed every line with "[info] ", defeating a
    // line-based json.loads. The detail JSON still lands in `outPath`
    // (rewritten after every query); build.sbt now forks with
    // StdoutOutput so this line reaches stdout unprefixed.
    println(renderCompact())
  }

  /** Headline subset for the COMPACT stdout line: one representative per
    * operator family (relational core, joins, windows, dedup family, ANN,
    * graph, clustering, text/LM kernels, pipeline, heaviest-five), chosen
    * so a reader with only these medians can still compare rounds.
    */
  private val headline: Vector[String] = Vector(
    "q01_pricing_summary", "q03_join_revenue", "q05_window_topn",
    "q12_json_extract", "q20_dedup_exact", "q25_minhash_neardup",
    "q26_embed_topk", "q34_simhash_neardup", "q35_cosine_neardup",
    "q36_ann_ivf", "q37_pipeline_parse", "q44_neardup_exact",
    "q47_dedup_clusters", "q67_salted_join", "q77_mad_outliers",
    "q85_cluster_safe_split", "q88_inverted_index", "q96_triangles",
    "q113_bpe_learn", "q114_boilerplate_strip", "q116_substring_dedup",
    "q118_fuzzy_join", "q120_pagerank", "q122_entity_resolution",
    "q123_semantic_dedup", "q128_semantic_keepers", "q140_stupid_backoff",
    "q147_pmi_collocations", "q150_kcenter_diverse", "q155_personalized_pagerank",
    "q160_bradley_terry", "q165_embed_covariance",
    "q170_dsir_importance", "q173_triplet_mine",
    "q174_bm25_topk", "q176_mmr_select",
    // round-9 additions: blocklist kernel, margin mining (both faces),
    // span corruption, KN LM — the round's heaviest/newest families
    "q185_blocklist_scan", "q191_margin_mining", "q196_margin_mining_ann",
    "q195_span_corrupt", "q202_kneser_ney",
    // round-10 additions: the gram-heaviest new op and the chrF rewrite
    "q205_soft_dedup", "q186_chrf",
    // round-12 additions (never remove/rename entries — additions only):
    // the r12 optimization targets, so the driver's per-query comparison
    // can see their deltas from the compact line alone
    "q41_quantiles", "q82_gram_novelty", "q111_winsorized",
    "q135_lm_score", "q137_skipgram", "q149_winnow_candidates",
    "q156_label_propagation", "q200_curriculum_stages",
    "q218_gram_repetition", "q220_mad_outliers", "q232_activity_spikes",
    "q236_quantile_report")
}
