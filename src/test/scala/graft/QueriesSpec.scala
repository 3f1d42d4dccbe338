package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession.withConf

/** Catalog-wide smoke + plan audits at sf0.001: every query must run, and
  * the headline plans must have the shape we'd want at 100 TB (pushdown,
  * broadcast dims, top-k without global sort, no cartesian anywhere).
  */
class QueriesSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val sf = "/root/testdata/sf0.001"

  test("every catalog query runs at sf0.001 and matching oracle names exist") {
    val names = Queries.all.map(_.name)
    assert(names.distinct.size == names.size, "duplicate query names")
    for (q <- Queries.all) {
      val df = q.build(spark, sf)
      val n = df.count()
      assert(n >= 0, q.name)
    }
    assert(SparkEntry.oracleSql.keySet.subsetOf(SparkEntry.queries.keySet))
  }

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, sf).queryExecution.executedPlan.toString

  test("q02 pushes its filters into the parquet scan") {
    val p = plan("q02_filter_project")
    assert(p.contains("PushedFilters: ["), p)
    assert(p.contains("l_shipdate") && p.contains("l_quantity"))
  }

  test("q03 broadcasts the dimension tables") {
    assert(plan("q03_join_revenue").contains("BroadcastHashJoin"))
  }

  test("q04 top-k plans as TakeOrderedAndProject, not a global sort") {
    assert(plan("q04_topk_orders").contains("TakeOrderedAndProject"))
  }

  test("q80 rank filter plans two-phase WindowGroupLimit (bounded heap, not full sort-shuffle)") {
    // row_number <= k must trigger SPARK-37099's group-limit: a PARTIAL
    // WindowGroupLimit before the stratum exchange (only ~k rows per
    // stratum per map partition shuffle) and a FINAL one after. Without it,
    // every row of every stratum moves and sorts — the q105 lesson in
    // per-group form.
    val p = plan("q80_weighted_sample")
    assert(p.contains("WindowGroupLimit"),
      "rank-filter group-limit optimization did not fire")
    assert("WindowGroupLimit".r.findAllIn(p).length >= 2,
      "expected partial+final WindowGroupLimit pair")
  }

  test("no catalog query plans a cartesian product") {
    for (q <- Queries.all) {
      val p = q.build(spark, sf).queryExecution.executedPlan.toString
      assert(!p.contains("CartesianProduct"), q.name)
    }
  }

  test("no catalog query plans an unpartitioned Window (single-task global funnel)") {
    // A Window with an empty partition spec moves EVERY row through one
    // task — the q105 scale-killer the round-5 verdict flagged. Allowlist
    // (each carries an in-code justification at its definition):
    //   q107_chi_square   — marginal/total window sums over the contingency
    //     CELLS frame (|event_type| x 5 cohorts rows, bounded by the
    //     categorical domains), after the event-sized hash aggregate
    //     (scaladoc at the query).
    // q105_vocab_encode is deliberately NOT here: its vocab rank is now
    // orderBy+limit(30) + an array_sort of the 30-row frame — no Window.
    // q109_gap_audit is deliberately NOT here: its former global lead now
    // routes through Adjacent.globalAdjacent (range-partitioned lead +
    // seam zip — no unpartitioned window in the plan).
    //   q126_exact_auc / q127_roc_curve — the prefix sums run over the
    //     score HISTOGRAM (rows = distinct integer scores, the score
    //     resolution), after the corpus-sized groupBy(score) aggregate
    //     (ops/Eval scaladoc).
    //   q201_yield_curve  — the suffix sums run over the (grid+1)-row
    //     bucket frame (<= 1001 rows by the op's require), after the
    //     corpus-sized bucket aggregate (ops/Mix.yieldCurve scaladoc).
    //   q206_wasserstein_drift — the CDF cumulative sums run over the
    //     (edges+1)-row bucket spine (<= 1001 rows by the op's require),
    //     after the corpus-sized bucket aggregates (ops/Eval.wasserstein1
    //     scaladoc).
    // q98_zorder_layout is deliberately NO LONGER here: its former global
    // ntile now routes through Layout.exactNtileByRange (range partition +
    // offset-lifted per-partition ranks — no unpartitioned window).
    // q56_resample_fill is deliberately NO LONGER here (r11): the forward
    // fill now range-partitions the grid and lifts per-partition fills
    // with broadcast boundary carries (ops/Resample scaladoc).
    val allow = Set(
      "q107_chi_square", "q126_exact_auc", "q127_roc_curve",
      "q201_yield_curve", "q206_wasserstein_drift")
    import org.apache.spark.sql.execution.window.WindowExec
    val offenders = for {
      q <- Queries.all if !allow(q.name)
      w <- q.build(spark, sf).queryExecution.sparkPlan.collect {
        case w: WindowExec if w.partitionSpec.isEmpty => w
      }
    } yield s"${q.name}: $w"
    assert(offenders.isEmpty,
      s"unpartitioned Window in:\n${offenders.mkString("\n")}")
  }

  test("q111 scans lineitem once: both percentile and clipped-mean branches hit the cache") {
    // The q77 lesson applied to q111: li is persisted, so the executed plan
    // must show BOTH consumers reading InMemoryTableScan over one
    // InMemoryRelation rather than two FileScan+round-robin-Exchange trees.
    // (The plan STRING still prints the cache-builder FileScan under each
    // InMemoryRelation node, so we count InMemoryTableScan, not scans.)
    val p = plan("q111_winsorized")
    assert("InMemoryTableScan".r.findAllIn(p).length == 2, p)
  }

  test("every no-oracle query has a rows-only pin, and pins name real tests") {
    // The driver's DuckDB gate only does a rows-count check on no-oracle
    // queries; rowsOnlyPins must name the suite test(s) carrying the real
    // value check — exactly the no-oracle set (no gaps, no stale entries),
    // and every named title must literally exist in the spec it cites.
    val noOracle = Queries.all.filter(_.oracle.isEmpty).map(_.name).toSet
    assert(Queries.rowsOnlyPins.keySet == noOracle,
      s"missing pins: ${(noOracle -- Queries.rowsOnlyPins.keySet).toSeq.sorted}; " +
        s"stale pins: ${(Queries.rowsOnlyPins.keySet -- noOracle).toSeq.sorted}")
    val specSrc = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("src/test/scala/graft/OpsSpec.scala")),
      java.nio.charset.StandardCharsets.UTF_8)
    for ((q, titles) <- Queries.rowsOnlyPins; t <- titles) {
      val Array(spec, title) = t.split(": ", 2)
      assert(spec == "OpsSpec" && specSrc.contains(title),
        s"$q pin does not match a test title: $t")
    }
  }

  test("entry returns routed rows (driver t1 contract)") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every oracle-checked query is partitioning-invariant (4 vs 7 shuffle partitions)") {
    // The determinism contract behind the DuckDB hash gate: results may not
    // depend on partition count or partition order (FP sums routed through
    // DECIMAL, total ORDER BYs, no rand()). Shaking the partitioning is the
    // cheapest way to catch a regression before the driver's gate does.
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    def canon(name: String): Seq[String] =
      SparkEntry.queries(name)(spark, sf).collect().map(_.toString).sorted.toSeq
    try {
      for (q <- Queries.all if q.oracle.isDefined) {
        spark.conf.set("spark.sql.shuffle.partitions", "4")
        val a = canon(q.name)
        spark.conf.set("spark.sql.shuffle.partitions", "7")
        val b = canon(q.name)
        assert(a == b, s"${q.name} depends on partitioning: " +
          a.zip(b).collectFirst { case (x, y) if x != y => s"$x != $y" }
            .getOrElse(s"sizes ${a.size} vs ${b.size}"))
      }
    } finally spark.conf.set("spark.sql.shuffle.partitions", prev)
  }

  test("q99's two distincts plan as one Expand, not two scans") {
    val p = plan("q99_partition_stats")
    assert(p.contains("Expand"), p)
    assert("Scan parquet".r.findAllIn(p).length == 1, p)
  }

  test("date predicates become partition pruning on a partitioned layout") {
    // SCALE.md claims q02-style date predicates turn into partition pruning
    // once events is laid out by month (the 100 TB layout); prove it: write
    // the table partitioned, filter, and require a non-empty PartitionFilters
    // on the scan with only the matching partition read.
    import org.apache.spark.sql.functions._
    val dir = java.nio.file.Files.createTempDirectory("events_by_month").toString
    try {
      Tables(spark, sf, "events")
        .withColumn("month", date_format(col("ts"), "yyyy-MM"))
        .write.partitionBy("month").mode("overwrite").parquet(dir)
      val pruned = spark.read.parquet(dir)
        .filter(col("month") === "2024-01" && col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"))
      val p = pruned.queryExecution.executedPlan.toString
      assert(p.contains("PartitionFilters: [") && p.contains("month"), p)
      assert(!p.replaceAll("(?s).*PartitionFilters: \\[([^\\]]*)\\].*", "$1").trim.isEmpty,
        s"PartitionFilters empty:\n$p")
      // non-partition predicate still pushes to parquet, and the scan reads
      // only the projected columns
      assert(p.contains("PushedFilters: [") && p.contains("event_type"), p)
      assert(pruned.count() > 0)
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
  }

  test("bucketed tables sort-merge join with NO exchange and no sort (co-location)") {
    // The bucketing claim in SCALE.md: pre-bucketing both sides of a
    // recurring join on the join key makes the join exchange-free — the
    // 100 TB technique for joins run every day on the same key.
    import org.apache.spark.sql.functions._
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force SMJ
    try {
      spark.sql("DROP TABLE IF EXISTS b_orders")
      spark.sql("DROP TABLE IF EXISTS b_customer")
      Tables(spark, sf, "orders").select("o_orderkey", "o_custkey", "o_totalprice")
        .write.bucketBy(8, "o_custkey").sortBy("o_custkey")
        .mode("overwrite").saveAsTable("b_orders")
      Tables(spark, sf, "customer").select("c_custkey", "c_acctbal")
        .write.bucketBy(8, "c_custkey").sortBy("c_custkey")
        .mode("overwrite").saveAsTable("b_customer")
      val joined = spark.table("b_orders")
        .join(spark.table("b_customer"), col("o_custkey") === col("c_custkey"))
      val p = joined.queryExecution.executedPlan.toString
      assert(p.contains("SortMergeJoin"), p)
      assert(!p.contains("Exchange"), s"bucketed join still exchanges:\n$p")
      assert(joined.count() ==
        Tables(spark, sf, "orders").join(Tables(spark, sf, "customer"),
          col("o_custkey") === col("c_custkey")).count())
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
      spark.sql("DROP TABLE IF EXISTS b_orders")
      spark.sql("DROP TABLE IF EXISTS b_customer")
    }
  }

  test("a filtered dim join prunes fact partitions dynamically (DPP)") {
    // The runtime face of the same claim: when the fact's partition key is
    // a JOIN key and the dim side is filtered, Spark must inject a dynamic
    // pruning subquery into the fact scan — at 100 TB that's the difference
    // between scanning one day and scanning the lake.
    import org.apache.spark.sql.functions._
    val dir = java.nio.file.Files.createTempDirectory("events_by_day").toString
    try {
      Tables(spark, sf, "events")
        .withColumn("day", date_format(col("ts"), "yyyy-MM-dd"))
        .write.partitionBy("day").mode("overwrite").parquet(dir)
      val fact = spark.read.parquet(dir)
      // a real scanned calendar dim with a selective predicate — the DPP
      // trigger shape (a LIMIT on a self-derived frame does not qualify)
      val dimDir = java.nio.file.Files.createTempDirectory("calendar_dim").toString
      // the partition column reads back as DATE (partition-value inference)
      val allDays = fact.select(col("day").cast("string")).distinct()
        .orderBy(col("day")).collect().map(_.getString(0))
      try {
        import spark.implicits._
        allDays.zipWithIndex.map { case (d, i) => (d, if (i < 2) 1 else 0) }
          .toSeq.toDF("day_s", "keep")
          .select(to_date(col("day_s")).as("day"), col("keep"))
          .write.mode("overwrite").parquet(dimDir)
        // an explicit comparison — the shape DPP's selectivity check
        // recognizes (a bare boolean attribute is not "likely selective")
        val dim = spark.read.parquet(dimDir).filter(col("keep") === 1).select("day")
        val joined = fact.join(dim, "day").groupBy(col("day")).count()
        val p = joined.queryExecution.executedPlan.toString
        assert(p.contains("dynamicpruning") || p.contains("DynamicPruning"),
          s"no dynamic pruning subquery in:\n$p")
        assert(joined.count() == 2)
      } finally {
        org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dimDir))
      }
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
  }

  // ---- Spread: the one single-split scan guard ----

  /** The explicit-N spread exchanges a frame plans, cached subplans included
    * (a tracked frame read three times counts once). */
  private def spreadExchanges(df: org.apache.spark.sql.DataFrame) = {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    import org.apache.spark.sql.execution.exchange.{REPARTITION_BY_NUM, ShuffleExchangeExec}
    def walk(p: SparkPlan): Seq[ShuffleExchangeExec] = p.collect {
      case e: ShuffleExchangeExec if e.shuffleOrigin == REPARTITION_BY_NUM => Seq(e)
      case a: AdaptiveSparkPlanExec => walk(a.inputPlan)
      case m: InMemoryTableScanExec => walk(m.relation.cachedPlan)
    }.flatten
    walk(df.queryExecution.sparkPlan).distinct
  }

  test("a single-file scan or a non-file frame is hash-spread to defaultParallelism") {
    import spark.implicits._
    val n = spark.sparkContext.defaultParallelism
    def check(what: String, df: org.apache.spark.sql.DataFrame): Unit = {
      val ex = spreadExchanges(df)
      assert(ex.size == 1, s"$what: $ex")
      ex.head.outputPartitioning match {
        case h: org.apache.spark.sql.catalyst.plans.physical.HashPartitioning =>
          assert(h.numPartitions == n, what)
        case p => fail(s"$what: $p")
      }
    }
    try {
      check("docsSpread", Queries.docsSpread(spark, sf))
      check("minhashNearDups", graft.ops.Dedup.minhashNearDups(Tables(spark, sf, "documents")))
      check("local rows", graft.ops.Spread(Seq((1L, "a")).toDF("doc_id", "text"), "doc_id"))
      // cut into >= n byte ranges, the one-row-group file is still one reading task
      withConf("spark.sql.files.maxPartitionBytes" -> "1k") {
        assert(Tables(spark, sf, "documents").rdd.getNumPartitions >= n)
        check("docsSpread, split file", Queries.docsSpread(spark, sf))
        check("minhashNearDups, split file",
          graft.ops.Dedup.minhashNearDups(Tables(spark, sf, "documents")))
      }
    } finally graft.ops.Caches.release()
  }

  test("a documents scan of >= defaultParallelism files is not spread, and results match") {
    val dir = java.nio.file.Files.createTempDirectory("documents_64").toString
    val docs = Tables(spark, sf, "documents")
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map(_.toString).sorted.toSeq
    try {
      docs.repartition(64).write.parquet(s"$dir/documents.parquet")
      withConf("spark.sql.files.maxPartitionBytes" -> "1m") {
        assert(Tables(spark, dir, "documents").rdd.getNumPartitions >=
          spark.sparkContext.defaultParallelism)
        assert(spreadExchanges(Queries.docsSpread(spark, dir)).isEmpty)
        val near = graft.ops.Dedup.minhashNearDups(Tables(spark, dir, "documents"))
        assert(spreadExchanges(near).isEmpty)
        assert(rows(near) == rows(graft.ops.Dedup.minhashNearDups(docs)))
        for (q <- Seq("q52_pii_redact", "q114_boilerplate_strip"))
          assert(rows(SparkEntry.queries(q)(spark, dir)) == rows(SparkEntry.queries(q)(spark, sf)), q)
      }
    } finally {
      graft.ops.Caches.release()
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
  }

  test("a partitioned scan keeps the spread: its files are known only after pruning") {
    import org.apache.spark.sql.functions._
    val dir = java.nio.file.Files.createTempDirectory("events_by_day_spread").toString
    try {
      Tables(spark, sf, "events").withColumn("day", to_date(col("ts")))
        .write.partitionBy("day").parquet(s"$dir/fact")
      Tables(spark, sf, "events").select(to_date(col("ts")).as("day")).distinct()
        .withColumn("keep", (dayofmonth(col("day")) === 1).cast("int"))
        .write.parquet(s"$dir/dim")
      val fact = spark.read.parquet(s"$dir/fact")
      assert(fact.inputFiles.length >= spark.sparkContext.defaultParallelism)
      val oneDay = fact.filter(col("day") === fact.agg(min("day")).head().getDate(0))
      val joined = fact.join(
        spark.read.parquet(s"$dir/dim").filter(col("keep") === 1).select("day"), "day")
      for ((what, df) <- Seq("whole" -> fact, "one day" -> oneDay, "dynamic pruning" -> joined))
        assert(spreadExchanges(graft.ops.Spread(df, "event_id")).size == 1, what)
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
  }

  test("Spread decides from the plan without running a job") {
    import spark.implicits._
    val sc = spark.sparkContext
    val groups = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        groups.add(String.valueOf(Option(j.properties).map(_.getProperty("spark.jobGroup.id")).orNull))
    }
    // built first: a table's first read infers its schema with a job
    val frames = Seq(Tables(spark, sf, "documents") -> "doc_id",
      Tables(spark, sf, "events").filter($"event_id" > 3) -> "event_id",
      Seq((1L, "a")).toDF("doc_id", "text") -> "doc_id")
    sc.addSparkListener(l)
    try {
      sc.setJobGroup("spread-decide", "Spread")
      for ((df, key) <- frames) graft.ops.Spread(df, key)
      // a later job in another group: once it is seen, any earlier one was
      sc.setJobGroup("fence", "fence")
      spark.range(1).count()
      sc.clearJobGroup()
      val deadline = System.nanoTime() + 10000000000L
      while (!groups.contains("fence") && System.nanoTime() < deadline) Thread.sleep(20)
      assert(groups.contains("fence"))
      assert(!groups.contains("spread-decide"), groups)
    } finally sc.removeSparkListener(l)
  }
}
