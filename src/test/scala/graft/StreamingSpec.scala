package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.{col, count, expr, lit, sum, unix_micros, window}
import org.apache.spark.sql.streaming.StreamingQuery

import graft.streaming.{CurationStreamJob, LogStreamJob, PerBatch}

/** O1/O15: micro-batch streaming wrapper — checkpointed foreachBatch over a
  * memory source standing in for the Kinesis connector (SURVEY.md §7.1.6).
  */
class StreamingSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  test("streaming pipeline writes routed partitions and resumes from checkpoint " +
       "without reprocessing (exactly-once upgrade of O15)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext

    val tmp = java.nio.file.Files.createTempDirectory("graft-stream").toString
    val cfg = PipelineConfig()
    val mem = MemoryStream[Array[Byte]]
    val records = mem.toDF().withColumnRenamed("value", "data")

    mem.addData(
      """{"log_type":"app","log_id":"1","time":"2026-08-12T01:00:00Z"}""".getBytes("UTF-8"),
      """{"log_id":"2","time":"2026-08-12T01:00:00Z"}""".getBytes("UTF-8"))
    val q1 = LogStreamJob.start(records, cfg, s"$tmp/out", s"$tmp/cp")
    q1.awaitTermination(60000)

    def countLines(): Long = {
      val d = new java.io.File(s"$tmp/out/${cfg.pathPrefix}")
      if (!d.exists()) 0L
      else spark.read.text(d.toString).count()
    }
    assert(countLines() == 2) // one valid (app), one failed (unknown)
    assert(new java.io.File(
      s"$tmp/out/${cfg.pathPrefix}/log_type=app/month=2026-08/day=12").exists())
    assert(new java.io.File(
      s"$tmp/out/${cfg.pathPrefix}/log_type=unknown/month=2026-08/day=12").exists())

    // second AvailableNow run from the same checkpoint: only new data lands
    mem.addData(
      """{"log_type":"app","log_id":"3","time":"2026-08-13T01:00:00Z"}""".getBytes("UTF-8"))
    val q2 = LogStreamJob.start(records, cfg, s"$tmp/out", s"$tmp/cp")
    q2.awaitTermination(60000)
    assert(countLines() == 3)
  }

  test("streaming curation: quality gates + watermark content dedup on the fly") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext

    val good = "the quick brown fox jumps over a lazy dog while many other " +
      "animals watch quietly from their warm homes and some birds fly south " +
      "for winter because it is getting cold in the north these days"
    val mem = MemoryStream[(Long, java.sql.Timestamp, String)]
    val ts = java.sql.Timestamp.valueOf("2026-08-12 01:00:00")
    mem.addData(
      (1L, ts, good),                                   // passes
      (2L, ts, "  " + good + "  "),                     // exact dup modulo ws → dropped
      (3L, ts, "short text"),                           // < minTokens → dropped
      (4L, ts, good.replace("dog", ("!!! ### $$$ " * 10).trim)), // punct-heavy
      (5L, ts, ("der und die das ist nicht ein " * 6).trim))                    // not en
    val out = CurationStreamJob.curate(
      mem.toDF().toDF("doc_id", "ts", "text"))
    val q = out.writeStream.format("memory").queryName("curated")
      .outputMode("append").trigger(
        org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination(60000)
    val rows = spark.table("curated").select($"doc_id").as[Long].collect().sorted
    assert(rows.toSeq == Seq(1L))
    // the survivor carries its gate columns for downstream audit
    val cols = spark.table("curated").columns.toSet
    assert(Set("n_tokens", "punct_ratio", "repetition", "lang_pred").subsetOf(cols))
  }

  test("streaming hopping-window agg matches the batch q54 formulation") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext

    // 6 events across 3 half-hours; watermark far enough that all close
    val base = java.sql.Timestamp.valueOf("2026-08-12 01:00:00").getTime
    val evs = Seq(0L, 5L, 29L, 31L, 61L, 62L).zipWithIndex.map { case (m, i) =>
      (i.toLong, new java.sql.Timestamp(base + m * 60000L), 2.0 + i)
    }
    val mem = MemoryStream[(Long, java.sql.Timestamp, Double)]
    mem.addData(evs: _*)
    val stream = mem.toDF().toDF("user_id", "ts", "value")
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "1 hour", "30 minutes"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("sum_value"))
      .select(unix_micros(col("window.start")).as("win_start_us"),
        col("n"), col("sum_value"))
    val q = stream.writeStream.format("memory").queryName("hop")
      .outputMode("append").trigger(
        org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination(60000)

    val batch = evs.toDF("user_id", "ts", "value")
      .groupBy(window(col("ts"), "1 hour", "30 minutes"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("sum_value"))
      .select(unix_micros(col("window.start")).as("win_start_us"),
        col("n"), col("sum_value"))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    // append mode only emits windows the watermark has closed; every emitted
    // window must agree exactly with the batch computation over the same data
    val emitted = rows(spark.table("hop"))
    assert(emitted.nonEmpty)
    assert(emitted.subsetOf(rows(batch)),
      s"streaming windows diverge from batch: $emitted vs ${rows(batch)}")
  }

  test("stream-stream interval join: purchases attach to error windows under watermarks") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext

    val base = java.sql.Timestamp.valueOf("2026-08-12 02:00:00").getTime
    def ts(m: Long) = new java.sql.Timestamp(base + m * 60000L)
    val errs = MemoryStream[(Long, java.sql.Timestamp)]
    val purch = MemoryStream[(Long, java.sql.Timestamp)]
    // error 100 at t=0 covers [0, 10]; purchase 200 at t=5 inside, 201 at t=30 outside
    errs.addData((100L, ts(0)))
    purch.addData((200L, ts(5)), (201L, ts(30)))
    // Spark refuses stream-stream joins without an equality predicate —
    // the SAME time-bin equi-key that makes the batch range join scale
    // (ops/RangeJoin) is what makes it legal here: interval side explodes
    // into its 2 bins, point side carries 1, join on bin + exact predicate.
    val e = errs.toDF().toDF("incident_id", "e_ts").withWatermark("e_ts", "1 hour")
      .withColumn("bin", org.apache.spark.sql.functions.explode(
        org.apache.spark.sql.functions.array(
          expr("unix_micros(e_ts) div 600000000"),
          expr("unix_micros(e_ts) div 600000000 + 1"))))
    val p = purch.toDF().toDF("p_id", "p_ts").withWatermark("p_ts", "1 hour")
      .withColumn("bin", expr("unix_micros(p_ts) div 600000000"))
    val joined = p.join(e,
      p("bin") === e("bin") &&
        col("p_ts") >= col("e_ts") &&
        col("p_ts") <= col("e_ts") + expr("INTERVAL 10 MINUTES"))
    val q = joined.writeStream.format("memory").queryName("ssjoin")
      .outputMode("append").trigger(
        org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination(60000)
    val got = spark.table("ssjoin").select($"p_id", $"incident_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == Set(200L -> 100L), s"got $got")
  }

  test("streaming blocklist monitor: totals accumulate and match the batch scan") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val pats = Seq("bad word", "word", "spam")
    val b1 = Seq("a bad word here", "clean text", "spam spam spam")
    val b2 = Seq("another bad word and a word", "clean again")

    val mem = MemoryStream[String]
    val out = graft.streaming.BlocklistMonitorJob.counts(
      mem.toDF().toDF("text"), pats)
    val q = out.writeStream.format("memory").queryName("blocklist")
      .outputMode("complete").start()
    try {
      mem.addData(b1: _*)
      q.processAllAvailable()
      val t1 = spark.table("blocklist").collect()
        .map(r => r.getString(1) -> (r.getLong(2), r.getLong(3))).toMap
      // "word" matches inside "bad word" too (overlapping occurrences)
      assert(t1("bad word") == (1L, 1L) && t1("word") == (1L, 1L))
      assert(t1("spam") == (3L, 1L))

      mem.addData(b2: _*)
      q.processAllAvailable()
      val t2 = spark.table("blocklist").collect()
        .map(r => r.getString(1) -> (r.getLong(2), r.getLong(3))).toMap
      assert(t2("bad word") == (2L, 2L), t2.toString)
      assert(t2("word") == (3L, 2L), t2.toString)
      assert(t2("spam") == (3L, 1L), t2.toString)

      // batch parity: streaming totals == the one-shot batch aggregate
      val batch = graft.streaming.BlocklistMonitorJob.counts(
        (b1 ++ b2).toDF("text"), pats).collect()
        .map(r => r.getString(1) -> (r.getLong(2), r.getLong(3))).toMap
      assert(batch == t2, s"stream $t2 vs batch $batch")
    } finally q.stop()
  }

  test("streaming trending terms: state accumulates across micro-batches") {
    import spark.implicits._
    implicit val s = spark
    implicit val sqlCtx = spark.sqlContext

    val mem = MemoryStream[(String, String)]
    val out = graft.streaming.TrendingTerms.trending(
      mem.toDF().toDF("source", "term"), m = 8, k = 3)
    val q = out.writeStream.format("memory").queryName("trending")
      .outputMode("append").start()
    try {
      // batch 1: "hot" leads in src0
      mem.addData(Seq("hot", "hot", "hot", "warm", "cold").map("src0" -> _): _*)
      q.processAllAvailable()
      val b1 = spark.table("trending").collect()
        .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
      assert(b1.exists(t => t._2 == "hot" && t._3 == 3L), b1.toSeq)
      // batch 2: "warm" surges; counts must include batch-1 state
      mem.addData(Seq("warm", "warm", "warm", "warm").map("src0" -> _): _*)
      q.processAllAvailable()
      val b2 = spark.table("trending").collect()
        .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
      assert(b2.exists(t => t._2 == "warm" && t._3 == 5L),
        s"state did not accumulate: ${b2.toSeq}")
    } finally q.stop()
  }

  test("streaming dedupeById drops within-watermark duplicates, passes id-less rows") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext

    val base = java.sql.Timestamp.valueOf("2026-08-12 10:00:00")
    val mem = MemoryStream[(String, String, java.sql.Timestamp)]
    val parsed = mem.toDF().toDF("route", "log_id", "ts")
    val out = graft.pipeline.LogPipeline.dedupeByIdStreaming(parsed, "1 hour")
    val q = out.writeStream.format("memory").queryName("dedup_stream")
      .outputMode("append").start()
    try {
      // batch 1: id1 twice (same batch), one id-less row
      mem.addData(("app", "id1", base), ("app", "id1", base), ("app", null, base))
      q.processAllAvailable()
      // batch 2: id1 again (cross-batch, within watermark) + a fresh id2
      // + another id-less row (null keys must never collapse)
      mem.addData(("app", "id1", base), ("app", "id2", base), ("app", null, base))
      q.processAllAvailable()
      val rows = spark.table("dedup_stream").collect()
        .map(r => Option(r.getString(1)).getOrElse("<null>"))
      assert(rows.count(_ == "id1") == 1, s"id1 duplicated: ${rows.toSeq}")
      assert(rows.count(_ == "id2") == 1)
      assert(rows.count(_ == "<null>") == 2, s"id-less rows must pass through: ${rows.toSeq}")
    } finally q.stop()
  }

  test("incremental dedup stream flags near-dups of the static index per batch") {
    import spark.implicits._
    implicit val s = spark
    implicit val sqlCtx = spark.sqlContext

    val base = "the quick brown fox jumps over the lazy dog near the river bank today"
    val corpus = Seq(
      (1L, base),
      (2L, "entirely different content with many other words present here now"))
      .toDF("doc_id", "text")
    val index = graft.ops.Dedup.minhashIndex(corpus)
    val mem = MemoryStream[(Long, String)]
    val got = scala.collection.mutable.Map.empty[Long, Option[Long]]
    val ckpt = java.nio.file.Files.createTempDirectory("inc_dedup_ckpt").toString
    val q = graft.streaming.IncrementalDedupJob.start(
      mem.toDF().toDF("doc_id", "text"), index,
      out => got.synchronized {
        out.collect().foreach(r =>
          got(r.getLong(0)) = if (r.isNullAt(2)) None else Some(r.getLong(2)))
      },
      ckpt,
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(0))
    try {
      mem.addData(
        (100L, base.replace("today", "tonight")), // near-dup of corpus doc 1
        (101L, "fresh unseen content sharing nothing at all with corpus docs"))
      q.processAllAvailable()
      assert(got.get(100L).flatten.contains(1L), s"got $got")
      assert(got.get(101L).contains(None), s"got $got")
      // a later batch probes the SAME index without rebuilding it
      mem.addData((102L, base + " indeed"))
      q.processAllAvailable()
      assert(got.get(102L).flatten.contains(1L), s"got $got")
    } finally q.stop()
  }

  test("rolling incremental dedup: later batches flag near-dups of earlier batches") {
    import spark.implicits._
    implicit val s = spark
    implicit val sqlCtx = spark.sqlContext

    val base = "the quick brown fox jumps over the lazy dog near the river bank today"
    val corpus = Seq(
      (1L, base),
      (2L, "entirely different content with many other words present here now"))
      .toDF("doc_id", "text")
    val index = graft.ops.Dedup.minhashIndex(corpus)
    val mem = MemoryStream[(Long, String)]
    val got = scala.collection.mutable.Map.empty[Long, Option[Long]]
    val ckpt = java.nio.file.Files.createTempDirectory("roll_dedup_ckpt").toString
    val q = graft.streaming.IncrementalDedupJob.startRolling(
      mem.toDF().toDF("doc_id", "text"), index,
      out => got.synchronized {
        out.collect().foreach(r =>
          got(r.getLong(0)) = if (r.isNullAt(2)) None else Some(r.getLong(2)))
      },
      ckpt,
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(0))
    try {
      val day1Fresh = "fresh unseen content sharing nothing at all with the corpus docs"
      mem.addData(
        (100L, base.replace("today", "tonight")), // near-dup of corpus doc 1
        (101L, day1Fresh))                        // fresh in batch 1...
      q.processAllAvailable()
      assert(got.get(100L).flatten.contains(1L), s"got $got")
      assert(got.get(101L).contains(None), s"got $got")
      // ...but batch 2's near-copy of it IS flagged — the static-index job
      // would miss this (101 is not in the nightly corpus)
      mem.addData(
        (200L, day1Fresh.replace("docs", "documents")),
        (201L, "yet another entirely unrelated brand new document body"))
      q.processAllAvailable()
      assert(got.get(200L).flatten.contains(101L), s"got $got")
      assert(got.get(201L).contains(None), s"got $got")
    } finally q.stop()
  }

  test("rolling substring dedup: later batches' copied spans of earlier batches are scored") {
    import spark.implicits._
    implicit val s = spark
    implicit val sqlCtx = spark.sqlContext

    val corpus = Seq(
      (1L, "a b c d e f g h i j"),
      (2L, "k l m n o p q r s t")).toDF("doc_id", "text")
    val index = graft.ops.Dedup.substringIndex(corpus, k = 8)
    val mem = MemoryStream[(Long, String)]
    val got = scala.collection.mutable.Map.empty[Long, Long] // doc_id -> n_copied
    val ckpt = java.nio.file.Files.createTempDirectory("roll_substr_ckpt").toString
    val q = graft.streaming.SubstringDedupJob.startRolling(
      mem.toDF().toDF("doc_id", "text"), index,
      out => got.synchronized {
        out.collect().foreach(r => got(r.getLong(0)) =
          r.getLong(out.columns.indexOf("n_copied")))
      },
      ckpt,
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(0))
    try {
      mem.addData(
        (100L, "a b c d e f g h tail1 tail2"),   // copies a corpus octet
        (101L, "f1 f2 f3 f4 f5 f6 f7 f8 f9"))    // fresh in batch 1...
      q.processAllAvailable()
      assert(got.get(100L).contains(8L), s"got $got")
      assert(got.get(101L).contains(0L), s"got $got")
      // ...but batch 2's copy of it IS scored — the index rolled forward
      mem.addData(
        (200L, "f1 f2 f3 f4 f5 f6 f7 f8 other"),
        (201L, "g1 g2 g3 g4 g5 g6 g7 g8 g9"))
      q.processAllAvailable()
      assert(got.get(200L).contains(8L), s"got $got")
      assert(got.get(201L).contains(0L), s"got $got")
    } finally q.stop()
  }

  test("streaming cluster assignment matches the batch assign bit-for-bit") {
    import spark.implicits._
    implicit val s = spark
    implicit val sqlCtx = spark.sqlContext

    val emb = Tables(spark, "/root/testdata/sf0.001", "embeddings")
    val cent = graft.ops.Cluster.kmeansCentroids(
      emb, "vec_id", "embedding", k = 4, iters = 2)
    val want = graft.ops.Cluster.assign(emb, "vec_id", "embedding", cent)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    val vecs = emb.collect().map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    val mem = MemoryStream[(Long, Array[Float])]
    val got = scala.collection.mutable.Map.empty[Long, (Long, Long)]
    val ckpt = java.nio.file.Files.createTempDirectory("cluster_assign_ckpt").toString
    val q = graft.streaming.ClusterAssignJob.start(
      mem.toDF().toDF("vec_id", "embedding"), "vec_id", "embedding", cent,
      out => got.synchronized {
        out.collect().foreach(r => got(r.getLong(0)) = (r.getLong(1), r.getLong(2)))
      },
      ckpt,
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(0))
    try {
      mem.addData(vecs.take(5).toSeq)
      q.processAllAvailable()
      assert(got.keySet == vecs.take(5).map(_._1).toSet)
      // a second batch appends; nothing about earlier answers changes
      mem.addData(vecs.slice(5, 12).toSeq)
      q.processAllAvailable()
      got.foreach { case (id, (cl, d2)) =>
        assert(want(id) == ((cl, d2)), s"vec $id")
      }
      assert(got.size == 12)
    } finally q.stop()
  }

  test("streaming ANN probe answers each query batch from the static IVF index") {
    import spark.implicits._
    implicit val s = spark
    implicit val sqlCtx = spark.sqlContext

    val emb = Tables(spark, "/root/testdata/sf0.001", "embeddings")
    val index = graft.ops.Similarity.ivfIndexBuild(emb)
    // expected: the batch probe for the same query ids
    def expected(qids: Seq[Long]) = {
      val qdf = emb.filter(org.apache.spark.sql.functions.col("vec_id").isin(qids: _*))
        .select(org.apache.spark.sql.functions.col("vec_id").as("query_id"),
          org.apache.spark.sql.functions.col("embedding").as("q_emb"))
      graft.ops.Similarity.ivfProbe(index, qdf, k = 5)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    }
    val queryVecs = emb.collect().map(r => (r.getLong(0), r.getSeq[Float](1).toArray)).toMap
    val mem = MemoryStream[(Long, Array[Float])]
    val got = scala.collection.mutable.Set.empty[(Long, Long, Long)]
    val ckpt = java.nio.file.Files.createTempDirectory("ann_probe_ckpt").toString
    val q = graft.streaming.AnnProbeJob.start(
      mem.toDF().toDF("query_id", "q_emb"), index,
      out => got.synchronized {
        out.collect().foreach(r => got += ((r.getLong(0), r.getLong(1), r.getLong(2))))
      },
      ckpt, k = 5,
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(0))
    try {
      mem.addData((0L, queryVecs(0L)), (7L, queryVecs(7L)))
      q.processAllAvailable()
      assert(got.toSet == expected(Seq(0L, 7L)), s"batch1 got $got")
      // a later batch probes the SAME index; earlier results untouched
      mem.addData((11L, queryVecs(11L)))
      q.processAllAvailable()
      assert(got.toSet == expected(Seq(0L, 7L, 11L)), s"batch2 got $got")
      // every answered query returns exactly k=5 ranked rows, self first
      for (qid <- Seq(0L, 7L, 11L)) {
        val rows = got.filter(_._1 == qid)
        assert(rows.size == 5 && rows.exists(r => r._2 == 1L && r._3 == qid), s"$qid: $rows")
      }
    } finally q.stop()
  }

  test("streaming BM25 probe answers each query batch from the static lexical index") {
    import spark.implicits._
    implicit val s = spark
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.functions.{col => c, _}

    val docs = Tables(spark, "/root/testdata/sf0.001", "documents")
    val index = graft.ops.TextOps.bm25IndexBuild(docs, c("doc_id"), c("text"))
    // query text: the first 4 tokens of docs 0/3/5 (the q174 recipe)
    val qText = docs.where(c("doc_id").isin(0L, 3L, 5L))
      .select(c("doc_id"),
        array_join(slice(filter(split(c("text"), " "),
          w => length(w) > 0), 1, 4), " ").as("q_text"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    def expected(qids: Seq[Long]) = {
      val qdf = qids.map(id => (id, qText(id))).toDF("query_id", "q_text")
      graft.ops.TextOps.bm25Probe(index, qdf, k = 5)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getDouble(3))).toSet
    }
    val mem = MemoryStream[(Long, String)]
    val got = scala.collection.mutable.Set.empty[(Long, Long, Long, Double)]
    val ckpt = java.nio.file.Files.createTempDirectory("bm25_probe_ckpt").toString
    val q = graft.streaming.Bm25ProbeJob.start(
      mem.toDF().toDF("query_id", "q_text"), index,
      out => got.synchronized {
        out.collect().foreach(r => got += ((r.getLong(0), r.getLong(1),
          r.getLong(2), r.getDouble(3))))
      },
      ckpt, k = 5,
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(0))
    try {
      mem.addData((0L, qText(0L)), (3L, qText(3L)))
      q.processAllAvailable()
      assert(got.toSet == expected(Seq(0L, 3L)), s"batch1 got $got")
      // a later batch probes the SAME index; earlier results untouched
      mem.addData((5L, qText(5L)))
      q.processAllAvailable()
      assert(got.toSet == expected(Seq(0L, 3L, 5L)), s"batch2 got $got")
      // exactly k=5 contiguously-ranked rows per query (the source doc
      // itself need NOT surface: the corpus's first tokens are common
      // words, and BM25's length norm favors shorter docs carrying them)
      for (qid <- Seq(0L, 3L, 5L)) {
        val rows = got.filter(_._1 == qid)
        assert(rows.size == 5 && rows.map(_._2).toSeq.sorted == (1L to 5L),
          s"$qid: $rows")
      }
    } finally q.stop()
  }

  test("streaming decontam screens each ingest batch against the static benchmark set") {
    import spark.implicits._
    implicit val s = spark
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.functions.{col => c}

    val docs = Tables(spark, "/root/testdata/sf0.001", "documents")
    val evalDocs = docs.where(c("doc_id") % 97 === 0)
      .select(c("doc_id"), c("text")).cache()
    val corpusRows = docs.where(c("doc_id") % 97 =!= 0)
      .select(c("doc_id"), c("text"))
      .collect().map(r => (r.getLong(0), r.getString(1)))
    // expected: the batch overlapReport for the same corpus slice
    def expected(ids: Set[Long]) = graft.ops.Decontam.overlapReport(
        corpusRows.filter(r => ids(r._1)).toSeq.toDF("doc_id", "text"),
        evalDocs, w = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getDouble(4))).toSet
    val mem = MemoryStream[(Long, String)]
    val got = scala.collection.mutable.Set.empty[(Long, Long, Long, Long, Double)]
    val ckpt = java.nio.file.Files.createTempDirectory("decontam_ckpt").toString
    val q = graft.streaming.DecontamJob.start(
      mem.toDF().toDF("doc_id", "text"), evalDocs,
      out => got.synchronized {
        out.collect().foreach(r => got += ((r.getLong(0), r.getLong(1),
          r.getLong(2), r.getLong(3), r.getDouble(4))))
      },
      ckpt, w = 3,
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(0))
    try {
      val (batch1, batch2) = corpusRows.splitAt(corpusRows.length / 2)
      mem.addData(batch1.toSeq)
      q.processAllAvailable()
      assert(got.toSet == expected(batch1.map(_._1).toSet), "batch1 drift")
      mem.addData(batch2.toSeq)
      q.processAllAvailable()
      // after both batches: identical to screening the whole corpus at once
      assert(got.toSet == expected(corpusRows.map(_._1).toSet), "union drift")
      assert(got.nonEmpty, "fixture produced no contamination hits")
    } finally { q.stop(); evalDocs.unpersist(blocking = false) }
  }

  test("trending terms match the batch heavy_hitters aggregate on a fixed corpus") {
    import spark.implicits._
    implicit val s = spark
    implicit val sqlCtx = spark.sqlContext

    // m far above the distinct-term count: no evictions on either side, so
    // stream and batch must agree exactly (both equal true counts, err 0)
    val corpus = (1 to 9).flatMap(i => Seq.fill(i)(s"term$i" -> ())).map(_._1)
    val mem = MemoryStream[(String, String)]
    val out = graft.streaming.TrendingTerms.trending(
      mem.toDF().toDF("source", "term"), m = 64, k = 10)
    val q = out.writeStream.format("memory").queryName("trend_parity")
      .outputMode("append").start()
    try {
      corpus.grouped(15).foreach { chunk =>
        mem.addData(chunk.map("src" -> _): _*)
        q.processAllAvailable()
      }
      // est grows monotonically across emissions; max per term = final state
      val streamed = spark.table("trend_parity").collect()
        .map(r => (r.getString(1), r.getLong(2), r.getLong(3)))
        .groupBy(_._1).map { case (t, rows) => (t, rows.map(_._2).max, rows.map(_._3).max) }
        .toSet
      val batch = corpus.toDF("term")
        .agg(graft.functions.gfn.heavy_hitters(col("term"), 64).as("hh"))
        .selectExpr("inline(hh)").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
      assert(streamed == batch, s"stream $streamed != batch $batch")
      assert(batch.forall(_._3 == 0L)) // no eviction: err must be 0 everywhere
    } finally q.stop()
  }

  test("trending terms: eviction floor survives micro-batch boundaries") {
    import spark.implicits._
    implicit val s = spark
    implicit val sqlCtx = spark.sqlContext

    val mem = MemoryStream[(String, String)]
    val out = graft.streaming.TrendingTerms.trending(
      mem.toDF().toDF("source", "term"), m = 4, k = 8)
    val q = out.writeStream.format("memory").queryName("trend_floor")
      .outputMode("append").start()
    try {
      // batch 1: 8 distinct terms at m=4 forces a trim; e..h evicted at
      // count 1, so the persisted floor must be 1
      val b1 = Seq("a" -> 5, "b" -> 4, "c" -> 3, "d" -> 2,
        "e" -> 1, "f" -> 1, "g" -> 1, "h" -> 1).flatMap { case (t, n) => Seq.fill(n)(t) }
      mem.addData(b1.map("src" -> _): _*)
      q.processAllAvailable()
      // batch 2: the evicted "e" re-enters twice; true count is now 3.
      // Without the floor in state its est would restart at 2 (< true),
      // breaking est - err <= true <= est across batches.
      mem.addData(Seq("src" -> "e", "src" -> "e"): _*)
      q.processAllAvailable()
      val eRow = spark.table("trend_floor").collect()
        .map(r => (r.getString(1), r.getLong(2), r.getLong(3)))
        .filter(_._1 == "e").maxBy(_._2)
      val trueCount = 3L
      assert(eRow._2 >= trueCount, s"floor lost: est ${eRow._2} < true $trueCount")
      assert(eRow._2 - eRow._3 <= trueCount, s"lower bound broken: $eRow")
    } finally q.stop()
  }

  test("streaming transitions match the batch q106 lead() on an ordered replay") {
    import spark.implicits._
    implicit val s = spark
    implicit val sqlCtx = spark.sqlContext

    val base = java.sql.Timestamp.valueOf("2026-08-12 03:00:00").getTime
    def ev(id: Long, user: Long, m: Long, tpe: String) =
      (id, new java.sql.Timestamp(base + m * 60000L), user, tpe)
    // two users interleaved; batch split mid-user so a transition SPANS the
    // batch boundary (the stored last-event state must supply the from-side)
    val b1 = Seq(ev(1, 7, 0, "view"), ev(2, 8, 1, "view"), ev(3, 7, 2, "click"))
    val b2 = Seq(ev(4, 8, 3, "purchase"), ev(5, 7, 4, "purchase"), ev(6, 7, 5, "view"))

    val mem = MemoryStream[(Long, java.sql.Timestamp, Long, String)]
    val out = graft.streaming.TransitionStream.transitions(
      mem.toDF().toDF("event_id", "ts", "user_id", "event_type"))
    val q = out.writeStream.format("memory").queryName("trans_stream")
      .outputMode("append").start()
    try {
      mem.addData(b1: _*); q.processAllAvailable()
      mem.addData(b2: _*); q.processAllAvailable()
      val streamed = spark.table("trans_stream").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
        .groupBy(x => x).view.mapValues(_.length).toMap
      val batch = (b1 ++ b2).toDF("event_id", "ts", "user_id", "event_type")
        .withColumn("to_type", org.apache.spark.sql.functions.lead(col("event_type"), 1).over(
          org.apache.spark.sql.expressions.Window.partitionBy(col("user_id"))
            .orderBy(unix_micros(col("ts")), col("event_id"))))
        .where(col("to_type").isNotNull)
        .select(col("user_id"), col("event_type"), col("to_type")).collect()
        .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
        .groupBy(x => x).view.mapValues(_.length).toMap
      assert(streamed == batch, s"stream $streamed vs batch $batch")
      // the cross-batch transition for user 7 (click@b1 -> purchase@b2) exists
      assert(streamed.contains((7L, "click", "purchase")))
    } finally q.stop()
  }

  test("streaming LM scoring matches the batch scorer bit-for-bit per batch") {
    import spark.implicits._
    implicit val s = spark
    implicit val sqlCtx = spark.sqlContext

    val train = Seq(
      (1L, "the cat sat on the mat and the cat sat again"),
      (2L, "the dog sat on the mat too")).toDF("doc_id", "text")
    val lm = graft.ops.TextOps.trainBigramLm(train, col("doc_id"), col("text"))
    val arrivals = Seq(
      (100L, "the cat sat on the mat"),
      (101L, "zz qq vv xx yy unseen garbage entirely"),
      (102L, "one"))
    val mem = MemoryStream[(Long, String)]
    val got = scala.collection.mutable.Map.empty[Long, (Long, Double)]
    val ckpt = java.nio.file.Files.createTempDirectory("lm_score_ckpt").toString
    val q = graft.streaming.LmScoreJob.start(
      mem.toDF().toDF("doc_id", "text"), lm,
      out => got.synchronized {
        out.collect().foreach(r => got(r.getLong(0)) =
          (r.getAs[Long]("n_bigrams"), r.getAs[Double]("xent_nats")))
      },
      ckpt,
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(0))
    try {
      mem.addData(arrivals.take(2): _*)
      q.processAllAvailable()
      mem.addData(arrivals.drop(2): _*) // later batch scores against the SAME model
      q.processAllAvailable()
      val batchScores = graft.ops.TextOps.scoreBigramLm(
          arrivals.toDF("doc_id", "text"), col("doc_id"), col("text"), lm)
        .collect()
        .map(r => r.getLong(0) ->
          (r.getAs[Long]("n_bigrams"), r.getAs[Double]("xent_nats"))).toMap
      assert(got.toMap == batchScores, s"stream $got vs batch $batchScores")
      assert(got(100L)._2 < got(101L)._2) // fluent beats garbage at the gate
      assert(got(102L) == ((0L, 0.0)))    // <2 tokens -> zero-bigram floor
    } finally { q.stop(); graft.ops.Caches.drainAll(spark) }
  }

  test("streaming source-overlap sketch folds to the batch sketch bit-for-bit") {
    import spark.implicits._
    implicit val s = spark
    implicit val sqlCtx = spark.sqlContext

    val batch1 = Seq(
      ("a", "alpha beta gamma delta epsilon zeta eta theta"),
      ("b", "alpha beta gamma delta epsilon zeta eta theta"), // clone of a
      ("c", "one two three four five six seven eight nine"))
    val batch2 = Seq(
      ("a", "extra alpha content beta arriving later gamma delta"),
      ("c", "ten eleven twelve thirteen fourteen fifteen sixteen"))
    val mem = MemoryStream[(String, String)]
    @volatile var last: Map[(String, String), Double] = Map.empty
    val ckpt = java.nio.file.Files.createTempDirectory("overlap_ckpt").toString
    val q = graft.streaming.SourceOverlapJob.start(
      mem.toDF().toDF("source", "text"),
      out => last = out.collect()
        .map(r => (r.getString(0), r.getString(1)) -> r.getDouble(2)).toMap,
      ckpt, w = 3, k = 32,
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(0))
    try {
      mem.addData(batch1: _*)
      q.processAllAvailable()
      val afterB1 = last
      assert(afterB1(("a", "b")) == 1.0, s"clones must match fully: $afterB1")
      mem.addData(batch2: _*)
      q.processAllAvailable()
      // mergeability: folded state == one-shot batch sketch on ALL docs
      val whole = (batch1 ++ batch2).toDF("source", "text")
      val batchSketch = graft.ops.Dedup.sourceOverlapSketch(
          whole, col("source"), col("text"), w = 3, k = 32)
        .collect().map(r => (r.getString(0), r.getString(1)) -> r.getDouble(2))
        .toMap
      assert(last == batchSketch, s"stream $last vs batch $batchSketch")
      // a's later-arriving extra content must have LOWERED the a/b estimate
      assert(last(("a", "b")) < afterB1(("a", "b")), s"$afterB1 -> $last")
    } finally { q.stop(); graft.ops.Caches.drainAll(spark) }
  }

  test("streaming eval monitor: folded confusion stats equal the one-shot batch table") {
    import spark.implicits._
    implicit val s = spark
    implicit val sqlCtx = spark.sqlContext
    val batch1 = Seq(("en", "en"), ("en", "es"), ("es", "es"), ("de", "de"))
    val batch2 = Seq(("en", "en"), ("es", "de"), ("de", "de"), ("fr", "en"))
    val mem = MemoryStream[(String, String)]
    @volatile var last: Array[org.apache.spark.sql.Row] = Array.empty
    val ckpt = java.nio.file.Files.createTempDirectory("evalmon").toString
    val q = graft.streaming.EvalMonitorJob.start(
      mem.toDF().toDF("pred", "gold"),
      out => last = out.orderBy(col("cls")).collect(),
      ckpt,
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(0))
    try {
      mem.addData(batch1: _*); q.processAllAvailable()
      val afterB1 = last.map(_.toSeq)
      val oneShot1 = graft.ops.Eval.confusionStats(
          batch1.toDF("pred", "gold"), col("pred"), col("gold"))
        .orderBy(col("cls")).collect().map(_.toSeq)
      assert(afterB1.toSeq == oneShot1.toSeq)
      mem.addData(batch2: _*); q.processAllAvailable()
      val oneShot = graft.ops.Eval.confusionStats(
          (batch1 ++ batch2).toDF("pred", "gold"), col("pred"), col("gold"))
        .orderBy(col("cls")).collect().map(_.toSeq)
      assert(last.map(_.toSeq).toSeq == oneShot.toSeq,
        s"stream ${last.toSeq} vs batch ${oneShot.toSeq}")
    } finally { q.stop(); graft.ops.Caches.drainAll(spark) }
  }

  test("streaming mixture monitor: folded DoReMi table equals the one-shot batch weights") {
    import spark.implicits._
    implicit val s = spark
    implicit val sqlCtx = spark.sqlContext
    val batch1 = Seq(("web", 120L), ("web", 80L), ("code", 300L), ("books", 100L))
    val batch2 = Seq(("web", 90L), ("code", 500L), ("code", 260L), ("books", 110L))
    val mem = MemoryStream[(String, Long)]
    @volatile var last: Array[org.apache.spark.sql.Row] = Array.empty
    val ckpt = java.nio.file.Files.createTempDirectory("mixmon").toString
    val q = graft.streaming.MixtureMonitorJob.start(
      mem.toDF().toDF("stratum", "loss"),
      out => last = out.orderBy(col("stratum")).collect(),
      ckpt,
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(0))
    try {
      mem.addData(batch1: _*); q.processAllAvailable()
      val oneShot1 = graft.ops.Mix.doremiWeights(
          batch1.toDF("stratum", "loss"), col("stratum"), col("loss"))
        .orderBy(col("stratum")).collect().map(_.toSeq)
      assert(last.map(_.toSeq).toSeq == oneShot1.toSeq)
      mem.addData(batch2: _*); q.processAllAvailable()
      val oneShot = graft.ops.Mix.doremiWeights(
          (batch1 ++ batch2).toDF("stratum", "loss"), col("stratum"), col("loss"))
        .orderBy(col("stratum")).collect().map(_.toSeq)
      assert(last.map(_.toSeq).toSeq == oneShot.toSeq,
        s"stream ${last.toSeq} vs batch ${oneShot.toSeq}")
      // code's losses dominate: its alpha must exceed the uniform share
      val alphas = last.map(r => r.getString(0) -> r.getDouble(5)).toMap
      assert(alphas("code") > 1.0 / 3.0, alphas.toString)
    } finally { q.stop(); graft.ops.Caches.drainAll(spark) }
  }

  // ---- monitor restart: every batch-id-guarded fold ----

  /** A monitor whose fold merges each batch id at most once. `start` takes
    * (stream, outSink, checkpoint, initial state, initial batch id, state
    * sink); `oneShot` is the batch op over the same input.
    */
  private case class GuardedMonitor(
      name: String,
      batches: SparkSession => (DataFrame, DataFrame),
      start: (DataFrame, DataFrame => Unit, String, Option[DataFrame], Long,
              Option[(Long, DataFrame) => Unit]) => StreamingQuery,
      oneShot: DataFrame => DataFrame)

  private val pt0 = org.apache.spark.sql.streaming.Trigger.ProcessingTime(0)
  private val driftEdges = Seq(10.0, 20.0, 30.0, 40.0)

  private val guardedMonitors = Seq(
    GuardedMonitor("eval",
      s => { import s.implicits._
        (Seq(("en", "en"), ("en", "es"), ("es", "es")).toDF("pred", "gold"),
         Seq(("de", "de"), ("es", "en")).toDF("pred", "gold")) },
      (in, out, ck, init, id, sink) => graft.streaming.EvalMonitorJob.start(in, out, ck,
        initialCells = init, initialBatchId = id, cellsSink = sink, trigger = pt0)(in.sparkSession),
      df => graft.ops.Eval.confusionStats(df, col("pred"), col("gold"))),
    GuardedMonitor("mixture",
      s => { import s.implicits._
        (Seq(("web", 120L), ("web", 80L), ("code", 300L), ("books", 100L)).toDF("stratum", "loss"),
         Seq(("web", 90L), ("code", 500L), ("code", 260L), ("books", 110L))
           .toDF("stratum", "loss")) },
      (in, out, ck, init, id, sink) => graft.streaming.MixtureMonitorJob.start(in, out, ck,
        initialCells = init, initialBatchId = id, cellsSink = sink, trigger = pt0)(in.sparkSession),
      df => graft.ops.Mix.doremiWeights(df, col("stratum"), col("loss"))),
    GuardedMonitor("profile",
      s => { import s.implicits._
        (Seq((1L, Option("x")), (2L, Option.empty[String]), (3L, Option("x"))).toDF("id", "sval"),
         Seq((4L, Option("y")), (5L, Option("x"))).toDF("id", "sval")) },
      (in, out, ck, init, id, sink) => graft.streaming.ProfileMonitorJob.start(in, Seq("sval"),
        out, ck, initialCells = init, initialBatchId = id, cellsSink = sink,
        trigger = pt0)(in.sparkSession),
      df => graft.ops.Profile.columnProfile(df, Seq("sval"))),
    GuardedMonitor("score-drift",
      s => { import s.implicits._
        (Seq(12.0, 22.0, 22.0, 8.0).toDF("score"), Seq(33.0, 41.0, 22.0).toDF("score")) },
      (in, out, ck, init, id, sink) => graft.streaming.ScoreDriftJob.start(in,
        driftRef(in.sparkSession), driftEdges, out, ck, initialCounts = init,
        initialBatchId = id, countsSink = sink, trigger = pt0)(in.sparkSession),
      df => graft.ops.Eval.driftFromCounts(
        graft.ops.Eval.bucketCounts(df, col("score"), driftEdges),
        driftRef(df.sparkSession), driftEdges)),
    GuardedMonitor("embed-drift",
      s => { import s.implicits._
        val rnd = new scala.util.Random(3)
        def mk(n: Int, base: Long) = Seq.tabulate(n)(k =>
          (base + k, Array.fill(4)(rnd.nextFloat() * 0.5f - 0.25f))).toDF("vec_id", "embedding")
        (mk(30, 0L), mk(20, 1000L)) },
      (in, out, ck, init, id, sink) => graft.streaming.EmbedDriftJob.start(in, out, ck,
        dim = 4, initialMoments = init, initialBatchId = id, momentsSink = sink,
        trigger = pt0)(in.sparkSession),
      df => graft.ops.LinAlg.embedCovariance(df, "embedding", dim = 4)))

  private def driftRef(s: SparkSession): DataFrame = {
    import s.implicits._
    graft.ops.Eval.bucketCounts(Seq(5.0, 15.0, 15.0, 25.0, 35.0, 45.0).toDF("v"), col("v"),
      driftEdges)
  }

  for (m <- guardedMonitors)
    test(s"${m.name} monitor restart: batch-id guard makes a replayed batch a no-op, " +
         "counts stay exact") {
      val (b1, b2) = m.batches(spark)
      def rows(df: DataFrame): Seq[String] = df.collect().map(_.toString).toSeq.sorted
      val enc = org.apache.spark.sql.Encoders.row(b1.schema)
      @volatile var last: Seq[String] = Seq.empty
      @volatile var savedId = Long.MinValue
      @volatile var saved: Array[Row] = Array.empty
      @volatile var stateSchema: org.apache.spark.sql.types.StructType = null
      val sink: Option[(Long, DataFrame) => Unit] = Some((id, state) => {
        savedId = id; saved = state.collect(); stateSchema = state.schema
      })
      // one stream over a fresh checkpoint: each batch is fed and processed
      def run(init: Option[DataFrame], initId: Long)(batches: (DataFrame, Seq[String])*): Unit = {
        val mem = MemoryStream[Row](enc, spark)
        val ck = java.nio.file.Files.createTempDirectory("monitor_restart").toString
        val q = m.start(mem.toDF(), out => last = rows(out), ck, init, initId, sink)
        try batches.foreach { case (in, want) =>
          mem.addData(in.collect().toSeq: _*); q.processAllAvailable()
          assert(last == want, s"${m.name}: stream $last vs batch $want")
        } finally q.stop()
      }
      try {
        val oneShot1 = rows(m.oneShot(b1))
        run(None, Long.MinValue)(b1 -> oneShot1)
        assert(savedId == 0L && saved.nonEmpty)
        // restart after a crash that persisted the snapshot but not the
        // offset: batch 1 replays as id 0 in the fresh run, and the guard
        // must skip its merge, else it double-counts
        val snapshot = spark.createDataFrame(java.util.Arrays.asList(saved: _*), stateSchema)
        run(Some(snapshot), savedId)(b1 -> oneShot1, b2 -> rows(m.oneShot(b1.union(b2))))
        assert(savedId == 1L)
      } finally graft.ops.Caches.drainAll(spark)
    }

  test("streaming embed-drift monitor: folded covariance equals the one-shot batch matrix") {
    import spark.implicits._
    implicit val s = spark
    implicit val sqlCtx = spark.sqlContext
    val rnd = new scala.util.Random(3)
    def mk(n: Int, base: Long) = Seq.tabulate(n)(k =>
      (base + k, Array.fill(4)(rnd.nextFloat() * 0.5f - 0.25f)))
    val batch1 = mk(30, 0L)
    val batch2 = mk(20, 1000L)
    val mem = MemoryStream[(Long, Array[Float])]
    @volatile var last: Array[org.apache.spark.sql.Row] = Array.empty
    @volatile var savedId = Long.MinValue
    @volatile var savedMoments: Seq[(Int, Int, Long, Long, Long, Long)] = Seq.empty
    val ckpt = java.nio.file.Files.createTempDirectory("drift").toString
    val q = graft.streaming.EmbedDriftJob.start(
      mem.toDF().toDF("vec_id", "embedding"),
      out => last = out.orderBy(col("i"), col("j")).collect(),
      ckpt, vecCol = "embedding", dim = 4,
      momentsSink = Some((id, m) => {
        savedId = id
        savedMoments = m.collect().map(r => (r.getInt(0), r.getInt(1),
          r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))).toSeq
      }),
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(0))
    try {
      mem.addData(batch1: _*); q.processAllAvailable()
      mem.addData(batch2: _*); q.processAllAvailable()
      val oneShot = graft.ops.LinAlg.embedCovariance(
          (batch1 ++ batch2).toDF("vec_id", "embedding"), "embedding", dim = 4)
        .orderBy(col("i"), col("j")).collect()
      assert(last.map(_.toSeq).toSeq == oneShot.map(_.toSeq).toSeq,
        s"stream ${last.take(3).toSeq} vs batch ${oneShot.take(3).toSeq}")
      assert(savedId == 1L && savedMoments.size == 10) // 4*(4+1)/2 pairs
    } finally { q.stop(); graft.ops.Caches.drainAll(spark) }

    // restart with the replayed-batch guard (the EvalMonitorJob contract)
    val mem2 = MemoryStream[(Long, Array[Float])]
    val q2 = graft.streaming.EmbedDriftJob.start(
      mem2.toDF().toDF("vec_id", "embedding"),
      out => last = out.orderBy(col("i"), col("j")).collect(),
      java.nio.file.Files.createTempDirectory("drift2").toString,
      vecCol = "embedding", dim = 4,
      initialMoments = Some(savedMoments
        .toDF("i", "j", "n", "s_ij", "s_i", "s_j")),
      initialBatchId = savedId,
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(0))
    try {
      mem2.addData(batch1: _*); q2.processAllAvailable() // id 0 <= 1: skipped
      mem2.addData(batch2: _*); q2.processAllAvailable() // id 1 <= 1: skipped
      val batch3 = mk(10, 2000L)
      mem2.addData(batch3: _*); q2.processAllAvailable() // id 2 > 1: merged
      val oneShot = graft.ops.LinAlg.embedCovariance(
          (batch1 ++ batch2 ++ batch3).toDF("vec_id", "embedding"),
          "embedding", dim = 4)
        .orderBy(col("i"), col("j")).collect()
      assert(last.map(_.toSeq).toSeq == oneShot.map(_.toSeq).toSeq,
        "replayed batches must not double-count")
    } finally { q2.stop(); graft.ops.Caches.drainAll(spark) }
  }

  test("streaming score-drift monitor: folded (psi, w1) equal the one-shot batch pair") {
    import spark.implicits._
    implicit val s = spark
    implicit val sqlCtx = spark.sqlContext
    val edges = Seq(10.0, 20.0, 30.0, 40.0)
    val ref = Seq(5.0, 15.0, 15.0, 25.0, 35.0, 45.0).toDF("v")
    val refCounts = graft.ops.Eval.bucketCounts(ref, col("v"), edges)
      .persist()
    val batch1 = Seq(12.0, 22.0, 22.0, 8.0)
    val batch2 = Seq(33.0, 41.0, 22.0)
    val mem = MemoryStream[Double]
    @volatile var last: Array[org.apache.spark.sql.Row] = Array.empty
    @volatile var savedId = Long.MinValue
    @volatile var savedCounts: Seq[(Long, Long)] = Seq.empty
    val q = graft.streaming.ScoreDriftJob.start(
      mem.toDF().toDF("score"), refCounts, edges,
      out => last = out.collect(),
      java.nio.file.Files.createTempDirectory("scoredrift").toString,
      countsSink = Some((id, cdf) => {
        savedId = id
        savedCounts = cdf.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      }),
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(0))
    try {
      mem.addData(batch1: _*); q.processAllAvailable()
      mem.addData(batch2: _*); q.processAllAvailable()
      // one-shot truth: both metrics off the raw faces over the union
      val all = (batch1 ++ batch2).toDF("v")
      val psiRef = graft.ops.Eval.psi(all, ref, col("v"), edges)
        .collect()(0).getDouble(3)
      val w1Ref = graft.ops.Eval.wasserstein1(all, ref, col("v"), edges)
        .collect()(0)
      assert(last.length == 1)
      val r = last(0)
      assert(r.getLong(0) == 7L && r.getLong(1) == 6L)
      assert(r.getDouble(3) == psiRef, s"psi ${r.getDouble(3)} vs $psiRef")
      assert(r.getDouble(4) == w1Ref.getDouble(3),
        s"w1 ${r.getDouble(4)} vs ${w1Ref.getDouble(3)}")
      assert(r.getDouble(5) == w1Ref.getDouble(4))
      assert(savedId == 1L && savedCounts.map(_._2).sum == 7L)
    } finally { q.stop(); graft.ops.Caches.drainAll(spark) }

    // restart: rehydrated counts + batch-id guard — replay is a no-op
    val mem2 = MemoryStream[Double]
    val q2 = graft.streaming.ScoreDriftJob.start(
      mem2.toDF().toDF("score"), refCounts, edges,
      out => last = out.collect(),
      java.nio.file.Files.createTempDirectory("scoredrift2").toString,
      initialCounts = Some(savedCounts.toDF("bucket", "cnt")),
      initialBatchId = savedId,
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(0))
    try {
      mem2.addData(batch1: _*); q2.processAllAvailable() // id 0 <= 1: skipped
      mem2.addData(batch2: _*); q2.processAllAvailable() // id 1 <= 1: skipped
      mem2.addData(Seq(18.0, 28.0): _*); q2.processAllAvailable() // id 2: merged
      val all = (batch1 ++ batch2 ++ Seq(18.0, 28.0)).toDF("v")
      val w1Ref = graft.ops.Eval.wasserstein1(all, ref, col("v"), edges)
        .collect()(0)
      assert(last(0).getLong(0) == 9L, "replayed batch must not double-count")
      assert(last(0).getDouble(4) == w1Ref.getDouble(3))
    } finally {
      q2.stop(); refCounts.unpersist(); graft.ops.Caches.drainAll(spark)
    }
  }

  test("source-overlap sketch restart: cellsSink snapshot rehydrates to the uninterrupted run") {
    import spark.implicits._
    implicit val s = spark
    implicit val sqlCtx = spark.sqlContext

    val batch1 = Seq(
      ("a", "alpha beta gamma delta epsilon zeta eta theta"),
      ("b", "alpha beta gamma delta epsilon zeta eta theta"),
      ("c", "one two three four five six seven eight nine"))
    val batch2 = Seq(
      ("a", "extra alpha content beta arriving later gamma delta"),
      ("c", "ten eleven twelve thirteen fourteen fifteen sixteen"))
    val ckpt = java.nio.file.Files.createTempDirectory("overlap_restart").toString
    // the caller's durable store: latest raw (src, j, v) snapshot,
    // overwritten per trigger (min-mergeable, so latest-wins is safe)
    @volatile var savedCells: Seq[(String, Int, Long)] = Seq.empty
    @volatile var last: Map[(String, String), Double] = Map.empty

    val mem1 = MemoryStream[(String, String)]
    val q1 = graft.streaming.SourceOverlapJob.start(
      mem1.toDF().toDF("source", "text"),
      out => last = out.collect()
        .map(r => (r.getString(0), r.getString(1)) -> r.getDouble(2)).toMap,
      ckpt, w = 3, k = 32,
      cellsSink = Some(cells => savedCells = cells.collect()
        .map(r => (r.getString(0), r.getInt(1), r.getLong(2))).toSeq),
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(0))
    try {
      mem1.addData(batch1: _*)
      q1.processAllAvailable()
    } finally { q1.stop() }
    assert(savedCells.nonEmpty, "cellsSink must have seen the batch-1 state")

    // "restart": batch 1's offsets were committed, so the source will NOT
    // replay them (simulated here by feeding only the post-crash
    // increment), and the driver-held state is gone — rehydrate it from
    // the caller's snapshot
    val mem2 = MemoryStream[(String, String)]
    val ckpt2 = java.nio.file.Files.createTempDirectory("overlap_restart2").toString
    val q2 = graft.streaming.SourceOverlapJob.start(
      mem2.toDF().toDF("source", "text"),
      out => last = out.collect()
        .map(r => (r.getString(0), r.getString(1)) -> r.getDouble(2)).toMap,
      ckpt2, w = 3, k = 32,
      initialCells = Some(savedCells.toDF("src", "j", "v")),
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(0))
    try {
      mem2.addData(batch2: _*)
      q2.processAllAvailable()
      val whole = (batch1 ++ batch2).toDF("source", "text")
      val oneShot = graft.ops.Dedup.sourceOverlapSketch(
          whole, col("source"), col("text"), w = 3, k = 32)
        .collect().map(r => (r.getString(0), r.getString(1)) -> r.getDouble(2))
        .toMap
      assert(last == oneShot,
        s"rehydrated resume $last differs from uninterrupted $oneShot")
    } finally { q2.stop(); graft.ops.Caches.drainAll(spark) }
  }

  test("profile monitor: stream == batch bitwise, replayed batch a no-op after restart") {
    import spark.implicits._
    implicit val s = spark
    implicit val sqlCtx = spark.sqlContext
    val batch1 = Seq((1L, Option("x")), (2L, Option.empty[String]),
      (3L, Option("x")))
    val batch2 = Seq((4L, Option("y")), (5L, Option("x")))
    @volatile var last: Array[org.apache.spark.sql.Row] = Array.empty
    @volatile var savedId = Long.MinValue
    @volatile var savedCells: Seq[(String, Option[String], Long)] = Seq.empty

    val mem1 = MemoryStream[(Long, Option[String])]
    val q1 = graft.streaming.ProfileMonitorJob.start(
      mem1.toDF().toDF("id", "sval"), Seq("sval"),
      out => last = out.orderBy(col("column")).collect(),
      java.nio.file.Files.createTempDirectory("profmon_r1").toString,
      cellsSink = Some((id, cells) => {
        savedId = id
        savedCells = cells.collect()
          .map(r => (r.getString(0), Option(r.getString(1)), r.getLong(2)))
          .toSeq
      }),
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(0))
    try {
      mem1.addData(batch1: _*); q1.processAllAvailable()
      val oneShot1 = graft.ops.Profile.columnProfile(
          batch1.toDF("id", "sval"), Seq("sval"))
        .orderBy(col("column")).collect().map(_.toSeq)
      assert(last.map(_.toSeq).toSeq == oneShot1.toSeq,
        s"stream ${last.toSeq} vs batch ${oneShot1.toSeq}")
    } finally { q1.stop() }
    assert(savedId == 0L && savedCells.nonEmpty)

    // restart after "snapshot persisted, offset not": batch 1 replays as
    // id 0 — the guard must skip its merge, else null/top counts double
    val mem2 = MemoryStream[(Long, Option[String])]
    val q2 = graft.streaming.ProfileMonitorJob.start(
      mem2.toDF().toDF("id", "sval"), Seq("sval"),
      out => last = out.orderBy(col("column")).collect(),
      java.nio.file.Files.createTempDirectory("profmon_r2").toString,
      initialCells = Some(savedCells.toDF("column", "v", "m")),
      initialBatchId = savedId,
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(0))
    try {
      mem2.addData(batch1: _*); q2.processAllAvailable() // replayed: skipped
      mem2.addData(batch2: _*); q2.processAllAvailable() // new: merged
      val oneShot = graft.ops.Profile.columnProfile(
          (batch1 ++ batch2).toDF("id", "sval"), Seq("sval"))
        .orderBy(col("column")).collect().map(_.toSeq)
      assert(last.map(_.toSeq).toSeq == oneShot.toSeq,
        s"replayed batch must not double-count: ${last.toSeq} vs ${oneShot.toSeq}")
      // the merged profile sees both batches: 5 rows, 1 null, top x(3)
      val r = last(0)
      assert(r.getAs[Long]("n_rows") == 5L && r.getAs[Long]("n_null") == 1L)
      assert(r.getAs[String]("top_value") == "x" &&
        r.getAs[Long]("top_freq") == 3L)
    } finally { q2.stop(); graft.ops.Caches.drainAll(spark) }
  }

  // ---- checkpoint file system (PerBatch) ----

  /** Runs `body` with the session's `fs.AbstractFileSystem.file.impl` set to
    * `impl` (None: unset, so PerBatch picks), then restores it.
    */
  private def withLocalFs[T](impl: Option[String])(body: => T): T = {
    val key = PerBatch.LocalFsKey
    val before = spark.conf.getOption(key)
    def put(v: Option[String]): Unit = v.fold(spark.conf.unset(key))(spark.conf.set(key, _))
    put(impl)
    try body finally put(before)
  }

  private def logFile(dir: java.nio.file.Path, name: String, ids: Range): Unit =
    java.nio.file.Files.write(dir.resolve(name), ids.map(i =>
      s"""{"log_type":"app","log_id":"$i","time":"2026-08-12T01:00:00Z"}""").mkString("\n")
      .getBytes("UTF-8"))

  private def writtenIds(out: String): Seq[Int] = {
    import spark.implicits._
    spark.read.text(s"$out/${PipelineConfig().pathPrefix}").select("value").as[String].collect().toSeq
      .map(l => """"log_id":"(\d+)"""".r.findFirstMatchIn(l).get.group(1).toInt).sorted
  }

  test("a checkpointed LogStreamJob run starts no process from its stream execution thread") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-stream-forks")
    val in = java.nio.file.Files.createDirectory(tmp.resolve("in"))
    (0 until 3).foreach(k => logFile(in, s"f-$k.json", k * 10 until k * 10 + 10))
    val (_, forks) = withLocalFs(None) {
      Forks.during {
        val q = LogStreamJob.startFromTextDir(spark, in.toString, PipelineConfig(),
          s"$tmp/out", s"$tmp/cp", maxFilesPerTrigger = Some(1))
        q.awaitTermination(60000)
      }
    }
    // three micro-batches, each logged in offsets, commits and the source log
    assert(new java.io.File(s"$tmp/cp/commits").list().count(_.matches("\\d+")) == 3)
    assert(writtenIds(s"$tmp/out") == (0 until 30))
    val onStream = forks.filter(_.getThread.getJavaName.contains("stream execution thread"))
    assert(onStream.isEmpty, Forks.describe(onStream))
  }

  test("each LogStreamJob micro-batch write parses each payload's JSON once") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-stream-once")
    val in = java.nio.file.Files.createDirectory(tmp.resolve("in"))
    (0 until 2).foreach(k => logFile(in, s"f-$k.json", k * 10 until k * 10 + 10))
    val plans = PlanAudit.writePlans(spark, 2) {
      val q = LogStreamJob.startFromTextDir(spark, in.toString,
        PipelineConfig(whitelist = Seq("app")), s"$tmp/out", s"$tmp/cp", maxFilesPerTrigger = Some(1))
      q.awaitTermination(60000)
      assert(q.exception.isEmpty)
    }
    assert(plans.size == 2)
    plans.foreach(PlanAudit.assertParsesOnce)
    assert(writtenIds(s"$tmp/out") == (0 until 20))
  }

  test("a checkpoint resumes exactly once across the stock and the fork-free LocalFs, both ways") {
    val stock = "org.apache.hadoop.fs.local.LocalFs"
    for ((first, second) <- Seq(Some(stock) -> None, None -> Some(stock))) {
      val tmp = java.nio.file.Files.createTempDirectory("graft-stream-fs")
      val in = java.nio.file.Files.createDirectory(tmp.resolve("in"))
      def run(impl: Option[String]): Unit = withLocalFs(impl) {
        val q = LogStreamJob.startFromTextDir(spark, in.toString, PipelineConfig(),
          s"$tmp/out", s"$tmp/cp", maxFilesPerTrigger = Some(1))
        q.awaitTermination(60000)
        assert(q.exception.isEmpty)
        // an explicit choice stands; an unset key gets the fork-free one
        assert(spark.conf.get(PerBatch.LocalFsKey) ==
          impl.getOrElse(classOf[graft.io.ForkFreeLocalFs].getName))
      }
      logFile(in, "f-0.json", 1 to 3); logFile(in, "f-1.json", 4 to 6)
      run(first)
      logFile(in, "f-2.json", 7 to 9)
      run(second)
      assert(writtenIds(s"$tmp/out") == (1 to 9), s"$first then $second")
      assert(new java.io.File(s"$tmp/cp/commits").list().count(_.matches("\\d+")) == 3)
    }
  }
}
