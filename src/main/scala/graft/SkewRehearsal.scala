package graft

import org.apache.spark.sql.functions._

/** Measurement tooling (not part of the engine): the LM hash-key SKEW
  * rehearsal the r11 verdict asked for (its item 5). Question under test:
  * when the unigram/bigram model tables are too big to broadcast (the
  * 100 TB regime), the stupid-backoff scoring joins key on xxhash64 of
  * grams (`h2`/`h3` in trigram_hash_keys) — do Zipf-hot function words give
  * one hash partition so much mass that the join stage degenerates?
  *
  * Setup: a 10× corpus of disjoint per-replica token namespaces (the
  * ScaleRehearsal recipe) EXCEPT a stop-list of Zipf-head words that stays
  * UNsuffixed — those keys keep their full corpus-wide mass at 10× scale
  * (each is ~1–7% of all gram instances, the hot-key regime), while the
  * vocabulary tail grows 10×. Joins are forced off broadcast
  * (autoBroadcastJoinThreshold = -1, the at-scale strategy) and AQE skew
  * handling keeps its defaults. The artifact records, per shuffle-heavy
  * stage of the scoring query: task count, max/median task time, and
  * max/median shuffle-read bytes. Acceptance (verdict wording): max/median
  * task time ≤ ~2× on the join stages.
  *
  * Run: sbt "runMain graft.SkewRehearsal"; writes
  * target/skew_rehearsal.json and prints the per-stage table.
  */
object SkewRehearsal {
  def main(args: Array[String]): Unit = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = SparkEntry.session(cpus)
    // the at-scale join regime: model tables do NOT broadcast
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    import spark.implicits._

    val src = "/root/testdata/sf0.1"
    // Zipf-head stop list: stays shared across all 10 replicas, so each
    // keeps its full relative mass while the key space grows 10x
    val hot = Seq("the", "a", "of", "and", "to", "in", "is", "data")
    val hotSet = hot.toSet
    val hotLit = typedLit(hot)
    val docs10 = Tables(spark, src, "documents")
      .withColumn("rep", explode(sequence(lit(0), lit(9))))
      .select((col("doc_id") * 10L + col("rep")).as("doc_id"),
        when(col("rep") === 0, col("text"))
          .otherwise(array_join(transform(split(col("text"), " "),
            t => when(array_contains(hotLit, t), t)
              .otherwise(concat(t, lit("_r"), col("rep")))), " ")).as("text"))
      .repartition(cpus)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val nDocs = docs10.count()

    // how hot is the hottest unigram key, as a share of gram instances?
    val uniShares = docs10
      .select(explode(graft.functions.gfn.tokens(col("text"))).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("c"))
      .orderBy(col("c").desc).limit(12).collect()
      .map(r => (r.getString(0), r.getLong(1)))
    val totalToks = docs10
      .select(sum(size(graft.functions.gfn.tokens(col("text")))).cast("long"))
      .head().getLong(0)

    // per-stage task metrics
    val stageAgg = new java.util.concurrent.ConcurrentHashMap[Int,
      scala.collection.mutable.ArrayBuffer[(Long, Long)]]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(
          t: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
        val m = t.taskMetrics
        if (m != null) {
          stageAgg.computeIfAbsent(t.stageId,
            _ => scala.collection.mutable.ArrayBuffer.empty)
            .synchronized {
              stageAgg.get(t.stageId) +=
                ((t.taskInfo.duration, m.shuffleReadMetrics.totalBytesRead))
            }
        }
      }
    }
    spark.sparkContext.addSparkListener(listener)

    spark.sparkContext.setJobDescription("skew rehearsal: stupid-backoff scoring at 10x, no broadcast")
    val t0 = System.nanoTime()
    graft.ops.TextOps.stupidBackoffScore(
        docs10, col("doc_id"), col("text"),
        trainGate = graft.ops.Mix.hashGate(col("doc_id")) < 500)
      .write.format("noop").mode("overwrite").save()
    val wall = (System.nanoTime() - t0) / 1e9
    spark.sparkContext.removeSparkListener(listener)
    Thread.sleep(500) // let listener events drain

    def med(xs: Seq[Long]): Long = { val s = xs.sorted; s((s.length - 1) / 2) }
    import scala.jdk.CollectionConverters._
    val rows = stageAgg.asScala.toSeq
      .map { case (sid, buf) =>
        val (durs, reads) = buf.toSeq.unzip
        (sid, durs.length, durs.max, med(durs), reads.max, med(reads),
          reads.sum)
      }
      .filter(_._7 > (1L << 20)) // shuffle-heavy stages only (> 1 MB read)
      .sortBy(-_._7)
    val report = rows.map { case (sid, n, dmax, dmed, rmax, rmed, rtot) =>
      f"""{"stage":$sid,"tasks":$n,"task_ms_max":$dmax,"task_ms_med":$dmed,""" +
        f""""skew_time":${dmax.toDouble / math.max(dmed, 1)}%.2f,""" +
        f""""shuf_rd_max":$rmax,"shuf_rd_med":$rmed,""" +
        f""""skew_bytes":${rmax.toDouble / math.max(rmed, 1)}%.2f,""" +
        f""""shuf_rd_total":$rtot}"""
    }
    val sharesJson = uniShares.map { case (w, c) =>
      f""""$w":${c.toDouble / totalToks}%.4f"""
    }.mkString("{", ",", "}")
    val json =
      s"""{"rehearsal":"lm_hash_key_skew","n_docs":$nDocs,""" +
        s""""total_tokens":$totalToks,"hot_unigram_shares":$sharesJson,""" +
        f""""wall_sec":$wall%.1f,"broadcast":"disabled (at-scale regime)",""" +
        s""""aqe_skew_join":"default on",""" +
        s""""stages":[${report.mkString(",")}]}"""
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get("target"))
    java.nio.file.Files.write(
      java.nio.file.Paths.get("target/skew_rehearsal.json"),
      json.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    println(s"[skew] wall=${f"$wall%.1f"}s docs=$nDocs toks=$totalToks")
    uniShares.take(8).foreach { case (w, c) =>
      println(f"[skew] unigram '$w' share=${c.toDouble / totalToks}%.4f" +
        (if (hotSet(w)) " (HOT, shared)" else ""))
    }
    rows.take(10).foreach { case (sid, n, dmax, dmed, rmax, rmed, rtot) =>
      println(f"[skew] stage $sid%4d tasks=$n%4d time max/med=${dmax}ms/${dmed}ms " +
        f"(${dmax.toDouble / math.max(dmed, 1)}%.2fx) " +
        f"shufRd max/med=${rmax / 1024}KB/${rmed / 1024}KB " +
        f"(${rmax.toDouble / math.max(rmed, 1)}%.2fx) total=${rtot >> 20}MB")
    }
    docs10.unpersist()
    spark.stop()
  }
}
