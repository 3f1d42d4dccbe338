package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Measurement tooling (not part of the engine): the 10x scale rehearsal the
  * round-4/5 briefs asked for. Synthesizes a "sf1" corpus = 10 replicas of
  * sf0.1 `documents`, each replica in a DISJOINT token namespace (every
  * token of replica r > 0 is suffixed `_r<r>`), so:
  *   - corpus size, vocabulary, and near-dup PAIR COUNT all scale exactly
  *     10x (each replica reproduces sf0.1's internal duplicate structure;
  *     no cross-replica shingle overlap, so no synthetic quadratic pair
  *     blow-up that would mask or fake a plan problem);
  *   - the expensive family (q25/q44/q47/q85/q100/q104/q105) then measures
  *     the sf0.1 -> sf1 wall-time ratio: ~10x (linear) means the plan's
  *     scaling argument holds; markedly super-linear is a finding.
  * Other tables are symlinked from sf0.1 (the family only reads documents).
  * Results append to target/scale_rehearsal.json and are summarized by hand
  * in SCALE.md.
  */
object ScaleRehearsal {
  def main(args: Array[String]): Unit = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = SparkEntry.session(cpus)

    val src = "/root/testdata/sf0.1"
    val sf1 = sys.env.getOrElse("SPARK_GRAFT_SF1_DIR", "/tmp/graft_sf1")
    ensureSf1(spark, src, sf1, cpus)
    runFamily(spark, src, sf1, args.toSeq)
    spark.stop()
  }

  /** Build the disjoint-namespace 10x corpus if absent — shared with
    * [[ScaleProbes]], which measures index/probe behavior on the same sf1.
    */
  private[graft] def ensureSf1(spark: SparkSession, src: String, sf1: String,
                               cpus: Int): Unit = {
    val docsOut = s"$sf1/documents.parquet"
    if (!new java.io.File(docsOut).exists()) {
      new java.io.File(sf1).mkdirs()
      Tables(spark, src, "documents")
        .withColumn("rep", explode(sequence(lit(0), lit(9))))
        .select(
          (col("doc_id") * 10L + col("rep")).as("doc_id"),
          when(col("rep") === 0, col("text"))
            .otherwise(array_join(transform(split(col("text"), "\\s+"),
              t => concat(t, lit("_r"), col("rep"))), " ")).as("text"),
          col("lang"), col("source"))
        .withColumn("n_chars", length(col("text")).cast("long"))
        .repartition(cpus)
        .write.mode("overwrite").parquet(docsOut)
      for (t <- Seq("region", "nation", "customer", "supplier", "part",
                    "orders", "lineitem", "events")) {
        val link = java.nio.file.Paths.get(s"$sf1/$t.parquet")
        if (!java.nio.file.Files.exists(link))
          java.nio.file.Files.createSymbolicLink(
            link, java.nio.file.Paths.get(s"$src/$t.parquet"))
      }
      println(s"[scale] built $docsOut")
    }
    val embOut = s"$sf1/embeddings.parquet"
    if (!java.nio.file.Files.exists(java.nio.file.Paths.get(embOut)) ||
        java.nio.file.Files.isSymbolicLink(java.nio.file.Paths.get(embOut))) {
      java.nio.file.Files.deleteIfExists(java.nio.file.Paths.get(embOut))
      // embeddings scale the same way: 10 replicas with fresh vec_ids.
      // The disjoint-namespace analogue for vectors is a per-replica
      // DIMENSION PERMUTATION (i -> i*(2*rep+1)+rep mod 64; odd multiplier
      // = bijection mod 2^6): within a replica every pairwise cosine equals
      // the original corpus's (structure preserved exactly), while
      // cross-replica cosine collapses to noise — so near-dup PAIRS scale
      // 10x, not quadratically. (A small additive nudge fails here the same
      // way plain doc copies fail for text: every replica stays a near-dup
      // of its original and pair count explodes 100x — that variant OOMed
      // the first rehearsal attempt, which is the generator's bug, not the
      // plan's.) Replica 0 is the identity, so probe query ids resolve.
      Tables(spark, src, "embeddings")
        .withColumn("rep", explode(sequence(lit(0), lit(9))))
        .select(
          (col("vec_id") * 10L + col("rep")).as("vec_id"),
          transform(sequence(lit(0), lit(63)),
            i => element_at(col("embedding"),
              pmod(i * (col("rep") * 2 + 1) + col("rep"), lit(64)) + 1))
            .as("embedding"),
          col("label"))
        .repartition(cpus)
        .write.mode("overwrite").parquet(embOut)
      println(s"[scale] built $embOut")
    }

    val custOut = s"$sf1/customer.parquet"
    if (java.nio.file.Files.isSymbolicLink(java.nio.file.Paths.get(custOut))) {
      java.nio.file.Files.deleteIfExists(java.nio.file.Paths.get(custOut))
      // 10x customers for the fuzzy-join rehearsal: fresh keys get fresh
      // zero-padded names, so the edit-distance pair structure grows like a
      // real 10x id space (more significant digits, denser digit-gram
      // buckets) — NOT like replicated text, which would add spurious
      // cross-replica duplicates.
      Tables(spark, src, "customer")
        .withColumn("rep", explode(sequence(lit(0), lit(9))))
        .withColumn("c_custkey", col("c_custkey") * 10L + col("rep"))
        .withColumn("c_name", format_string("Customer#%09d", col("c_custkey")))
        .drop("rep")
        .repartition(cpus)
        .write.mode("overwrite").parquet(custOut)
      println(s"[scale] built $custOut")
    }

    // 10x trade graph for the PageRank/entity rehearsals: disjoint key
    // namespaces per replica -> 10 independent copies of the
    // customer-supplier graph (nodes AND edges scale 10x; no synthetic
    // densification that would fake a quadratic blow-up).
    val ordOut = s"$sf1/orders.parquet"
    if (java.nio.file.Files.isSymbolicLink(java.nio.file.Paths.get(ordOut))) {
      java.nio.file.Files.deleteIfExists(java.nio.file.Paths.get(ordOut))
      Tables(spark, src, "orders")
        .withColumn("rep", explode(sequence(lit(0), lit(9))))
        .withColumn("o_orderkey", col("o_orderkey") * 10L + col("rep"))
        .withColumn("o_custkey", col("o_custkey") * 10L + col("rep"))
        .drop("rep")
        .repartition(cpus)
        .write.mode("overwrite").parquet(ordOut)
      println(s"[scale] built $ordOut")
    }
    // 10x events for the preference/behavior rehearsals (q160): disjoint
    // user-id namespaces per replica -> 10 independent copies of the
    // per-user behavior structure. The item space (event types) stays
    // FIXED — that's the point: corpus-sized work (the per-user type
    // counts) scales 10x while the pair/item tables the MM loop touches
    // stay constant-size.
    val evOut = s"$sf1/events.parquet"
    if (java.nio.file.Files.isSymbolicLink(java.nio.file.Paths.get(evOut))) {
      java.nio.file.Files.deleteIfExists(java.nio.file.Paths.get(evOut))
      Tables(spark, src, "events")
        .withColumn("rep", explode(sequence(lit(0), lit(9))))
        .withColumn("event_id", col("event_id") * 10L + col("rep"))
        .withColumn("user_id", col("user_id") * 10L + col("rep"))
        .drop("rep")
        .repartition(cpus)
        .write.mode("overwrite").parquet(evOut)
      println(s"[scale] built $evOut")
    }
    val liOut = s"$sf1/lineitem.parquet"
    if (java.nio.file.Files.isSymbolicLink(java.nio.file.Paths.get(liOut))) {
      java.nio.file.Files.deleteIfExists(java.nio.file.Paths.get(liOut))
      Tables(spark, src, "lineitem")
        .withColumn("rep", explode(sequence(lit(0), lit(9))))
        .withColumn("l_orderkey", col("l_orderkey") * 10L + col("rep"))
        .withColumn("l_suppkey", col("l_suppkey") * 10L + col("rep"))
        .drop("rep")
        .repartition(cpus)
        .write.mode("overwrite").parquet(liOut)
      println(s"[scale] built $liOut")
    }
  }

  private def runFamily(spark: SparkSession, src: String, sf1: String,
                        args: Seq[String]): Unit = {
    val family =
      if (args.nonEmpty) args
      else Seq("q25_minhash_neardup", "q44_neardup_exact", "q47_dedup_clusters",
        "q85_cluster_safe_split", "q100_training_mix", "q104_line_dedup",
        "q105_vocab_encode",
        // embeddings family (10x vectors): brute-force top-k, both ANN
        // paths, LSH cosine near-dup, batched knn join, BPE learn
        "q27_knn_cosine", "q28_ann_lsh", "q36_ann_ivf", "q35_cosine_neardup",
        "q81_knn_join", "q113_bpe_learn",
        // round-6 additions: clustering, graph, audio, entity resolution
        "q119_kmeans", "q120_pagerank", "q121_audio_frames",
        "q122_entity_resolution", "q123_semantic_dedup",
        "q125_random_projection", "q126_exact_auc")
    def build(name: String, dir: String) = name match {
      // q35 with corpus-sized nBits — the SCALE.md log(corpus) knob; the
      // fixed-nBits catalog q35 is the deliberate super-linear counterpoint
      // q123 with corpus-sized k — the SCALE.md constant-cluster-SIZE knob;
      // the fixed-k catalog q123 is the deliberate super-linear counterpoint
      // (measured 36x at 10x rows), exactly the q35/q35_auto pairing one
      // level up.
      case "q123_auto" =>
        graft.ops.Cluster.semanticDupPairsAuto(
            Tables(spark, dir, "embeddings"), "vec_id", "embedding",
            iters = 2, targetClusterSize = 150, thrNum = 3, thrDen = 10)(spark)
          .orderBy(col("a_id"), col("b_id"))
      // q123 auto-k with the TWO-LEVEL pruned assignment for the pairing
      // pass — measures the large-k assignment escape end-to-end
      case "q123_pruned" =>
        val emb = Tables(spark, dir, "embeddings")
        val n = emb.count()
        val k = math.max(1L, n / 150).toInt
        val cents = graft.ops.Cluster.kmeansCentroids(
          emb, "vec_id", "embedding", k = k, iters = 2)(spark)
        val idx = graft.ops.Cluster.buildPrunedIndex(
          cents, nSuper = math.max(1, math.sqrt(k.toDouble).toInt))
        graft.ops.Cluster.pairsFromAssignment(
            graft.ops.Cluster.assignPruned(emb, "vec_id", "embedding", idx,
              nProbe = 2),
            emb, "vec_id", "embedding", thrNum = 3, thrDen = 10)
          .orderBy(col("a_id"), col("b_id"))
      case "q35_auto" =>
        graft.ops.Similarity.cosineNearDupsAuto(
            Tables(spark, dir, "embeddings"), threshold = 0.4)
          .orderBy(col("a_id"), col("b_id"))
      // the fixed-nBits config the catalog used through r6 — kept here as
      // the measured super-linear counterpoint (>300x at 10x, SCALE.md);
      // catalog q35 now runs the auto sizing
      case "q35_fixed" =>
        graft.ops.Similarity.cosineNearDups(
            Tables(spark, dir, "embeddings"), threshold = 0.4, nBits = 4)
          .orderBy(col("a_id"), col("b_id"))
      // full perceptual near-dup paths (signature extraction + banded
      // hamming join), not just the q129-q131 signature queries: the 10x
      // docs table yields 10x media rows, all content-distinct, so this
      // measures the codec+join cost curve with a ~constant pair count
      case "q129_pairs" =>
        graft.ops.Multimodal.imageNearDups(
          graft.ops.Multimodal.mediaTable(Tables(spark, dir, "documents"))(spark))(spark)
      case "q130_pairs" =>
        graft.ops.Multimodal.audioNearDups(
          graft.ops.Multimodal.mediaTable(Tables(spark, dir, "documents"))(spark))(spark)
      case "q131_pairs" =>
        graft.ops.Multimodal.videoNearDups(
          graft.ops.Multimodal.mediaTable(Tables(spark, dir, "documents"))(spark))(spark)
      // q144's documented extreme-cardinality escape, measured: HLL++
      // approx_count_distinct instead of the expand-based exact distinct
      case "q144_approx" =>
        graft.ops.TextOps.distinctNgramStats(
            graft.ops.Spread(Tables(spark, dir, "documents"), "doc_id"),
            col("source"), col("text"), maxN = 3, approxRsd = Some(0.05))
          .orderBy(col("source"), col("n"))
      // q141's production face, measured: GK-sketch threshold cuts +
      // narrow assignment instead of the exact per-language ntile window
      case "q141_threshold" =>
        graft.ops.TextOps.pplBucketsByThreshold(
            graft.ops.Spread(Tables(spark, dir, "documents"), "doc_id"),
            col("doc_id"), col("text"), col("lang"),
            trainGate = graft.ops.Mix.hashGate(col("doc_id")) < 500)
          .orderBy(col("doc_id"))
      // one-pass minhash-union face of q145 — the scale path that removes
      // the exact op's corpus-sized distinct; measured against it at 10x
      case "q145_sketch" =>
        graft.ops.Dedup.sourceOverlapSketch(
            Tables(spark, dir, "documents"), col("source"), col("text"),
            w = 3, k = 64)
          .orderBy(col("src_a"), col("src_b"))
      // the dim²-per-row explode formulation of q165 — the plan
      // GramMatrix exists to avoid, measured against it: every vector
      // fans out to dim·(dim+1)/2 product rows BEFORE the partial agg
      // can combine them, so the narrow stage materializes ~2080× the
      // input rows (the aggregate's buffer update touches the same
      // products but never materializes a row)
      case "q165_naive" =>
        val dim = 64
        val q = Tables(spark, dir, "embeddings").select(col("vec_id"),
          graft.ops.LinAlg.quantize(col("embedding"), 1000).as("qv"))
        val prods = q.select(explode(flatten(
            transform(sequence(lit(0), lit(dim - 1)), i =>
              transform(sequence(i, lit(dim - 1)), j =>
                struct(i.as("i"), j.as("j"),
                  (element_at(col("qv"), i + 1) *
                    element_at(col("qv"), j + 1)).as("p"),
                  element_at(col("qv"), i + 1).as("vi"),
                  element_at(col("qv"), j + 1).as("vj")))))).as("x"))
        prods.groupBy(col("x.i").as("i"), col("x.j").as("j"))
          .agg(count(lit(1)).as("n"), sum(col("x.p")).as("s_ij"),
            sum(col("x.vi")).as("s_i"), sum(col("x.vj")).as("s_j"))
          .orderBy(col("i"), col("j"))
      // q187 with a FIXED 20-query probe set (ids 0,32,...,608 exist at
      // both scales): the catalog's %100 gate would grow the query count
      // with the corpus and blow the 64-query ADC bound at sf1 — here the
      // corpus is the only variable, so the ratio measures index+scan.
      case "q187_fixed_queries" =>
        implicit val sp: SparkSession = spark
        val emb = Tables(spark, dir, "embeddings")
        val cb = graft.ops.Pq.train(emb, "vec_id", "embedding",
          nSub = 8, k = 16, iters = 2)
        val codes = graft.ops.Pq.encode(emb, "vec_id", "embedding", cb)
        graft.ops.Pq.search(codes,
            emb.where(col("vec_id") < 640 && col("vec_id") % 32 === 0),
            "vec_id", "embedding", cb, n = 10)
          .orderBy(col("query_id"), col("rank"))
      case _ => Queries.all.find(_.name == name).get.build(spark, dir)
    }
    def time(name: String, dir: String): Double = {
      def once(): Double = {
        // drain tracked op caches BEFORE the clock starts (the Bench
        // contract): otherwise an op that persists an intermediate gets
        // its second run nearly free and min-of-2 reports the cached
        // recompute, not the build (q170 measured a bogus 1.44x at 10x)
        graft.ops.Caches.drainAll(spark)
        val t0 = System.nanoTime()
        build(name, dir).write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }
      math.min(once(), once()) // min-of-2: drop the codegen/JIT first touch
    }
    val rows = family.map { name =>
      val base = time(name, src)
      val big = time(name, sf1)
      val r = f"""{"query":"$name","sf01_sec":$base%.2f,"sf1_sec":$big%.2f,"ratio":${big / base}%.2f}"""
      println(s"[scale] $r")
      r
    }
    val out = java.nio.file.Paths.get("target/scale_rehearsal.json")
    java.nio.file.Files.createDirectories(out.getParent)
    java.nio.file.Files.writeString(out, rows.mkString("[", ",\n", "]\n"))
  }
}
