package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Embedding similarity search over `embeddings` (`embedding: array<float>`).
  *
  * Scale design: the baseline is brute-force scan top-k — a single narrow
  * pass plus a k-row TakeOrdered, which is already the right plan for one
  * query vector over any corpus size (no shuffle of the corpus; the ORDER BY
  * ... LIMIT k is planned as TakeOrderedAndProject, so only k rows per
  * partition ever move). The scale path for many-query workloads is
  * hyperplane-LSH bucketing: signature equi-join prunes the corpus to one
  * bucket (plus hamming-1 probes) before exact scoring — key-partitioned
  * join, never all-pairs.
  */
object Similarity {

  /** dot(a, b) with double accumulation, left-to-right (deterministic). */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, v) => acc + v)

  def norm(a: Column): Column = sqrt(dot(a, a))

  /** Cosine similarity — native kernel expression (VecKernel.cosineF), one
    * JVM loop per pair instead of interpreted array HOFs.
    */
  def cosine(a: Column, b: Column): Column = graft.functions.gfn.vec_cosine(a, b)

  /** Integer-quantized dot product (round(x*1000) per element) — exact
    * arithmetic, so the DuckDB oracle matches bit-for-bit. Native kernel
    * expression (VecKernel.quantizedDot): the HOF formulation
    * (aggregate(zip_with(...))) evaluates interpreted per element, ~2×
    * slower on the q26 hot path.
    */
  def quantizedDot(a: Column, b: Column): Column = graft.functions.gfn.quantized_dot(a, b)

  /** Johnson–Lindenstrauss random projection with a ±1 sign matrix
    * (Achlioptas 2001: database-friendly random projections — ±1 entries
    * preserve pairwise distances in expectation, `E‖Px‖² = outDim·‖x‖²`,
    * with JL concentration). The "randomness" is a DETERMINISTIC portable
    * sign function — `s(i,j) = 1 - 2·(bit_count(i·73856093 + j·19349663)
    * mod 2)`, popcount parity of an integer mix both Spark and DuckDB
    * compute identically — and the input is the same unshifted integer
    * lattice as [[Cluster]], so projected components are EXACT integers:
    * bit-deterministic, SQL-replayable (q125), directly hashable.
    *
    * This is the embedding-side bandwidth dial: 64 dims → `outDim` longs
    * (16 by default = 4× smaller candidate vectors) before brute-force
    * scoring, ANN bucketing, or shipping embeddings through a shuffle.
    * Purely narrow — per row it is `outDim` codegen'd aggregates over the
    * vector; no join, no shuffle, no state. Output is long-form
    * `(id, j, comp)` (j in [0, outDim)) ready for per-dimension analytics;
    * pivot back to arrays with collect_list over a per-id sort if needed.
    * ANSI bound: |comp| <= dim·scale·1 = 6.4e4 at the defaults.
    */
  def randomProject(emb: DataFrame, idCol: String, vecCol: String,
                    outDim: Int = 16, scale: Int = 1000): DataFrame = {
    require(outDim >= 1 && scale >= 1)
    val qv = emb.select(col(idCol).cast("long").as("id"),
      graft.functions.gfn.quantize_lattice(col(vecCol), scale, 0L).as("qv"))
    // r12: fused native kernel — the per-output-dim dag
    //   aggregate(transform(qv, (x, i) -> x * (1L - 2L*(bit_count(
    //     i*73856093 + j*19349663) % 2))), 0L, +)
    // evaluated interpreted per ELEMENT per output dim (outDim·dim lambda
    // evals per row); same exact integer sums (OpsSpec pin)
    qv.select(col("id"),
      posexplode(graft.functions.gfn.random_project_signs(col("qv"), outDim))
        .as(Seq("j", "comp")))
  }

  private def queryVector(emb: DataFrame, queryId: Long): DataFrame =
    emb.filter(col("vec_id") === queryId).select(col("embedding").as("q_emb"))

  /** Brute-force top-k by quantized dot product vs one stored vector. */
  def topKQuantized(emb: DataFrame, queryId: Long, k: Int): DataFrame = emb
    .crossJoin(broadcast(queryVector(emb, queryId)))
    .select(col("vec_id"), quantizedDot(col("embedding"), col("q_emb")).as("dot"))
    .orderBy(col("dot").desc, col("vec_id"))
    .limit(k)

  /** Brute-force top-k by true cosine similarity (the ANN baseline). */
  def topKCosine(emb: DataFrame, queryId: Long, k: Int): DataFrame = emb
    .crossJoin(broadcast(queryVector(emb, queryId)))
    .select(col("vec_id"), col("label"),
      round(cosine(col("embedding"), col("q_emb")), 6).as("cos_sim"))
    .orderBy(col("cos_sim").desc, col("vec_id"))
    .limit(k)

  /** Batched EXACT KNN JOIN: for EVERY query vector, the top-k corpus rows
    * by score — the retrieval-eval / hard-negative-mining shape (q26/q27
    * answer one query; this answers a query TABLE). The query set is the
    * small side by construction (eval suites, probe sets), so it broadcasts;
    * each corpus row scores against all queries in one narrow pass and the
    * bounded-heap TopKByScore aggregate reduces map-side — the shuffle
    * carries k rows per query per partition, never corpus rows. `scorer`
    * picks the kernel (exact cosine, or quantized dot for integer-exact
    * oracle checks). Output: (query_id, rank, vec_id, score).
    */
  def knnJoin(corpus: DataFrame, queries: DataFrame, k: Int,
              scorer: (Column, Column) => Column = cosine): DataFrame = {
    Spread(corpus.select(col("vec_id"), col("embedding")), "vec_id")
      .crossJoin(broadcast(queries.select(col("query_id"), col("q_emb"))))
      .select(col("query_id"), col("vec_id"),
        scorer(col("embedding"), col("q_emb")).cast("double").as("score"))
      .groupBy(col("query_id"))
      .agg(graft.functions.gfn.topk_by_score(col("score"), col("vec_id"), k).as("top"))
      .select(col("query_id"), posexplode(col("top")))
      .select(col("query_id"), (col("pos") + 1).cast("long").as("rank"),
        col("col.id").as("vec_id"), col("col.score").as("score"))
  }

  /** HARD-NEGATIVE MINING (contrastive / retrieval training data): for
    * every query vector, the top-k most-similar corpus vectors with a
    * DIFFERENT label — the highest-scoring wrong answers are exactly the
    * negatives a contrastive loss learns most from (e.g. DPR, Karpukhin
    * et al. 2020; SimCSE hard negatives). Same plan as [[knnJoin]]
    * (broadcast query set, one narrow scoring pass, bounded-heap
    * TopKByScore map-side reduce) with the label gate applied BEFORE the
    * heap update, so same-label rows never consume heap slots and a
    * query's k negatives are exact, not best-effort post-filtering.
    *
    * The gate is null-safe (`NOT (label <=> q_label)`): an unlabeled
    * corpus row IS a candidate negative for a labeled query and vice
    * versa, but unlabeled-vs-unlabeled is treated as same-label
    * (conservatively excluded — unknown pairs must not masquerade as
    * known negatives). Corpus/queries carry (vec_id, embedding, label) /
    * (query_id, q_emb, q_label); output (query_id, rank, vec_id, score).
    *
    * Scale: inherits knnJoin's contract — shuffle carries k rows per
    * query per partition. For a corpus-sized query table, apply the same
    * null-safe gate to [[annKnnJoin]]'s candidate stream after its
    * (tbl, sig) equi-join instead (compose, don't rescan).
    */
  def hardNegatives(corpus: DataFrame, queries: DataFrame, k: Int,
                    scorer: (Column, Column) => Column = cosine): DataFrame =
    gatedKnn(corpus, queries, k, !(col("label") <=> col("q_label")), scorer)

  /** Hardest same-label companions: top-k most-similar corpus vectors with
    * the SAME (non-null-safe `===` — an unlabeled row is never a certified
    * positive) label, self excluded. With k=1 this is the "hardest
    * positive" of triplet mining; larger k feeds pseudo-labeling and
    * intra-class consistency audits. Same plan contract as
    * [[hardNegatives]].
    */
  def hardPositives(corpus: DataFrame, queries: DataFrame, k: Int,
                    scorer: (Column, Column) => Column = cosine): DataFrame =
    gatedKnn(corpus, queries, k,
      col("label") === col("q_label") && col("vec_id") =!= col("query_id"),
      scorer)

  /** TRIPLET MINING (anchor, positive, negative): for every query, its
    * single hardest positive ([[hardPositives]] k=1) and hardest negative
    * ([[hardNegatives]] k=1), plus `margin = pos_score − neg_score` — the
    * assembled training pair table of a triplet/contrastive loss, where
    * margin ≤ 0 rows are exactly the anchors whose nearest wrong-label
    * vector outscores their best same-label one (the pairs the loss
    * exists to fix). Queries whose label matches no other corpus row drop
    * out (inner join on both legs — a triplet needs all three corners).
    * Two gated scans + a query-keyed join of two ≤|queries|-row frames.
    */
  def tripletMine(corpus: DataFrame, queries: DataFrame,
                  scorer: (Column, Column) => Column = cosine): DataFrame = {
    val pos = hardPositives(corpus, queries, k = 1, scorer)
      .select(col("query_id"), col("vec_id").as("pos_id"),
        col("score").as("pos_score"))
    val neg = hardNegatives(corpus, queries, k = 1, scorer)
      .select(col("query_id"), col("vec_id").as("neg_id"),
        col("score").as("neg_score"))
    pos.join(neg, Seq("query_id"))
      .withColumn("margin", col("pos_score") - col("neg_score"))
  }

  /** MARGIN-BASED PAIR MINING (Artetxe & Schwenk ACL 2019, the CCMatrix /
    * LASER bitext-mining criterion): raw similarity over-mines hubs —
    * vectors close to EVERYTHING — so each candidate pair (x, y) is scored
    * by its similarity RELATIVE to both sides' neighborhoods:
    *
    *   margin(x, y) = (n_x + n_y) · s(x, y) / (A_x + A_y)
    *
    * where A_x = Σ scores of x's top-k neighbors in Y (n_x = their count,
    * = k away from set edges) and A_y symmetrically — the paper's "ratio"
    * margin with the 1/2k averages cleared from the denominator. Scores
    * are integer-quantized dots (the q26/q81 recipe), so sums and the
    * n·s product are EXACT in 64 bits and the margin is ONE IEEE division
    * — bitwise cross-engine. A zero denominator (pathological: neighbor
    * scores summing to exactly 0) yields a NULL margin, sorted last.
    *
    * Output: for every x, its best-margin candidate among its top-k
    * forward neighbors — (x_id, y_id, dot, margin, mutual), where
    * `mutual` marks pairs that are ALSO y's best-margin candidate (the
    * paper's strictest, highest-precision retrieval mode).
    *
    * Scale: two [[knnJoin]] passes (each: broadcast query side, one
    * narrow scoring pass, bounded-heap map-side reduce — shuffle carries
    * k rows per vector per partition); everything after runs on k·|X| /
    * k·|Y|-row frames keyed by vector id. The exact legs score |X|·|Y|
    * pairs — fine for probe/eval-sized sides, QUADRATIC for corpus-sized
    * ones (measured 17× wall at 10× rows): use [[marginMineAnn]] there
    * (same downstream algebra over LSH-bucketed legs).
    */
  def marginMine(xs: DataFrame, ys: DataFrame, k: Int = 4): DataFrame =
    marginCore(xs, ys, k, knnJoin(_, _, _, quantizedDot))

  /** [[marginMine]] with LSH-bucketed kNN legs — the corpus-sized-sides
    * face: the exact legs score |X|·|Y| pairs (measured 17× wall at 10×
    * rows — quadratic), while the LSH legs only score within-bucket
    * candidates and the margin algebra downstream is IDENTICAL (same
    * quantized-dot scores, so sums stay exact and the margins bitwise).
    * Neighbor lists are approximate ⇒ rows-only; OpsSpec pins best-pair
    * agreement with the exact face on clustered vectors. `nBits < 0`
    * auto-sizes each leg's signature to its corpus (`autoBits`, the q35
    * lesson — fixed bits go quadratic again as buckets fill).
    */
  def marginMineAnn(xs: DataFrame, ys: DataFrame, k: Int = 4,
                    nBits: Int = -1, dim: Int = 64,
                    nTables: Int = 8): DataFrame = {
    // per-leg auto-sizing: each leg's corpus is a different side; the two
    // sizing counts are independent jobs, so they run CONCURRENTLY from
    // driver threads (guide-§2.6 back-fill — the second count's tasks fill
    // the first's tail) instead of back to back
    val (ysBits, xsBits) =
      if (nBits > 0) (nBits, nBits)
      else {
        val Seq(ty, tx) = Seq(ys, xs).map { d =>
          val t = new java.util.concurrent.FutureTask(() => d.count())
          val th = new Thread(t); th.setDaemon(true); th.start(); t
        }
        (autoBits(ty.get(), 64), autoBits(tx.get(), 64))
      }
    marginCore(xs, ys, k,
      (c, q, kk) => annKnnJoin(c, q, kk, ysBits, dim, nTables, quantizedDot),
      Some((c, q, kk) =>
        annKnnJoin(c, q, kk, xsBits, dim, nTables, quantizedDot)))
  }

  private[graft] def marginCore(xs: DataFrame, ys: DataFrame, k: Int,
                                knn: (DataFrame, DataFrame, Int) => DataFrame,
                                knnBwd: Option[(DataFrame, DataFrame, Int)
                                  => DataFrame] = None)
      : DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    def side(df: DataFrame, idTo: String) = df.select(
      col("vec_id").as(idTo), col("embedding"))
    // Each leg feeds two consumers (its marginal aggregate and its best-pair
    // window); the duplicated dag copies share their shuffle via
    // ReuseExchange, so the expensive candidate join executes once. An r11
    // experiment staged the legs through Caches.track instead: the exact
    // face was unchanged but the ANN face regressed 5.5 -> 15 s (the cache
    // barrier hides the leg from AQE's runtime join planning) — measured
    // and reverted; exchange reuse is the right sharing mechanism here.
    val fwd = knn(side(ys, "vec_id"),
      xs.select(col("vec_id").as("query_id"), col("embedding").as("q_emb")),
      k)
    val bwd = knnBwd.getOrElse(knn)(side(xs, "vec_id"),
      ys.select(col("vec_id").as("query_id"), col("embedding").as("q_emb")),
      k)
    val aX = fwd.groupBy(col("query_id").as("x_id"))
      .agg(sum(col("score")).as("a_x"), count(lit(1)).as("n_x"))
    val aY = bwd.groupBy(col("query_id").as("y_id"))
      .agg(sum(col("score")).as("a_y"), count(lit(1)).as("n_y"))
    // LEFT joins: in the ANN face a vector with zero bucket collisions on
    // one leg has no aX/aY row — an inner join would silently delete every
    // pair involving it (round-10 advice fix); missing marginals coalesce
    // to (0, 0), degrading the margin instead of dropping the pair
    def margins(pairs: DataFrame): DataFrame = pairs
      .join(aX, Seq("x_id"), "left").join(aY, Seq("y_id"), "left")
      .withColumn("a_x", coalesce(col("a_x"), lit(0.0)))
      .withColumn("n_x", coalesce(col("n_x"), lit(0L)))
      .withColumn("a_y", coalesce(col("a_y"), lit(0.0)))
      .withColumn("n_y", coalesce(col("n_y"), lit(0L)))
      .withColumn("margin",
        when(col("a_x") + col("a_y") =!= 0.0,
          (col("n_x") + col("n_y")).cast("double") * col("score")
            / (col("a_x") + col("a_y"))))
    val wF = org.apache.spark.sql.expressions.Window
      .partitionBy(col("x_id"))
      .orderBy(col("margin").desc_nulls_last, col("y_id"))
    val wB = org.apache.spark.sql.expressions.Window
      .partitionBy(col("y_id"))
      .orderBy(col("margin").desc_nulls_last, col("x_id"))
    val fwdBest = margins(fwd.select(col("query_id").as("x_id"),
        col("vec_id").as("y_id"), col("score")))
      .withColumn("rn", row_number().over(wF)).where(col("rn") === 1)
    val bwdBest = margins(bwd.select(col("query_id").as("y_id"),
        col("vec_id").as("x_id"), col("score")))
      .withColumn("rn", row_number().over(wB)).where(col("rn") === 1)
      .select(col("x_id"), col("y_id"), lit(true).as("mutual"))
    fwdBest
      .join(bwdBest, Seq("x_id", "y_id"), "left")
      .select(col("x_id"), col("y_id"), col("score").as("dot"),
        col("margin"), coalesce(col("mutual"), lit(false)).as("mutual"))
  }

  /** The [[knnJoin]] plan with a candidate gate applied BEFORE the bounded
    * heap: gated rows never consume heap slots, so the k survivors are
    * exact under the constraint (not best-effort post-filtering).
    */
  private def gatedKnn(corpus: DataFrame, queries: DataFrame, k: Int,
                       gate: Column,
                       scorer: (Column, Column) => Column): DataFrame = {
    Spread(corpus.select(col("vec_id"), col("embedding"), col("label")), "vec_id")
      .crossJoin(broadcast(queries.select(
        col("query_id"), col("q_emb"), col("q_label"))))
      .where(gate)
      .select(col("query_id"), col("vec_id"),
        scorer(col("embedding"), col("q_emb")).cast("double").as("score"))
      .groupBy(col("query_id"))
      .agg(graft.functions.gfn.topk_by_score(col("score"), col("vec_id"), k).as("top"))
      .select(col("query_id"), posexplode(col("top")))
      .select(col("query_id"), (col("pos") + 1).cast("long").as("rank"),
        col("col.id").as("vec_id"), col("col.score").as("score"))
  }

  /** MMR DIVERSE SELECTION (Maximal Marginal Relevance, Carbonell &
    * Goldstein SIGIR '98): greedily pick k corpus vectors maximizing
    *   λ·rel(x) − (1−λ)·max_{s ∈ selected} sim(x, s)
    * — the relevance-vs-redundancy re-ranking step between retrieval and a
    * context window (and the query-anchored counterpart of the q150
    * k-center pick, which maximizes diversity alone). λ is the rational
    * lNum/lDen so every score is EXACT 64-bit: rel and sim are quantized
    * integer dots (the q26 recipe) and the argmax compares
    * `lNum·rel − (lDen−lNum)·max_sim` longs with the smallest-id tie rule —
    * an unrolled SQL oracle replays every pick decision-for-decision.
    *
    * Emits (sel_rank, vec_id, rel, max_sim, mmr_num): max_sim is the
    * similarity to the nearest already-selected vector AT SELECTION TIME
    * (0 for the seed — the empty-set max term), mmr_num the winning
    * numerator.
    *
    * Scale shape (the kCenterSelect contract): k corpus passes, each a
    * NARROW score kernel (selected vectors ride into the plan as literals
    * feeding the codegen'd quantized-dot) topped by TakeOrdered(1) — k rows
    * total ever reach the driver, nothing corpus-sized shuffles. Overflow:
    * |dot| ≤ dim·(scale·maxval)² ≈ 2^26·dim at unit-norm inputs, and
    * lNum, lDen ≤ 2^10 by require — products stay far under 2^62 (ANSI-safe).
    */
  def mmrSelect(emb: DataFrame, query: Array[Float], k: Int,
                lNum: Int = 1, lDen: Int = 2): DataFrame = {
    require(k >= 1 && k <= 256, "driver-loop bound: k <= 256")
    require(lNum > 0 && lNum <= lDen && lDen <= 1024,
      "lambda = lNum/lDen must sit in (0, 1]")
    val spark = emb.sparkSession
    import spark.implicits._
    val q = emb.select(col("vec_id"), col("embedding"),
        quantizedDot(col("embedding"), typedlit(query.toSeq)).as("rel"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val mu = lit((lDen - lNum).toLong)
    var picks = Vector.empty[(Long, Long, Long, Long, Long)]
    var selected = Vector.empty[Seq[Float]]
    for (r <- 1 to k if r == 1 || picks.size == r - 1) {
      // max similarity to the selected set: greatest over ≤ r−1 literal
      // quantized dots (0 for the empty set) — narrow, codegen'd
      val dots = selected.map(s => quantizedDot(col("embedding"), typedlit(s)))
      val ms =
        if (dots.isEmpty) lit(0L)          // empty-set max term
        else if (dots.size == 1) dots.head // greatest() needs >= 2 args
        else greatest(dots: _*)
      val cand = q
        .where(!col("vec_id").isin(picks.map(_._2): _*))
        .select(col("vec_id"), col("rel"), ms.as("ms"),
          (lit(lNum.toLong) * col("rel") - mu * ms).as("score"))
        .orderBy(col("score").desc, col("vec_id")).limit(1)
        .collect()
      if (cand.nonEmpty) {
        val row = cand(0)
        val vec = q.where(col("vec_id") === row.getLong(0))
          .select(col("embedding")).collect()(0).getSeq[Float](0)
        selected :+= vec
        picks :+= ((r.toLong, row.getLong(0), row.getLong(1),
          row.getLong(2), row.getLong(3)))
      }
    }
    q.unpersist(blocking = false) // fully consumed within the call
    picks.toDF("sel_rank", "vec_id", "rel", "max_sim", "mmr_num")
  }

  /** Batched ANN KNN join — the LSH-pruned form of [[knnJoin]] for when the
    * query table itself is large: corpus rows bucket by nTables hyperplane
    * signatures, each query probes its bucket plus hamming-1 neighbors per
    * table, candidates come from the (tbl, sig) equi-join (never all-pairs),
    * dedupe per (query, candidate), exact-score survivors, TopKByScore per
    * query. Expected scored fraction ≈ nTables·(nBits+1)/2^nBits per query.
    */
  def annKnnJoin(corpus: DataFrame, queries: DataFrame, k: Int,
                 nBits: Int = 8, dim: Int = 64, nTables: Int = 8,
                 scorer: (Column, Column) => Column = cosine): DataFrame = {
    val bucketed = corpus.select(col("vec_id"), col("embedding"),
      explode(array((0 until nTables).map { t =>
        struct(lit(t).as("tbl"),
          lshSignature(col("embedding"), nBits, dim, seed = 7 + t).as("sig"))
      }: _*)).as("ts"))
      .select(col("vec_id"), col("embedding"), col("ts.tbl"), col("ts.sig"))
    val probes = queries.select(col("query_id"), col("q_emb"),
      explode(array((0 until nTables).map { t =>
        struct(lit(t).as("tbl"),
          lshSignature(col("q_emb"), nBits, dim, seed = 7 + t).as("sig"))
      }: _*)).as("ts"))
      .select(col("query_id"), col("q_emb"), col("ts.tbl"), col("ts.sig").as("q_sig"))
      .select(col("query_id"), col("q_emb"), col("tbl"),
        explode(array(col("q_sig") +:
          (0 until nBits).map(i => col("q_sig").bitwiseXOR(shiftleft(lit(1L), i))): _*))
          .as("sig"))
    // SHUFFLE_HASH, not broadcast (r11, guide §3.1 "pick the strategy
    // deliberately"): this join is COMPUTE-dense, not byte-dense — every
    // output row pays a dim-length exact score plus dedup/top-k work, so
    // the join's parallelism IS the scoring parallelism. When AQE
    // broadcast the byte-small side, the whole candidate pipeline
    // collapsed onto the other side's scan partitioning (measured: both
    // legs ran as single 7.3 s one-task jobs at sf0.1 — the corpus
    // parquet is one row group). Shuffling both sides by (tbl, sig)
    // spreads candidates over the shuffle partitioning at every scale;
    // at corpus size both sides are too big to broadcast anyway, so the
    // hint only pins what the planner would have had to do regardless.
    // r12: pin the candidate exchange at the CONFIGURED shuffle
    // parallelism (explicit-N repartition is exempt from AQE's byte-based
    // coalescing). The legs are compute-dense — AQE's 1 MB-advisory
    // coalescing squeezed them to ~9 tasks at sf0.1 (probe-measured
    // 2×1.1 s legs) because the candidate BYTES are small while the
    // per-row scoring is not. spark.sql.shuffle.partitions is the
    // deployment's scale dial (the driver sets it to the core count
    // locally; a cluster sets it to its own width), so this pins exactly
    // the partitioning a non-coalesced exchange would have had.
    val nPart = corpus.sparkSession.conf
      .get("spark.sql.shuffle.partitions", "200").toInt
    bucketed.repartition(nPart, col("tbl"), col("sig"))
      .hint("shuffle_hash")
      .join(probes.repartition(nPart, col("tbl"), col("sig")),
        Seq("tbl", "sig"))
      // score BEFORE the dedup: a candidate pair surfaces from up to
      // nTables·(nBits+1) buckets, and deduping first would shuffle both
      // 64-float embeddings per duplicate (measured 10 s for 2.5M
      // candidates at sf0.1 vs ~1 s total scoring them narrowly) — the
      // redundant scores are cheap codegen'd kernels; the dedup then
      // carries 24-byte (query, vec, score) rows, and every duplicate
      // row's score is identical so keep-any is exact
      .select(col("query_id"), col("vec_id"),
        scorer(col("embedding"), col("q_emb")).cast("double").as("score"))
      .dropDuplicates("query_id", "vec_id")
      .groupBy(col("query_id"))
      .agg(graft.functions.gfn.topk_by_score(col("score"), col("vec_id"), k).as("top"))
      .select(col("query_id"), posexplode(col("top")))
      .select(col("query_id"), (col("pos") + 1).cast("long").as("rank"),
        col("col.id").as("vec_id"), col("col.score").as("score"))
  }

  // ---- IVF ANN ----

  /** Deterministic coarse centroids: the nList corpus vectors with the
    * smallest xxhash64(vec_id) (a seeded uniform sample), L2-normalized,
    * flattened row-major. One tiny driver-side collect (nList × dim doubles)
    * — in production this is the "train index" step, persisted and reused.
    */
  def ivfCentroids(emb: DataFrame, nList: Int, dim: Int = 64): Array[Double] = {
    val rows = emb
      .orderBy(xxhash64(col("vec_id")), col("vec_id"))
      .limit(nList)
      .select(col("embedding"))
      .collect()
    val out = new Array[Double](nList * dim)
    rows.zipWithIndex.foreach { case (r, c) =>
      val v = r.getSeq[Float](0)
      val norm = math.sqrt(v.map(x => x.toDouble * x).sum) max 1e-12
      v.indices.foreach(i => out(c * dim + i) = v(i) / norm)
    }
    out
  }

  /** IVF top-k: assign the corpus to nearest-centroid cells (narrow, native
    * kernel; centroids ride along as a codegen reference object), probe the
    * query's nProbe best cells, exact cosine within probed cells only. The
    * candidate restriction is an equi-join on `cell` — corpus scanned once
    * for assignment, then only nProbe/nList of it is scored.
    */
  def ivfTopK(emb: DataFrame, queryId: Long, k: Int,
              nList: Int = 16, nProbe: Int = 4, dim: Int = 64): DataFrame = {
    import graft.functions.gfn
    val cents = ivfCentroids(emb, nList, dim)
    val assigned = emb.withColumn("cell",
      gfn.nearest_centroid(col("embedding"), cents, nList, dim))
    val q = emb.filter(col("vec_id") === queryId)
      .select(col("embedding").as("q_emb"),
        explode(gfn.top_cells(col("embedding"), cents, nList, dim, nProbe)).as("cell"))
    assigned.join(broadcast(q), "cell")
      .select(col("vec_id"), col("label"),
        round(cosine(col("embedding"), col("q_emb")), 6).as("cos_sim"))
      .orderBy(col("cos_sim").desc, col("vec_id"))
      .limit(k)
  }

  /** A reusable IVF index: the cell-assigned corpus plus its trained
    * centroids. At 100 TB the ASSIGNMENT is the expensive artifact (one full
    * corpus pass through the nearest-centroid kernel) — build it once,
    * probe it with every query batch, persist it across runs
    * ([[saveIvfIndex]]/[[loadIvfIndex]]); the centroids themselves are a
    * nList×dim array that rides in a JSON sidecar.
    */
  final case class IvfIndex(assigned: DataFrame, centroids: Array[Double],
                            nList: Int, dim: Int) {
    /** Free the persisted assignment — the retirement hook for a long-lived
      * serving session (same contract as `Dedup.MinHashIndex.release`). */
    def release(): Unit = assigned.unpersist(blocking = false)
  }

  def ivfIndexBuild(emb: DataFrame, nList: Int = 16, dim: Int = 64): IvfIndex = {
    import graft.functions.gfn
    val cents = ivfCentroids(emb, nList, dim)
    val assigned = emb
      .withColumn("cell", gfn.nearest_centroid(col("embedding"), cents, nList, dim))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    IvfIndex(assigned, cents, nList, dim)
  }

  /** Batched IVF probe: for EVERY row of `queries` (query_id, q_emb), the
    * top-k corpus rows by cosine among the query's nProbe best cells — the
    * many-query companion to [[ivfTopK]], shaped like [[knnJoin]] but
    * scanning only nProbe/nList of the corpus per query: queries broadcast
    * (eval/probe sets are small by construction), candidates come from the
    * `cell` equi-join, and the bounded-heap TopKByScore aggregate reduces
    * map-side so the shuffle carries k rows per query per partition.
    * Output: (query_id, rank, vec_id, score).
    */
  def ivfProbe(index: IvfIndex, queries: DataFrame, k: Int,
               nProbe: Int = 4): DataFrame = {
    import graft.functions.gfn
    val q = queries.select(col("query_id"), col("q_emb"),
      explode(gfn.top_cells(col("q_emb"), index.centroids,
        index.nList, index.dim, nProbe)).as("cell"))
    index.assigned.join(broadcast(q), "cell")
      .select(col("query_id"), col("vec_id"),
        cosine(col("embedding"), col("q_emb")).cast("double").as("score"))
      .groupBy(col("query_id"))
      .agg(gfn.topk_by_score(col("score"), col("vec_id"), k).as("top"))
      .select(col("query_id"), posexplode(col("top")))
      .select(col("query_id"), (col("pos") + 1).cast("long").as("rank"),
        col("col.id").as("vec_id"), round(col("col.score"), 6).as("score"))
  }

  /** Parquet persistence for [[IvfIndex]] — the assigned corpus as a table,
    * centroids + nList/dim in a JSON sidecar (same contract as
    * `Dedup.saveIndex`: a loaded index cannot silently probe with the wrong
    * geometry).
    */
  def saveIvfIndex(index: IvfIndex, path: String): Unit = {
    index.assigned.write.mode("overwrite").parquet(s"$path/assigned.parquet")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$path/meta.json"),
      s"""{"nList":${index.nList},"dim":${index.dim},""" +
        s""""centroids":[${index.centroids.mkString(",")}]}""")
  }

  def loadIvfIndex(spark: org.apache.spark.sql.SparkSession, path: String): IvfIndex = {
    val meta = java.nio.file.Files.readString(java.nio.file.Paths.get(s"$path/meta.json"))
    def intField(name: String): Int =
      s""""$name":(\\d+)""".r.findFirstMatchIn(meta)
        .getOrElse(sys.error(s"bad IVF meta at $path: ${meta.take(80)}")).group(1).toInt
    val cents = """"centroids":\[([^\]]*)\]""".r.findFirstMatchIn(meta)
      .getOrElse(sys.error(s"bad IVF meta at $path")).group(1)
      .split(",").map(_.toDouble)
    IvfIndex(
      spark.read.parquet(s"$path/assigned.parquet")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK),
      cents, intField("nList"), intField("dim"))
  }

  // ---- Hyperplane-LSH ANN ----

  /** Deterministic pseudo-random hyperplanes (seeded), as literal arrays. */
  private def planes(nBits: Int, dim: Int, seed: Long = 7): Array[Array[Double]] = {
    val rnd = new java.util.Random(seed)
    Array.fill(nBits)(Array.fill(dim)(rnd.nextGaussian()))
  }

  /** LSH signature: nBits sign bits of dot(v, r_i), packed into a long —
    * native kernel expression (one fused loop over all planes).
    */
  def lshSignature(v: Column, nBits: Int = 8, dim: Int = 64, seed: Long = 7): Column =
    graft.functions.gfn.hyperplane_sig(v, planes(nBits, dim, seed).flatten, nBits, dim)

  /** Embedding-cosine near-dup pairs: bucket by hyperplane-LSH signature,
    * expand pairs within buckets (shared bucket-join shape — no cartesian),
    * verify with exact cosine.
    *
    * Recall comes from the standard OR-amplification: nTables independent
    * signatures per vector (an explode to nTables narrow rows, bucket key =
    * (table, sig) — same equi-group shape, never all-pairs), a pair is a
    * candidate if it collides in ANY table. Single-table recall for cosine
    * s is (1 − acos(s)/π)^nBits; nTables lifts it to 1 − (1 − p)^nTables —
    * e.g. s = 0.4, nBits = 4: 0.16 alone, ≈ 0.75 with 8 tables. The knobs
    * trade verify fan-out (more tables) against recall, exactly like
    * MinHash bands.
    */
  /** [[cosineNearDups]] with nBits sized FROM THE CORPUS: hyperplane-LSH
    * bucket count is 2^nBits per table, so at fixed nBits bucket DENSITY —
    * and with it the in-bucket pair expansion — grows linearly with corpus
    * size and the candidate set grows quadratically. Measured in the 10×
    * rehearsal: q35's fixed nBits=4 went super-linear (>600 s at 10×, vs
    * ~2 s at 1×); auto-sizing restored ~linear scaling. nBits =
    * max(floor, log2(n / targetBucketSize)) keeps expected bucket
    * occupancy ≈ targetBucketSize at ANY corpus size — the log(corpus)
    * growth SCALE.md prescribes, paid as one cheap count().
    */
  def cosineNearDupsAuto(emb: DataFrame, threshold: Double = 0.95,
                         targetBucketSize: Int = 128, dim: Int = 64,
                         nTables: Int = 8,
                         maxBucketSize: Option[Int] = None): DataFrame =
    cosineNearDups(emb, threshold, autoBits(emb.count(), targetBucketSize),
      dim, nTables, maxBucketSize)

  /** nBits so that expected bucket occupancy n / 2^nBits ≈ target. */
  def autoBits(n: Long, targetBucketSize: Int): Int = math.max(4,
    math.ceil(math.log(math.max(1.0, n.toDouble / targetBucketSize)) /
      math.log(2.0)).toInt)

  def cosineNearDups(emb: DataFrame, threshold: Double = 0.95,
                     nBits: Int = 8, dim: Int = 64, nTables: Int = 8,
                     maxBucketSize: Option[Int] = None): DataFrame = {
    val sigs = emb.select(col("vec_id"), col("embedding"),
      explode(array((0 until nTables).map { t =>
        struct(lit(t).as("tbl"),
          lshSignature(col("embedding"), nBits, dim, seed = 7 + t).as("sig"))
      }: _*)).as("ts"))
      .select(col("vec_id"), col("embedding"), col("ts.tbl"), col("ts.sig"))
    val cand = Dedup.pairsFromBuckets(
      sigs.select(col("vec_id"), col("tbl"), col("sig")),
      Seq("tbl", "sig"), idCol = "vec_id",
      maxBucketSize = maxBucketSize, capMetric = "cosine_lsh_cap")
    // No broadcast hint on the candidate pairs: they scale with corpus ×
    // dup-rate, so a forced broadcast is a driver OOM at 100 TB. AQE picks
    // broadcast at runtime when they fit, a shuffled equi-join otherwise.
    // Vectors come from the un-exploded frame (sigs carries nTables rows
    // per vector).
    val vecs = emb.select(col("vec_id"), col("embedding"))
    val withVecs = vecs.join(cand, col("vec_id") === col("a_id"))
      .select(col("a_id"), col("b_id"), col("embedding").as("a_emb"))
      .join(vecs, col("vec_id") === col("b_id"))
      .select(col("a_id"), col("b_id"), col("a_emb"), col("embedding").as("b_emb"))
    withVecs
      .withColumn("cos_sim", round(cosine(col("a_emb"), col("b_emb")), 6))
      .filter(col("cos_sim") >= threshold)
      .select(col("a_id"), col("b_id"), col("cos_sim"))
  }

  /** ANN top-k: multi-table multi-probe hyperplane LSH. Each vector gets
    * nTables independent signatures (an explode to nTables narrow rows);
    * the query probes, per table, its own bucket plus all hamming-1
    * neighbors (nBits+1 probes × nTables — the standard multi-probe trick
    * that recovers most of a second table's recall without its memory).
    * Candidate selection is an equi-join on (tbl, sig); candidates are
    * deduped by vec_id before exact cosine, so each survivor is scored
    * once. Expected scanned fraction ≈ nTables·(nBits+1)/2^nBits of the
    * corpus (bits/tables are the recall-vs-work dial); the probe frame is
    * nTables·(nBits+1) rows — legitimately broadcast.
    */
  def annTopK(emb: DataFrame, queryId: Long, k: Int,
              nBits: Int = 8, dim: Int = 64, nTables: Int = 8): DataFrame = {
    val bucketed = emb.select(col("vec_id"), col("label"), col("embedding"),
      explode(array((0 until nTables).map { t =>
        struct(lit(t).as("tbl"),
          lshSignature(col("embedding"), nBits, dim, seed = 7 + t).as("sig"))
      }: _*)).as("ts"))
      .select(col("vec_id"), col("label"), col("embedding"), col("ts.tbl"), col("ts.sig"))
    val q = emb.filter(col("vec_id") === queryId)
      .select(col("embedding").as("q_emb"),
        explode(array((0 until nTables).map { t =>
          struct(lit(t).as("tbl"),
            lshSignature(col("embedding"), nBits, dim, seed = 7 + t).as("sig"))
        }: _*)).as("ts"))
      .select(col("q_emb"), col("ts.tbl"), col("ts.sig").as("q_sig"))
    // per table: query bucket + hamming-1 probes
    val probes = q.select(col("q_emb"), col("tbl"),
      explode(array(col("q_sig") +:
        (0 until nBits).map(i => col("q_sig").bitwiseXOR(shiftleft(lit(1L), i))): _*))
        .as("sig"))
    bucketed.join(broadcast(probes), Seq("tbl", "sig"))
      .dropDuplicates("vec_id")
      .select(col("vec_id"), col("label"),
        round(cosine(col("embedding"), col("q_emb")), 6).as("cos_sim"))
      .orderBy(col("cos_sim").desc, col("vec_id"))
      .limit(k)
  }
}
