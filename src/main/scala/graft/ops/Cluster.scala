package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Distributed k-means (Lloyd's algorithm) over an embedding column — the
  * clustering primitive behind semantic dedup (SemDeDup, Abbas et al. 2023:
  * cluster, then drop near-duplicates within each cluster), coverage-driven
  * curation mixes, and the IVF coarse quantizer in [[Similarity]].
  *
  * This is the INTEGER-LATTICE formulation: vectors are quantized to a
  * non-negative integer grid (`round(x*scale) + scale`, so components of a
  * unit-ish embedding land in `[0, 2*scale]`), and after every averaging
  * step centroids are re-quantized by floor division. Every number that
  * exists anywhere in the algorithm is an exact 64-bit integer, so the
  * result is bit-deterministic — independent of partitioning, reduce order,
  * platform, and ENGINE, which is what lets a SQL oracle replay the same
  * iterations and hash-match (q119). Quantization error is `1/scale` per
  * component (`scale` defaults to 1000 ≈ 3 decimal digits — far below the
  * noise floor of any learned embedding); raise `scale` if components
  * exceed one in magnitude. ANSI-safe: per-dimension diffs are `<= 2*scale`,
  * so dist2 `<= dim*(2*scale)^2` ~ 2.6e8 at the defaults.
  *
  * Scale shape (the part that must survive 100 TB):
  *  - The corpus-sized passes are NARROW. Assignment evaluates a literal
  *    centroid expression per row (k*dim integer literals compiled into
  *    codegen — no join, no shuffle); the update is one
  *    `groupBy(cluster, dim)` whose partial aggregation reduces each
  *    partition's contribution to `k*dim` rows before the exchange.
  *  - Centroids themselves are `k*dim` longs — the classic "train the
  *    index" driver step (same bounded-collect precedent as
  *    [[Similarity.ivfCentroids]]): collected, floor-divided, and
  *    re-broadcast as literals each iteration. Nothing corpus-sized ever
  *    reaches the driver.
  *  - The quantized frame is persisted once and scanned `iters + 1` times;
  *    unpersisted before returning.
  *
  * Determinism details that the oracle must (and does) mirror: init is the
  * `k` rows with the smallest ids (cluster j = j-th smallest; a seeded
  * sample would work too — smallest-ids keeps the SQL trivial); distance
  * ties assign to the LOWER cluster id; a cluster that loses every member
  * keeps its previous centroid.
  */
object Cluster {

  private def quantized(emb: DataFrame, idCol: String, vecCol: String,
                        scale: Int): DataFrame =
    // native kernel (r11): the transform+round HOF ran interpreted per
    // element and was the measured hot cost of every exchange that
    // re-derives the lattice (q123's 2-task pair-scan stages); rounding
    // replays Spark's Round bit-for-bit (OpsSpec pin)
    emb.select(col(idCol).cast("long").as("id"),
      graft.functions.gfn.quantize_lattice(col(vecCol), scale, scale).as("qv"))

  /** Packed `dist2*65536 + cluster` of the nearest centroid — the native
    * codegen kernel (VecKernel.latticeNearest; centroids ride along as a
    * codegen reference object, the nearest_centroid/IVF pattern). Packing
    * IS the argmin tie rule: lexicographic (dist2, cluster) minimum, ties
    * to the lower cluster id. The earlier k×dim-literal HOF formulation
    * computed the same thing but paid ~1.5 s of expression analysis per
    * job, which dominated the iterative driver loop.
    */
  private def nearestPacked(centroids: Array[Array[Long]]): Column =
    graft.functions.gfn.lattice_nearest(col("qv"), centroids.flatten,
      centroids.length, centroids(0).length)

  /** The packed `dist2*65536 + cluster` encoding needs dist2 to fit in
    * the 47 bits above the 16-bit cluster id; worst-case dist2 is
    * dim*(2*scale)^2, so the bound is on dim AND scale together. Checked
    * wherever dim first becomes known — silent overflow here would corrupt
    * every assignment with no error.
    */
  private def requirePackable(dim: Int, scale: Int): Unit =
    require(dim.toLong * 4L * scale.toLong * scale.toLong < (1L << 47),
      s"packing bound: dim*(2*scale)^2 < 2^47 violated (dim=$dim, scale=$scale)")

  /** Lloyd loop over a persisted quantized frame; returns final centroids. */
  private def train(q: DataFrame, k: Int, iters: Int, scale: Int): Array[Array[Long]] = {
    var centroids: Array[Array[Long]] = q.orderBy(col("id")).limit(k)
      .select(col("qv")).collect().map(_.getSeq[Long](0).toArray)
    require(centroids.length == k, s"need >= $k input vectors")
    requirePackable(centroids(0).length, scale)
    for (_ <- 1 to iters) {
      // update: per-(cluster, dim) exact sums — partial agg shrinks every
      // partition to k*dim rows pre-shuffle; k*dim aggregated rows come
      // back to the driver (the bounded train step, see scaladoc).
      val sums = q.select(
          pmod(nearestPacked(centroids), lit(65536L)).cast("int").as("cluster"),
          posexplode(col("qv")).as(Seq("i", "v")))
        .groupBy(col("cluster"), col("i"))
        .agg(sum(col("v")).as("s"), count(lit(1)).as("n"))
        .collect()
      val next = centroids.map(_.clone()) // empty cluster keeps its centroid
      sums.foreach { r =>
        // non-negative lattice, so floor division == truncating division ==
        // DuckDB's `//` — the one place engines could disagree, removed.
        next(r.getInt(0))(r.getInt(1)) = r.getLong(2) / r.getLong(3)
      }
      centroids = next
    }
    centroids
  }

  /** One Lloyd iteration = assign + update. After `iters` such iterations
    * the final assignment is returned as `(id, cluster, dist2)`, one row
    * per input vector, where `dist2` is the exact squared lattice distance
    * to the final centroid.
    */
  def kmeansLattice(emb: DataFrame, idCol: String, vecCol: String,
                    k: Int, iters: Int, scale: Int = 1000)
                   (implicit spark: SparkSession): DataFrame = {
    require(k >= 1 && k <= 65536 && iters >= 0 && scale >= 1 && scale <= 200000,
      "packing bound: k <= 65536 and dim*(2*scale)^2 < 2^47")
    val q = quantized(emb, idCol, vecCol, scale)
      .persist(StorageLevel.MEMORY_AND_DISK)
    val centroids = train(q, k, iters, scale)
    val out = q.withColumn("packed", nearestPacked(centroids))
      .select(col("id"),
        pmod(col("packed"), lit(65536L)).as("cluster"),
        expr("packed div 65536").as("dist2"))
    // Returned LAZY; q is released immediately (lineage intact — consumers
    // re-derive the narrow quantize+assign kernel from parquet, which the
    // r11 probes measured FASTER than any caching variant: caching the
    // fat qv arrays or the assignment both lost ~1 s on q123 to cache
    // round-trips vs the cheap codegen loop). The r10 shape additionally
    // ran out.count() here — a full assignment job whose output was
    // dropped (out was never persisted, so nothing was materialized
    // "before unpersist") — removed. Multi-consumer callers that need the
    // assignment materialized once track it themselves
    // (semanticDedupKeepers).
    q.unpersist(blocking = false)
    out
  }

  /** The learned centroids in lattice units, for reuse as an index:
    * assigning NEW data is then one narrow pass with these as literals —
    * the daily-increment face of clustering, no retraining.
    */
  def kmeansCentroids(emb: DataFrame, idCol: String, vecCol: String,
                      k: Int, iters: Int, scale: Int = 1000)
                     (implicit spark: SparkSession): Array[Array[Long]] = {
    val q = quantized(emb, idCol, vecCol, scale)
      .persist(StorageLevel.MEMORY_AND_DISK)
    val c = train(q, k, iters, scale)
    q.unpersist()
    c
  }

  /** Assign-only pass against fixed centroids (from [[kmeansCentroids]]):
    * `(id, cluster, dist2)` with zero shuffles — the probe face.
    */
  def assign(emb: DataFrame, idCol: String, vecCol: String,
             centroids: Array[Array[Long]], scale: Int = 1000): DataFrame = {
    requirePackable(centroids(0).length, scale)
    quantized(emb, idCol, vecCol, scale)
      .withColumn("packed", nearestPacked(centroids))
      .select(col("id"),
        pmod(col("packed"), lit(65536L)).as("cluster"),
        expr("packed div 65536").as("dist2"))
  }

  /** Two-level assignment index: centroids grouped under `nSuper`
    * super-centroids (a driver-side Lloyd over the k×dim centroid matrix —
    * same lattice rules: smallest-index seeds, ties low, floor-div update,
    * empty keeps old).
    */
  final case class PrunedIndex(cents: Array[Array[Long]], superOf: Array[Int],
                               superCents: Array[Array[Long]])

  /** Build the [[PrunedIndex]] for [[assignPruned]] — the large-k escape
    * documented on [[semanticDupPairsAuto]]: flat assignment is O(k·dim)
    * per row; probing `nProbe` of `~sqrt(k)` super-groups cuts it to
    * O((nSuper + k·nProbe/nSuper)·dim). Pure driver arithmetic over the
    * k×dim matrix (k ≤ 65536 — trivial), deterministic.
    */
  def buildPrunedIndex(centroids: Array[Array[Long]], nSuper: Int,
                       superIters: Int = 3): PrunedIndex = {
    require(nSuper >= 1 && nSuper <= centroids.length)
    val dim = centroids(0).length
    var sc = centroids.take(nSuper).map(_.clone())
    def nearestSuper(v: Array[Long]): Int = {
      var bj = 0
      var bd = Long.MaxValue
      sc.indices.foreach { j =>
        var d = 0L
        var i = 0
        while (i < dim) { val t = v(i) - sc(j)(i); d += t * t; i += 1 }
        if (d < bd) { bd = d; bj = j }
      }
      bj
    }
    for (_ <- 1 to superIters) {
      val asg = centroids.map(nearestSuper)
      sc = sc.zipWithIndex.map { case (old, s) =>
        val members = centroids.indices.filter(asg(_) == s)
        if (members.isEmpty) old.clone()
        else Array.tabulate(dim)(i => members.map(centroids(_)(i)).sum / members.size)
      }
    }
    PrunedIndex(centroids, centroids.map(nearestSuper), sc)
  }

  /** Assign-only pass through the two-level index: exact when
    * `nProbe == nSuper`, otherwise approximate with the same output shape
    * as [[assign]] — a vector only ever misses its true centroid when that
    * centroid's super-group isn't among the query's `nProbe` closest
    * supers (the IVF recall story; pinned by a recall floor in
    * ClusterSpec). Narrow codegen kernel, no join, no shuffle.
    */
  def assignPruned(emb: DataFrame, idCol: String, vecCol: String,
                   idx: PrunedIndex, nProbe: Int, scale: Int = 1000): DataFrame = {
    val dim = idx.cents(0).length
    requirePackable(dim, scale)
    quantized(emb, idCol, vecCol, scale)
      .withColumn("packed", graft.functions.gfn.lattice_nearest_pruned(
        col("qv"), idx.cents.flatten, idx.cents.length, dim,
        idx.superOf, idx.superCents.flatten, idx.superCents.length, nProbe))
      .select(col("id"),
        pmod(col("packed"), lit(65536L)).as("cluster"),
        expr("packed div 65536").as("dist2"))
  }

  /** SEMANTIC DEDUP (SemDeDup, Abbas et al. 2023): k-means-cluster the
    * embeddings, then emit every WITHIN-CLUSTER pair with cosine similarity
    * `>= thrNum/thrDen` — the candidate restriction that makes
    * embedding-space dedup tractable: pairwise work is `~(n/k)^2 * k`
    * instead of `n^2`, and `k` is the dial (production SemDeDup runs k in
    * the tens of thousands so clusters hold ~1e4 docs; recall loss is
    * exactly the probability that two near-dups straddle a centroid
    * boundary, which shrinks as duplicates are by definition close).
    *
    * Exactness (the reason this composes with the lattice k-means): the
    * cosine test is evaluated on UNSHIFTED quantized vectors with an
    * integer cross-multiply — `cos(a,b) >= t  <=>  dot >= 0  AND
    * thrDen^2*dot^2 >= thrNum^2*|a|^2*|b|^2` — so pairs, like the clusters,
    * are bit-deterministic and SQL-replayable (q123's oracle). ANSI bound:
    * `thrDen^2*dot^2 <= thrDen^2*(dim*scale^2)^2` ~ 1.6e16 at the defaults.
    * Returns `(a_id, b_id, cluster, dot)` with `a_id < b_id`.
    */
  /** [[semanticDupPairs]] with k sized from the corpus: `k = n /
    * targetClusterSize`, so cluster SIZE stays constant as the corpus
    * grows and within-cluster pairwise work stays `~n·targetClusterSize`
    * — LINEAR in n. This is the same lesson as `cosineNearDupsAuto`'s
    * log-sized nBits, one level up: the 10× rehearsal measured fixed k=4
    * going 36× super-linear at 10× rows (cluster size grew 10×, pairs
    * 100×), while auto-k restores ~linear. The residual cost that grows
    * with k is the assignment pass (O(n·k·dim) against literal
    * centroids); past k ~ thousands, route assignment through a
    * coarse-quantizer prune (the IVF two-level pattern) — at the
    * rehearsal's k ≤ ~400 the flat pass is still the cheaper plan.
    */
  def semanticDupPairsAuto(emb: DataFrame, idCol: String, vecCol: String,
                           iters: Int = 2, targetClusterSize: Int = 150,
                           thrNum: Int = 1, thrDen: Int = 2,
                           scale: Int = 1000)
                          (implicit spark: SparkSession): DataFrame = {
    val n = emb.count()
    val k = math.max(1L, n / math.max(1, targetClusterSize)).toInt
    semanticDupPairs(emb, idCol, vecCol, k, iters, thrNum, thrDen, scale)
  }

  def semanticDupPairs(emb: DataFrame, idCol: String, vecCol: String,
                       k: Int, iters: Int, thrNum: Int = 1, thrDen: Int = 2,
                       scale: Int = 1000)
                      (implicit spark: SparkSession): DataFrame =
    pairsFromAssignment(
      kmeansLattice(emb, idCol, vecCol, k, iters, scale),
      emb, idCol, vecCol, thrNum, thrDen)

  /** The within-cluster pair scan of [[semanticDupPairs]] against an
    * existing `(id, cluster, ...)` assignment — lets [[semanticDedupKeepers]]
    * train once and reuse the assignment for both pairing and prototype
    * selection, and lets callers swap the assignment strategy (e.g.
    * [[assignPruned]]'s two-level kernel at large k).
    */
  def pairsFromAssignment(asgFull: DataFrame, emb: DataFrame,
                          idCol: String, vecCol: String,
                          thrNum: Int, thrDen: Int): DataFrame = {
    require(thrDen >= 1 && thrNum >= 0 && thrNum <= thrDen)
    import graft.functions.gfn
    val asg = asgFull.select(col("id"), col("cluster"))
    // Each vector quantizes ONCE (int lattice, unshifted — same bytes as
    // the float array across the cluster exchange, guide §2.3) and pairs
    // dot the pre-quantized ints: bit-equal to quantized_dot(va, vb) (the
    // per-element round commutes out of the pair loop; OpsSpec pins the
    // equality), but the 64 rounds per side are paid per VECTOR, not per
    // PAIR — the per-pair loop is a pure integer dot. `scale` tunes the
    // CLUSTERING lattice only; the pair predicate's fixed 1000-scale
    // cosine is scale-invariant up to quantization granularity.
    val f = asg
      .join(emb.select(col(idCol).cast("long").as("id"), col(vecCol).as("v")), "id")
      .withColumn("qv1000", gfn.quantize_lattice_i(col("v"), 1000L, 0L))
      .withColumn("n2", gfn.lattice_dot_i(col("qv1000"), col("qv1000")))
    val a = f.select(col("id").as("a_id"), col("cluster"),
      col("qv1000").as("va"), col("n2").as("na2"))
    val b = f.select(col("id").as("b_id"), col("cluster"),
      col("qv1000").as("vb"), col("n2").as("nb2"))
    a.join(b, Seq("cluster"))
      .filter(col("a_id") < col("b_id"))
      .withColumn("dot", gfn.lattice_dot_i(col("va"), col("vb")))
      .filter(col("dot") > 0 &&
        lit(thrDen.toLong * thrDen) * col("dot") * col("dot") >=
          lit(thrNum.toLong * thrNum) * col("na2") * col("nb2"))
      .select(col("a_id"), col("b_id"), col("cluster"), col("dot"))
  }

  /** SemDeDup END-TO-END: cluster → within-cluster near-dup pairs →
    * transitive closure → keep one PROTOTYPE per duplicate group — the
    * row-level drop decision a curation pipeline actually executes. The
    * prototype is the group member closest to its centroid (ties by id):
    * SemDeDup's "keep the most central example" rule, which preserves the
    * cluster's density peak rather than an arbitrary survivor. Returns
    * `(id, entity_id, dist2, is_keeper)` for EVERY input vector —
    * singletons are their own entity and keep themselves; downstream drops
    * `is_keeper = 0`.
    *
    * Scale: trains once (the assignment is shared by pairing and prototype
    * pick), closure is [[Components]]' O(log n) rounds, and the keeper
    * pick is a groupBy-min(struct) + equi-join — NOT a per-entity window,
    * for the q122 mega-entity reason. Every stage is bit-exact, so the
    * whole pipeline is SQL-replayable (q128).
    */
  def semanticDedupKeepers(emb: DataFrame, idCol: String, vecCol: String,
                           k: Int, iters: Int, thrNum: Int = 1, thrDen: Int = 2,
                           scale: Int = 1000)
                          (implicit spark: SparkSession): DataFrame = {
    // four consumers (pair scan a/b sides, entity labeling, prototype
    // argmin) — track the assignment so it materializes once; released at
    // the session owner's drain (no eager count: the first consumer
    // populates the cache)
    val asg = Caches.track(kmeansLattice(emb, idCol, vecCol, k, iters, scale))
    val pairs = pairsFromAssignment(asg, emb, idCol, vecCol, thrNum, thrDen)
      .select(col("a_id"), col("b_id"))
    // pairsFromAssignment emits a_id < b_id within a vector's single
    // cluster — one row per pair, so the components dedup is vouched away
    val labels = Components.connectedComponents(pairs, edgesDistinct = true)
      .select(col("id"), col("cluster_id"))
    val ents = asg.join(labels, Seq("id"), "left")
      .select(col("id"),
        coalesce(col("cluster_id"), col("id")).as("entity_id"), col("dist2"))
    val proto = ents.groupBy(col("entity_id"))
      .agg(min(struct(col("dist2"), col("id"))).as("m"))
    // No eager count here: the shared assignment is Caches-tracked inside
    // kmeansLattice (released at the session owner's drain), so both ents
    // consumers read its cache and the caller's one consumption of `out`
    // is the only execution of the keeper join — the r11 first cut paid an
    // extra full execution just to unpersist one step earlier.
    ents.join(proto, "entity_id")
      .select(col("id"), col("entity_id"), col("dist2"),
        (col("dist2") === col("m.dist2") && col("id") === col("m.id"))
          .cast("int").as("is_keeper"))
  }

  /** K-CENTER DIVERSITY SELECTION — greedy farthest-point traversal
    * (Gonzalez 1985, the 2-approximation for the k-center objective): seed
    * with the smallest id, then repeatedly select the point FARTHEST from
    * the already-selected set. The selection order is a coreset that
    * maximizes coverage — the "pick maximally-diverse exemplars" step of
    * curation pipelines (diverse few-shot pools, coverage-driven
    * subsampling, active-learning seeds), the opposite pole of SemDeDup's
    * "drop the redundant" and the same integer lattice, so every distance
    * is an exact 64-bit number and an unrolled SQL oracle replays the
    * greedy loop decision-for-decision (q150).
    *
    * Emits (sel_rank, id, dist2): dist2 = squared lattice distance from
    * the picked point to its nearest already-selected center AT SELECTION
    * TIME — the non-increasing coverage-radius sequence (r_k bounds how
    * far any corpus point is from the selected set; 0 for the seed).
    *
    * Scale shape: k−1 corpus passes, each a NARROW min-distance kernel
    * (selected centers ride into codegen as literals — the kmeans
    * assignment expression) topped by a TakeOrdered(1) argmax — k rows
    * total ever reach the driver, nothing corpus-sized shuffles. Ties
    * break to the smallest id (both engines). For k beyond ~hundreds the
    * known dial is pre-clustering (select per kmeans cell) — same
    * composition as [[assignPruned]]'s two-level escape.
    *
    * If k exceeds the number of DISTINCT lattice points, selection stops
    * early (the round's max distance hits 0 — everything left coincides
    * with a center) and fewer than k rows come back; ids are never
    * duplicated.
    */
  def kCenterSelect(emb: DataFrame, idCol: String, vecCol: String, k: Int,
                    scale: Int = 1000)
                   (implicit spark: SparkSession): DataFrame = {
    require(k >= 1 && k <= 65536 && scale >= 1 && scale <= 200000,
      "packing bound: k <= 65536 and dim*(2*scale)^2 < 2^47")
    import spark.implicits._
    val q = quantized(emb, idCol, vecCol, scale)
      .persist(StorageLevel.MEMORY_AND_DISK)
    val first = q.orderBy(col("id")).limit(1)
      .select(col("id"), col("qv")).collect()
    require(first.nonEmpty, "k-center needs a non-empty input")
    requirePackable(first(0).getSeq[Long](1).length, scale)
    var centers = Vector(first(0).getSeq[Long](1).toArray)
    var picks = Vector((1L, first(0).getLong(0), 0L))
    var exhausted = false
    for (r <- 2 to k if !exhausted) {
      // min dist2 to the selected set per row (packed codegen kernel),
      // argmax with the smallest-id tie rule — TakeOrdered(1), one row back
      val far = q
        .select(col("id"), nearestPacked(centers.toArray).as("packed"))
        .select(col("id"), expr("packed div 65536").as("d2"))
        .orderBy(col("d2").desc, col("id")).limit(1).collect()(0)
      if (far.getLong(1) == 0L) {
        // every remaining point coincides with a selected center on the
        // lattice (k exceeds the distinct-point count): the argmax would
        // re-pick an already-selected id forever. Return the < k genuine
        // picks instead of emitting duplicates.
        exhausted = true
      } else {
        val vec = q.where(col("id") === far.getLong(0))
          .select(col("qv")).collect()(0).getSeq[Long](0).toArray
        centers :+= vec
        picks :+= ((r.toLong, far.getLong(0), far.getLong(1)))
      }
    }
    q.unpersist(blocking = false) // fully consumed within the call
    picks.toDF("sel_rank", "id", "dist2")
  }

  /** LABEL/CLASS CENTROID AFFINITY — the embedding-space analogue of the
    * lexical cross-source overlap matrix (q145): per-label lattice-mean
    * centroid, then the exact pairwise (dot, norms, cosine) table. High
    * off-diagonal cosine ⇒ semantically entangled classes/slices (merge or
    * re-label before training a router/classifier on them); the
    * class-separation audit at the slice level.
    *
    * Exactness: centroids are exact floor-divided lattice means (the q119
    * rule), dot and squared norms are exact Long sums; only the final
    * cosine is FP — a fixed 4-op dag (two sqrt, one multiply, one divide),
    * identical in both engines.
    *
    * Scale: the corpus pays ONE posexplode + partial-combined
    * groupBy(label, dim) — L×dim cells out; everything pairwise happens on
    * the L×dim centroid table (tiny for any real label set).
    */
  def labelAffinity(emb: DataFrame, labelCol: String, vecCol: String,
                    scale: Int = 1000): DataFrame = {
    val q = quantized2(emb, labelCol, vecCol, scale)
    val cent = q.select(col("lab"), posexplode(col("qv")).as(Seq("i", "v")))
      .groupBy(col("lab"), col("i"))
      .agg(sum(col("v")).as("s"), count(lit(1)).as("n"))
      .select(col("lab"), col("i"), expr("s div n").as("v"))
    val norms = cent.groupBy(col("lab"))
      .agg(sum(col("v") * col("v")).as("norm2"))
    val a = cent.select(col("lab").as("label_a"), col("i"), col("v").as("va"))
    val b = cent.select(col("lab").as("label_b"), col("i"), col("v").as("vb"))
    a.join(b, Seq("i")).where(col("label_a") < col("label_b"))
      .groupBy(col("label_a"), col("label_b"))
      .agg(sum(col("va") * col("vb")).as("dot"))
      .join(broadcast(norms).withColumnRenamed("lab", "label_a")
        .withColumnRenamed("norm2", "norm2_a"), Seq("label_a"))
      .join(broadcast(norms).withColumnRenamed("lab", "label_b")
        .withColumnRenamed("norm2", "norm2_b"), Seq("label_b"))
      .withColumn("cos", col("dot").cast("double") /
        (sqrt(col("norm2_a").cast("double")) * sqrt(col("norm2_b").cast("double"))))
      .select(col("label_a"), col("label_b"), col("dot"),
        col("norm2_a"), col("norm2_b"), col("cos"))
  }

  /** [[quantized]] with a caller-named non-id group column (labels). */
  private def quantized2(emb: DataFrame, labCol: String, vecCol: String,
                         scale: Int): DataFrame =
    emb.select(col(labCol).cast("long").as("lab"),
      graft.functions.gfn.quantize_lattice(col(vecCol), scale, scale).as("qv"))
}
