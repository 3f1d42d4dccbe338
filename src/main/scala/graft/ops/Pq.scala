package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Product quantization (Jégou, Douze, Schmid 2011, "Product Quantization
  * for Nearest Neighbor Search") — the memory-scale ANN path: each vector
  * is cut into `nSub` subvectors, each subvector assigned to one of `k`
  * per-subspace centroids, and the whole vector stored as `nSub` small
  * codes (nSub·log2(k) bits, e.g. 8 bytes for a 64-dim float vector — a
  * 32× compression). Search is Asymmetric Distance Computation (ADC): per
  * query, a (nSub × k) table of exact squared subspace distances is
  * computed ONCE, and every corpus vector's approximate distance is just
  * `nSub` table lookups summed — no float math per corpus row.
  *
  * This implementation stays in the repo's integer-exact style: vectors
  * are quantized to the non-negative integer lattice (round(x·scale) +
  * scale, the Cluster recipe), codebooks are trained with exact-Long
  * Lloyd updates (floor division, ties to the lower code), and ADC
  * distances are exact Long sums — bit-identical across engines, task
  * retries, and partitionings.
  *
  * Scale shape:
  *  - train: `iters` passes over the corpus; each pass assigns ALL
  *    subspaces in one narrow projection (a when-chain of per-subspace
  *    codegen'd lattice_nearest kernels) and partial-aggregates to
  *    nSub·k·subDim exact sum rows — the only driver state is the
  *    codebook (nSub·k·subDim longs, e.g. 8·16·8 = 1 Ki).
  *  - encode: one narrow projection per corpus row (nSub kernel calls),
  *    no shuffle.
  *  - search: queries are a bounded broadcast (≤ maxQueries); the
  *    corpus×queries expansion is narrow and feeds the bounded-heap
  *    TopKByScore partial aggregate — shuffle carries k rows per query
  *    per partition, never corpus rows.
  */
object Pq {

  /** Learned PQ codebook: `cents(sub)(code)` is a subDim-long lattice
    * point. `scale` is the lattice quantization scale.
    */
  final case class Codebook(nSub: Int, subDim: Int, k: Int, scale: Int,
                            cents: Array[Array[Array[Long]]])

  private def quantized(emb: DataFrame, idCol: String, vecCol: String,
                        scale: Int): DataFrame =
    emb.select(col(idCol).cast("long").as("id"),
      graft.functions.gfn.quantize_lattice(col(vecCol), scale, scale).as("qv"))

  /** Packed (dist2·65536 + code) nearest-centroid over the row's `sub`
    * subspace — a when-chain dispatching to per-subspace kernels so one
    * pass assigns every subspace.
    */
  private def nearestForSub(cents: Array[Array[Array[Long]]]): Column =
    cents.zipWithIndex.foldRight(lit(-1L): Column) { case ((cs, s), acc) =>
      when(col("sub") === s,
        graft.functions.gfn.lattice_nearest(col("sv"), cs.flatten,
          cs.length, cs(0).length)).otherwise(acc)
    }

  /** Train per-subspace codebooks with exact-Long Lloyd iterations.
    * Initial centroids are the `k` smallest-id vectors' subvectors (the
    * Cluster convention — deterministic, SQL-trivial).
    */
  def train(emb: DataFrame, idCol: String, vecCol: String,
            nSub: Int, k: Int, iters: Int, scale: Int = 1000)
           (implicit spark: SparkSession): Codebook = {
    require(nSub >= 1 && k >= 2 && k <= 65536 && iters >= 0,
      s"bad PQ config nSub=$nSub k=$k iters=$iters")
    val q = quantized(emb, idCol, vecCol, scale)
    val dim = q.select(size(col("qv"))).head().getInt(0)
    require(dim % nSub == 0, s"dim $dim not divisible by nSub $nSub")
    val subDim = dim / nSub
    require(subDim.toLong * 4L * scale.toLong * scale.toLong < (1L << 47),
      s"packing bound: subDim*(2*scale)^2 < 2^47 (subDim=$subDim, scale=$scale)")
    // one (id, sub, subvector) frame: nSub rows per vector, built narrowly
    // (r12: native subvector split — the transform+slice dag ran its
    // lambda interpreted per subvector)
    val sv = q.select(col("id"),
        posexplode(graft.functions.gfn.subvectors(col("qv"), nSub, subDim))
          .as(Seq("sub", "sv")))
      .persist(StorageLevel.MEMORY_AND_DISK)
    try {
      val init = q.orderBy(col("id")).limit(k).select(col("qv"))
        .collect().map(_.getSeq[Long](0).toArray)
      require(init.length == k, s"need >= $k input vectors")
      var cents: Array[Array[Array[Long]]] =
        Array.tabulate(nSub, k)((s, c) => init(c).slice(s * subDim, (s + 1) * subDim))
      for (_ <- 1 to iters) {
        val sums = sv.select(col("sub"),
            pmod(nearestForSub(cents), lit(65536L)).cast("int").as("code"),
            posexplode(col("sv")).as(Seq("i", "v")))
          .groupBy(col("sub"), col("code"), col("i"))
          .agg(sum(col("v")).as("s"), count(lit(1)).as("n"))
          .collect()
        val next = cents.map(_.map(_.clone())) // empty code keeps its centroid
        sums.foreach { r =>
          // floorDiv, not Long '/': negative sums (embedding component
          // < -1 after quantization) would otherwise truncate toward zero
          // and diverge from the documented floor semantics (advice fix)
          next(r.getInt(0))(r.getInt(1))(r.getInt(2)) =
            Math.floorDiv(r.getLong(3), r.getLong(4))
        }
        cents = next
      }
      Codebook(nSub, subDim, k, scale, cents)
    } finally sv.unpersist()
  }

  /** Encode every vector to its `nSub` PQ codes — one narrow projection,
    * no shuffle. Output: (id, codes array<long>).
    */
  def encode(emb: DataFrame, idCol: String, vecCol: String,
             cb: Codebook): DataFrame = {
    val q = quantized(emb, idCol, vecCol, cb.scale)
    val codes = array((0 until cb.nSub).map { s =>
      pmod(graft.functions.gfn.lattice_nearest(
        expr(s"slice(qv, ${s * cb.subDim + 1}, ${cb.subDim})"),
        cb.cents(s).flatten, cb.k, cb.subDim), lit(65536L))
    }: _*)
    q.select(col("id"), codes.as("codes"))
  }

  /** ADC top-k search: for each query (a bounded frame — the per-query
    * distance tables are driver-built), the `n` nearest corpus codes by
    * exact-Long table-lookup distance. Output: (query_id, rank, id,
    * adc_dist2), rank 1..n by (dist2, id).
    */
  def search(codes: DataFrame, queries: DataFrame, qIdCol: String,
             qVecCol: String, cb: Codebook, n: Int,
             maxQueries: Int = 64)(implicit spark: SparkSession): DataFrame = {
    require(n >= 1, s"n must be positive, got $n")
    val qRows = quantized(queries, qIdCol, qVecCol, cb.scale)
      .orderBy(col("id")).limit(maxQueries + 1).collect()
    require(qRows.length <= maxQueries,
      s"more than $maxQueries queries; ADC tables are driver-built")
    // per-query distance table, flattened (sub*k + code) -> exact dist2
    val tables = qRows.map { r =>
      val qv = r.getSeq[Long](1).toArray
      val dt = new Array[Long](cb.nSub * cb.k)
      var s = 0
      while (s < cb.nSub) {
        var c = 0
        while (c < cb.k) {
          var d2 = 0L
          var i = 0
          while (i < cb.subDim) {
            val d = qv(s * cb.subDim + i) - cb.cents(s)(c)(i)
            d2 += d * d
            i += 1
          }
          dt(s * cb.k + c) = d2
          c += 1
        }
        s += 1
      }
      (r.getLong(0), dt.toSeq)
    }.toSeq
    import spark.implicits._
    val qdf = broadcast(tables.toDF("query_id", "dt"))
    val scored = codes.crossJoin(qdf)
      .select(col("query_id"), col("id"),
        aggregate(
          transform(sequence(lit(0), lit(cb.nSub - 1)),
            s => element_at(col("dt"),
              (s * cb.k + element_at(col("codes"), s + 1)).cast("int") + 1)),
          lit(0L), (acc, x) => acc + x).as("adc_dist2"))
    // bounded-heap per-query top-n: score = -dist2 (exact in double for
    // dist2 < 2^53), ties broken by lower id inside the heap's (score, id)
    // ordering
    scored
      .groupBy(col("query_id"))
      .agg(graft.functions.gfn.topk_by_score(
        -col("adc_dist2").cast("double"), col("id"), n).as("top"))
      .select(col("query_id"), posexplode(col("top")).as(Seq("pos", "hit")))
      .select(col("query_id"), (col("pos") + 1).cast("long").as("rank"),
        col("hit.id").as("id"),
        (-col("hit.score")).cast("long").as("adc_dist2"))
  }
}
