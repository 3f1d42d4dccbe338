package graft.functions

import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.unsafe.types.UTF8String

/** Vector + simhash kernels for the similarity/dedup hot paths — the
  * higher-order-function formulations evaluate interpreted per element;
  * these are single JVM loops callable from generated code.
  */
object VecKernel {

  /** Cosine similarity of two float-element arrays (double accumulation). */
  def cosineF(a: ArrayData, b: ArrayData): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      val x = a.getFloat(i).toDouble
      val y = b.getFloat(i).toDouble
      dot += x * y; na += x * x; nb += y * y
      i += 1
    }
    // zero-norm (or empty) vectors: similarity 0, not NaN — NaN would sort
    // ABOVE every real score in Spark's descending order and hijack top-k
    val denom = math.sqrt(na) * math.sqrt(nb)
    if (denom == 0.0) 0.0 else dot / denom
  }

  /** Round half away from zero — the semantics of both Spark's round() and
    * DuckDB's round(), unlike Math.round (floor(x+0.5)) which differs on
    * negative halves.
    */
  @inline private def roundHalfAway(x: Double): Long =
    (if (x >= 0) Math.floor(x + 0.5) else Math.ceil(x - 0.5)).toLong

  /** Integer lattice quantization of a float-element vector:
    * round(x.toDouble * scale) + shift per element — the native form of
    * the `transform(v, x -> cast(round(cast(x as double) * scale) as
    * bigint) + shift)` dag shared by Cluster/Pq/Similarity (whose
    * interpreted per-element lambda was the measured hot cost of the
    * kmeans/pair-scan exchanges). Rounding replays Spark's Round on
    * DoubleType EXACTLY — BigDecimal.valueOf(x).setScale(0, HALF_UP) — so
    * every lattice coordinate is bit-identical to the dag (pinned on the
    * embeddings corpus + adversarial doubles in OpsSpec). On float-sourced
    * inputs this coincides with [[roundHalfAway]] (a 24-bit mantissa times
    * an integer scale cannot land on the 0.49999999999999994-style cases
    * where the two rules split), but the BigDecimal route removes the
    * question.
    */
  /** Element read dispatched on the declared element type (the dag's
    * `cast(x as double)` accepted any numeric): 0=float, 1=double, 2=int,
    * 3=long — resolved once at expression construction, a constant in the
    * generated call.
    */
  @inline private def elemAsDouble(v: ArrayData, i: Int, et: Int): Double =
    et match {
      case 0 => v.getFloat(i).toDouble
      case 1 => v.getDouble(i)
      case 2 => v.getInt(i).toDouble
      case _ => v.getLong(i).toDouble
    }

  def quantizeLattice(v: ArrayData, scale: Long, shift: Long, et: Int): ArrayData = {
    val n = v.numElements()
    val out = new Array[Long](n)
    var i = 0
    while (i < n) {
      val x = elemAsDouble(v, i, et) * scale
      out(i) = java.math.BigDecimal.valueOf(x)
        .setScale(0, java.math.RoundingMode.HALF_UP).doubleValue().toLong + shift
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  /** [[quantizeLattice]] into an INT array — same values (|round(x*scale)|
    * + shift must fit an int, callers bound scale), half the bytes of the
    * long form and no wider than the float input: the right carrier when
    * the lattice crosses an exchange (guide §2.3, narrower types).
    */
  def quantizeLatticeI(v: ArrayData, scale: Long, shift: Long, et: Int): ArrayData = {
    val n = v.numElements()
    val out = new Array[Int](n)
    var i = 0
    while (i < n) {
      val x = elemAsDouble(v, i, et) * scale
      out(i) = (java.math.BigDecimal.valueOf(x)
        .setScale(0, java.math.RoundingMode.HALF_UP).doubleValue().toLong + shift)
        .toInt
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  /** Exact dot of two pre-quantized INT lattice vectors in long arithmetic
    * — with [[quantizeLatticeI]](scale, 0) inputs this equals
    * [[quantizedDot]] of the original float vectors (each element rounds
    * once per VECTOR instead of once per PAIR; OpsSpec pins the equality
    * on the corpus). The per-pair hot loop of the within-cluster dedup
    * scan.
    */
  def latticeDotI(a: ArrayData, b: ArrayData): Long = {
    val n = math.min(a.numElements(), b.numElements())
    var acc = 0L
    var i = 0
    while (i < n) { acc += a.getInt(i).toLong * b.getInt(i); i += 1 }
    acc
  }

  /** Integer-quantized dot product: sum of round(x*1000)*round(y*1000) as
    * exact long arithmetic (matches the DuckDB oracle formulation
    * bit-for-bit).
    */
  def quantizedDot(a: ArrayData, b: ArrayData): Long = {
    val n = math.min(a.numElements(), b.numElements())
    var acc = 0L
    var i = 0
    while (i < n) {
      acc += roundHalfAway(a.getFloat(i).toDouble * 1000) *
        roundHalfAway(b.getFloat(i).toDouble * 1000)
      i += 1
    }
    acc
  }

  /** UnsafeArrayData reads past its end unchecked: refuse a short vector. */
  private def requireDim(kernel: String, qv: ArrayData, dim: Int): Unit =
    if (qv.numElements() < dim)
      throw new IllegalArgumentException(
        s"$kernel: vector has ${qv.numElements()} elements, expected at least $dim")

  /** Nearest centroid on the integer LATTICE (exact k-means assignment,
    * ops/Cluster): input is the pre-quantized long array, centroids are
    * flattened row-major (k × dim) longs. Returns `dist2 * 65536 + j` —
    * the packed lexicographic (dist2, cluster) minimum, so ties go to the
    * lower cluster id and callers unpack with div/pmod. One tight JVM loop
    * replaces the k×dim-literal HOF expression whose per-job analysis cost
    * dominated the driver loop (measured ~1.5 s/job at k=4, dim=64).
    * Bound: needs `dist2 < 2^47` i.e. `dim*(2*scale)^2 < 1.4e14` — holds to
    * scale ~2.3e5 at dim 64; k <= 65536.
    */
  def latticeNearest(qv: ArrayData, cents: Array[Long], k: Int, dim: Int): Long = {
    requireDim("lattice_nearest", qv, dim)
    var best = Long.MaxValue
    var j = 0
    while (j < k) {
      var d = 0L
      var i = 0
      val off = j * dim
      while (i < dim) {
        val t = qv.getLong(i) - cents(off + i)
        d += t * t
        i += 1
      }
      val packed = d * 65536L + j
      if (packed < best) best = packed
      j += 1
    }
    best
  }

  /** Two-level pruned lattice assignment (the large-k escape for
    * [[latticeNearest]]'s O(k·dim) flat scan): rank the `nSuper`
    * super-centroids, then scan only centroids whose super is among the
    * `nProbe` nearest supers. Same packing/tie contract as latticeNearest.
    * Deterministic (fixed probe order, exact integer distances); exact
    * when `nProbe == nSuper`, approximate-with-recall-test otherwise —
    * the IVF coarse-quantizer pattern applied to k-means itself.
    */
  def latticeNearestPruned(qv: ArrayData, cents: Array[Long], k: Int, dim: Int,
                           superOf: Array[Int], superCents: Array[Long],
                           nSuper: Int, nProbe: Int): Long = {
    requireDim("lattice_nearest_pruned", qv, dim)
    // rank supers by packed (dist2, id): selection of nProbe best
    val superPacked = new Array[Long](nSuper)
    var s = 0
    while (s < nSuper) {
      var d = 0L
      var i = 0
      val off = s * dim
      while (i < dim) {
        val t = qv.getLong(i) - superCents(off + i)
        d += t * t
        i += 1
      }
      superPacked(s) = d * 65536L + s
      s += 1
    }
    java.util.Arrays.sort(superPacked)
    val probed = new Array[Boolean](nSuper)
    var p = 0
    val np = if (nProbe < nSuper) nProbe else nSuper
    while (p < np) {
      probed((superPacked(p) % 65536L).toInt) = true
      p += 1
    }
    var best = Long.MaxValue
    var j = 0
    while (j < k) {
      if (probed(superOf(j))) {
        var d = 0L
        var i = 0
        val off = j * dim
        while (i < dim) {
          val t = qv.getLong(i) - cents(off + i)
          d += t * t
          i += 1
        }
        val packed = d * 65536L + j
        if (packed < best) best = packed
      }
      j += 1
    }
    best
  }

  /** Hyperplane LSH signature: bit i = sign(dot(v, plane_i)); planes are
    * flattened row-major (nBits × dim).
    */
  def lshSig(v: ArrayData, planes: Array[Double], nBits: Int, dim: Int): Long = {
    var sig = 0L
    var b = 0
    while (b < nBits) {
      var dot = 0.0
      val off = b * dim
      val n = math.min(v.numElements(), dim)
      var i = 0
      while (i < n) { dot += v.getFloat(i).toDouble * planes(off + i); i += 1 }
      if (dot >= 0) sig |= 1L << b
      b += 1
    }
    sig
  }

  /** Index of the max-dot centroid (centroids flattened row-major and
    * pre-normalized, so argmax dot = argmax cosine).
    */
  def nearestCentroid(v: ArrayData, cents: Array[Double], nList: Int, dim: Int): Int = {
    var best = 0; var bestDot = Double.NegativeInfinity
    var c = 0
    while (c < nList) {
      var dot = 0.0
      val off = c * dim
      val n = math.min(v.numElements(), dim)
      var i = 0
      while (i < n) { dot += v.getFloat(i).toDouble * cents(off + i); i += 1 }
      if (dot > bestDot) { bestDot = dot; best = c }
      c += 1
    }
    best
  }

  /** The nProbe nearest centroids by dot score (descending). */
  def topCells(v: ArrayData, cents: Array[Double], nList: Int, dim: Int,
               nProbe: Int): ArrayData = {
    val dots = new Array[Double](nList)
    var c = 0
    while (c < nList) {
      var dot = 0.0
      val off = c * dim
      val n = math.min(v.numElements(), dim)
      var i = 0
      while (i < n) { dot += v.getFloat(i).toDouble * cents(off + i); i += 1 }
      dots(c) = dot
      c += 1
    }
    val order = dots.zipWithIndex.sortBy(-_._1).take(math.min(nProbe, nList))
    new org.apache.spark.sql.catalyst.util.GenericArrayData(order.map(_._2))
  }

  /** 64-bit SimHash over whitespace tokens (same tokenizer contract as
    * MinHashKernel.shingleHashes: lowercase fold, whitespace runs delimit).
    */
  def simhash64(text: UTF8String): Long = {
    val bytes = text.getBytes
    val counts = new Array[Int](64)
    var i = 0
    val n = bytes.length
    while (i < n) {
      while (i < n && isSpace(bytes(i))) i += 1
      if (i < n) {
        var h = 0x2545f4914f6cdd1dL
        while (i < n && !isSpace(bytes(i))) {
          val b0 = bytes(i)
          val lb = if (b0 >= 'A' && b0 <= 'Z') (b0 + 32).toByte else b0
          h = MinHashKernel.mix(h ^ (lb & 0xffL))
          i += 1
        }
        var bit = 0
        while (bit < 64) {
          if (((h >>> bit) & 1L) == 1L) counts(bit) += 1 else counts(bit) -= 1
          bit += 1
        }
      }
    }
    var sig = 0L
    var bit = 0
    while (bit < 64) { if (counts(bit) > 0) sig |= 1L << bit; bit += 1 }
    sig
  }


  /** Achlioptas ±1 random projection over the integer lattice (r12): the
    * native form of Similarity.randomProject's per-output-dim dag
    *   aggregate(transform(qv, (x, i) -> x · (1 − 2·(bit_count(i·73856093
    *     + j·19349663) % 2))), 0, +)
    * for every j in [0, outDim) — one pass over the vector per output
    * dim, no interpreted lambdas, no per-row array churn (the HOF pair
    * evaluated interpreted per ELEMENT per output dim). Exact integer
    * sums, identical popcount-parity signs (OpsSpec pin).
    */
  def randomProjectSigns(qv: ArrayData, outDim: Int): ArrayData = {
    val n = qv.numElements()
    val out = new Array[Long](outDim)
    var j = 0
    while (j < outDim) {
      var acc = 0L
      val jMix = j.toLong * 19349663L
      var i = 0
      while (i < n) {
        val parity = java.lang.Long.bitCount(i.toLong * 73856093L + jMix) & 1
        val x = qv.getLong(i)
        acc += (if (parity == 0) x else -x)
        i += 1
      }
      out(j) = acc
      j += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  /** Split a quantized vector into nSub contiguous subvectors (r12): the
    * native form of transform(sequence(0, nSub−1), s -> slice(qv,
    * s·subDim + 1, subDim)) — Pq.train's per-row staging, whose
    * transform+slice pair evaluated interpreted per subvector.
    */
  def subvectors(qv: ArrayData, nSub: Int, subDim: Int): ArrayData = {
    requireDim("subvectors", qv, nSub * subDim)
    val rows = new Array[Any](nSub)
    var s = 0
    while (s < nSub) {
      val sub = new Array[Long](subDim)
      var i = 0
      val base = s * subDim
      while (i < subDim) { sub(i) = qv.getLong(base + i); i += 1 }
      rows(s) = new org.apache.spark.sql.catalyst.util.GenericArrayData(sub)
      s += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(rows)
  }

  @inline private def isSpace(b: Byte): Boolean =
    b == ' ' || b == '\n' || b == '\t' || b == '\r' || b == '\f' || b == 0x0b
}
