package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Catalyst surface of the JVM kernels. Spark lacks three operations the
  * pipeline needs (SURVEY.md §7.2) — per-value gzip inflate (O4),
  * dateutil-grade lenient timestamp parsing (O9) and KPL deaggregation
  * (O3) — and the training-data catalog adds the text/vector kernels.
  *
  * Every scalar kernel is a static method on a kernel object (TextKernel,
  * VecKernel, MinHashKernel, GzipUtil, LenientTs, BpeKernel, AcKernel), and
  * `gfn` calls it through Spark's own StaticInvoke: whole-stage code makes a
  * direct `graft.functions.<Kernel>.<method>(...)` call, the interpreted
  * path (HOF lambdas, NO_CODEGEN) one reflective call. Scalar knobs ride as
  * Literals; arrays and compiled state (centroids, planes, BPE ranks, the
  * Aho–Corasick automaton) as ObjectType literals built once in `gfn`. A
  * null input gives a null result; only `try_gunzip` and `lenient_ts` can
  * also return null themselves.
  *
  * The classes below are the exceptions, each doing more than forwarding.
  */

/** O3: KPL aggregate record → 0..N user payloads. A Generator (planned by
  * GenerateExec, like explode), which StaticInvoke cannot be. Non-aggregate
  * input yields itself.
  */
case class KplDeaggregate(child: Expression) extends UnaryExpression
    with Generator with CodegenFallback {
  override def elementSchema: StructType = new StructType().add("payload", BinaryType)
  override def prettyName: String = "kpl_deaggregate"

  override def eval(input: InternalRow): IterableOnce[InternalRow] = {
    val v = child.eval(input)
    if (v == null) Nil
    else Kpl.deaggregate(v.asInstanceOf[Array[Byte]]).map(d => InternalRow(d))
  }

  override protected def withNewChildInternal(newChild: Expression): KplDeaggregate =
    copy(newChild)
}

/** Integer lattice quantization of a numeric array (VecKernel.quantizeLattice,
  * or quantizeLatticeI into array<int> when `toInt`): round(x*scale)+shift
  * per element, bit-identical to the transform+round dag it replaces. A
  * class because the kernel's element-type code comes from the RESOLVED
  * child type (the dag's cast(x as double) accepted any numeric element),
  * which `gfn` cannot see; the optimizer then swaps in the StaticInvoke.
  */
case class QuantizeLattice(child: Expression, scale: Long, shift: Long, toInt: Boolean)
    extends RuntimeReplaceable with UnaryLike[Expression] {
  override def prettyName: String = if (toInt) "quantize_lattice_i" else "quantize_lattice"
  override def dataType: DataType = gfn.arr(if (toInt) IntegerType else LongType)

  private def elemCode: Option[Int] = child.dataType match {
    case ArrayType(FloatType, _) => Some(0)
    case ArrayType(DoubleType, _) => Some(1)
    case ArrayType(IntegerType, _) => Some(2)
    case ArrayType(LongType, _) => Some(3)
    case _ => None
  }

  override def checkInputDataTypes(): TypeCheckResult =
    if (elemCode.isDefined) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName takes a numeric array, got ${child.dataType}")

  override lazy val replacement: Expression =
    gfn.call(VecKernel, if (toInt) "quantizeLatticeI" else "quantizeLattice", dataType,
      Seq(child, Literal(scale), Literal(shift), Literal(elemCode.get)))

  override protected def withNewChildInternal(c: Expression): QuantizeLattice =
    copy(child = c)
}

/** Ascending-index pairs of an id array: `long_pairs` over array<bigint>
  * (TextKernel.longPairs, the posting-bucket pair expansion) and
  * `string_pairs` over array<string> (TextKernel.stringPairs, the
  * sourceOverlap expansion); order-exact vs the nested-transform dag
  * (OpsSpec pin). A class so that a wrong element type fails at analysis:
  * StaticInvoke checks no input type, and the kernel would misread the array.
  */
case class IdPairs(child: Expression, elem: DataType)
    extends RuntimeReplaceable with UnaryLike[Expression] {
  private def isLong = elem == LongType
  override def prettyName: String = if (isLong) "long_pairs" else "string_pairs"
  override def dataType: DataType =
    if (isLong) gfn.arr(gfn.struct("a_id" -> elem, "b_id" -> elem))
    else gfn.arr(gfn.struct("a" -> elem, "b" -> elem))

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(`elem`, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"$prettyName takes array<${elem.simpleString}>, got $t")
  }

  override lazy val replacement: Expression =
    gfn.call(TextKernel, if (isLong) "longPairs" else "stringPairs", dataType, Seq(child))

  override protected def withNewChildInternal(c: Expression): IdPairs = copy(child = c)
}

/** Column API over the kernels; the SQL names are registered from
  * graft.GraftExtensions' table, which calls these same functions.
  */
object gfn {
  private def col(e: Expression): Column = ColumnBridge.column(e)
  private def ex(c: Column): Expression = ColumnBridge.expression(c)

  private[functions] def arr(t: DataType): DataType = ArrayType(t, containsNull = false)
  private[functions] def struct(fields: (String, DataType)*): DataType =
    StructType(fields.map { case (n, t) => StructField(n, t, nullable = false) })

  /** A JVM object (array, map, automaton) passed to the kernel as is. */
  private def obj(v: AnyRef): Literal = Literal(v, ObjectType(v.getClass))

  /** `kernel.method(args...)` as a StaticInvoke: null when an argument is
    * null, and otherwise only when `nullableResult` (the kernel may return
    * null itself).
    */
  private[functions] def call(kernel: AnyRef, method: String, dataType: DataType,
                              args: Seq[Expression],
                              nullableResult: Boolean = false): Expression =
    StaticInvoke(kernel.getClass, dataType, method, args, returnNullable = nullableResult)

  /** [[call]] over Columns, Expressions and plain values (→ Literals). */
  private def kernel(kernel: AnyRef, method: String, dataType: DataType, args: Any*): Column =
    col(call(kernel, method, dataType, args.map {
      case c: Column => ex(c)
      case e: Expression => e
      case v => Literal(v)
    }))

  private val pair = struct("w1" -> StringType, "w2" -> StringType)

  /** O4: inflate gzip values, pass others through; null on a corrupt stream. */
  def try_gunzip(c: Column): Column =
    col(call(GzipUtil, "maybeGunzip", BinaryType, Seq(ex(c)), nullableResult = true))
  /** DEFLATE-compressed byte length (zlib level 6, raw stream): the
    * compression-ratio quality signal's numerator.
    */
  def deflate_len(c: Column): Column = kernel(GzipUtil, "deflateLen", LongType, c)
  /** O9: lenient multi-format parse → timestamp, null when unparseable; the
    * zone applies to zone-less formats and rides as an object, never
    * spliced into generated source.
    */
  def lenient_ts(c: Column, zone: String = "UTC"): Column = col(call(LenientTs,
    "parseMicros", TimestampType, Seq(ex(c), obj(zone)), nullableResult = true))
  def kpl_deaggregate(c: Column): Column = col(KplDeaggregate(ex(c)))

  /** Distinct 31-bit hashes of w-token windows (MinHashKernel). */
  def shingle_hashes(c: Column, w: Int = 3): Column =
    kernel(MinHashKernel, "shingleHashes", arr(LongType), c, w, true)
  /** [[shingle_hashes]] unfolded: 64-bit hashes for set-exact counting. */
  def shingle_hashes64(c: Column, w: Int = 3): Column =
    kernel(MinHashKernel, "shingleHashes", arr(LongType), c, w, false)
  def minhash_sig(c: Column, a: Array[Long], b: Array[Long]): Column =
    kernel(MinHashKernel, "signature", arr(LongType), c, obj(a), obj(b))
  /** Exact w-shingle Jaccard of two texts (string-set semantics). */
  def ngram_jaccard(l: Column, r: Column, w: Int = 3): Column =
    kernel(MinHashKernel, "ngramJaccard", DoubleType, l, r, w)

  def vec_cosine(l: Column, r: Column): Column = kernel(VecKernel, "cosineF", DoubleType, l, r)
  /** sum(round(x*1000)*round(y*1000)) in exact long arithmetic. */
  def quantized_dot(l: Column, r: Column): Column =
    kernel(VecKernel, "quantizedDot", LongType, l, r)
  def quantize_lattice(c: Column, scale: Long, shift: Long): Column =
    col(QuantizeLattice(ex(c), scale, shift, toInt = false))
  def quantize_lattice_i(c: Column, scale: Long, shift: Long): Column =
    col(QuantizeLattice(ex(c), scale, shift, toInt = true))
  def lattice_dot_i(l: Column, r: Column): Column =
    kernel(VecKernel, "latticeDotI", LongType, l, r)
  /** Hyperplane-LSH signature bits over row-major (nBits × dim) planes. */
  def hyperplane_sig(c: Column, planes: Array[Double], nBits: Int, dim: Int): Column =
    kernel(VecKernel, "lshSig", LongType, c, obj(planes), nBits, dim)
  /** IVF coarse quantizer: the max-dot cell id. */
  def nearest_centroid(c: Column, cents: Array[Double], nList: Int, dim: Int): Column =
    kernel(VecKernel, "nearestCentroid", IntegerType, c, obj(cents), nList, dim)
  /** IVF probe list: the nProbe max-dot cells, best first. */
  def top_cells(c: Column, cents: Array[Double], nList: Int, dim: Int, nProbe: Int): Column =
    kernel(VecKernel, "topCells", arr(IntegerType), c, obj(cents), nList, dim, nProbe)
  /** Exact lattice k-means assignment, packed `dist2*65536 + cluster`. */
  def lattice_nearest(c: Column, cents: Array[Long], k: Int, dim: Int): Column =
    kernel(VecKernel, "latticeNearest", LongType, c, obj(cents), k, dim)
  /** Two-level pruned [[lattice_nearest]], the large-k escape. */
  def lattice_nearest_pruned(c: Column, cents: Array[Long], k: Int, dim: Int,
                             superOf: Array[Int], superCents: Array[Long],
                             nSuper: Int, nProbe: Int): Column =
    kernel(VecKernel, "latticeNearestPruned", LongType, c, obj(cents), k, dim, obj(superOf),
      obj(superCents), nSuper, nProbe)
  /** Achlioptas ±1 projection of a lattice vector to outDim exact sums. */
  def random_project_signs(c: Column, outDim: Int): Column =
    kernel(VecKernel, "randomProjectSigns", arr(LongType), c, outDim)
  /** nSub contiguous subDim-length subvectors (Pq staging). */
  def subvectors(c: Column, nSub: Int, subDim: Int): Column =
    kernel(VecKernel, "subvectors", arr(arr(LongType)), c, nSub, subDim)
  def simhash64(c: Column): Column = kernel(VecKernel, "simhash64", LongType, c)

  /** Token-level Levenshtein distance (WER numerator), capped per side. */
  def edit_tokens(l: Column, r: Column, cap: Int = 512): Column =
    kernel(TextKernel, "editDist", LongType, l, r, cap)
  /** Token-LCS length (ROUGE-L core), capped per side. */
  def lcs_tokens(l: Column, r: Column, cap: Int = 512): Column =
    kernel(TextKernel, "lcsLen", LongType, l, r, cap)
  /** Per-order clipped char n-gram stats for n = 1..maxN (chrF core). */
  def clipped_grams(l: Column, r: Column, maxN: Int = 3): Column =
    kernel(TextKernel, "clippedGrams", arr(struct("m" -> LongType, "ct" -> LongType,
      "rt" -> LongType)), l, r, maxN)
  /** Luhn-validated payment-card-shaped digit runs per string. */
  def luhn_count(c: Column): Column = kernel(TextKernel, "luhnCount", LongType, c)
  /** Polynomial 31-bit rolling code-point hash. */
  def roll_hash31(c: Column): Column = kernel(TextKernel, "rollHash31", LongType, c)
  /** Multiset w-token window hashes, duplicates kept (soft dedup). */
  def gram_hash_multiset(c: Column, w: Int): Column =
    kernel(TextKernel, "gramHashMultiset", arr(LongType), c, w)
  /** Positional code-point checksum bucket (the q139 feature hash). */
  def ascii_weighted_mod(c: Column, m: Long): Column =
    kernel(TextKernel, "asciiWeightedMod", LongType, c, m)
  /** Per-(doc, n) gram-repetition stats for n = minN..maxN. */
  def gram_rep_stats(c: Column, minN: Int, maxN: Int): Column =
    kernel(TextKernel, "gramRepStats", arr(struct("n" -> IntegerType,
      "n_types" -> LongType, "n_grams" -> LongType, "top_m" -> LongType,
      "top_chars" -> LongType, "dup_chars" -> LongType)), c, minN, maxN)
  /** Per adjacent bigram, its xxhash64 join keys (h12, h1, h2). */
  def bigram_hash_keys(c: Column): Column = kernel(TextKernel, "bigramHashKeys",
    arr(struct("h12" -> LongType, "h1" -> LongType, "h2" -> LongType)), c)
  /** Per adjacent trigram, its xxhash64 join keys (h123, h12, h23, h2, h3). */
  def trigram_hash_keys(c: Column): Column = kernel(TextKernel, "trigramHashKeys",
    arr(struct("h123" -> LongType, "h12" -> LongType, "h23" -> LongType,
      "h2" -> LongType, "h3" -> LongType)), c)
  /** Space-split tokens, empties dropped. */
  def tokens(c: Column): Column = kernel(TextKernel, "tokens", arr(StringType), c)
  def bigram_structs(c: Column): Column = kernel(TextKernel, "bigramStructs", arr(pair), c)
  def trigram_structs(c: Column): Column = kernel(TextKernel, "trigramStructs",
    arr(struct("w1" -> StringType, "w2" -> StringType, "w3" -> StringType)), c)
  /** Ordered skip-gram pairs within `window`. */
  def skipgram_pairs(c: Column, window: Int): Column =
    kernel(TextKernel, "skipgramPairs", arr(pair), c, window)
  /** xxhash64 of a string and of its single-deletion variants. */
  def del1_sigs(c: Column): Column = kernel(TextKernel, "del1Sigs", arr(LongType), c)
  /** Winnowing fingerprints: tokenize → gram hash → window min → distinct. */
  def winnow_fps(c: Column, k: Int, w: Int): Column =
    kernel(TextKernel, "winnowFps", arr(LongType), c, k, w)
  /** Distinct w-gram strings over split(lower(trim(text)), "\\s+"). */
  def shingle_strings(c: Column, w: Int = 3): Column =
    kernel(TextKernel, "shingleStrings", arr(StringType), c, w)
  def long_pairs(c: Column): Column = col(IdPairs(ex(c), LongType))
  def string_pairs(c: Column): Column = col(IdPairs(ex(c), StringType))
  /** DSIR bigram hash buckets. */
  def dsir_buckets(c: Column, buckets: Long): Column =
    kernel(TextKernel, "dsirBuckets", arr(LongType), c, buckets)
  /** NFC + control-strip + whitespace-collapse + trim. */
  def normalize_text(c: Column): Column = kernel(TextKernel, "normalize", StringType, c)
  /** NFD → drop combining marks → NFC. */
  def strip_accents(c: Column): Column = kernel(TextKernel, "stripAccents", StringType, c)
  /** Emails / IPv4 literals / phone-shaped numbers → typed placeholders. */
  def redact_pii(c: Column): Column = kernel(TextKernel, "redactPii", StringType, c)
  /** Number of matches [[redact_pii]] would replace. */
  def pii_count(c: Column): Column = kernel(TextKernel, "piiCount", IntegerType, c)

  /** BPE train/encode steps: word → initial symbols, one merge, a batch of
    * symbol-disjoint merges (flattened [l0, r0, l1, r1, ...], rank order),
    * and the rank-priority encode loop over a merge table.
    */
  def bpe_init_symbols(c: Column): Column = kernel(BpeKernel, "initSymbols", arr(StringType), c)
  def bpe_merge_pair(c: Column, a: String, b: String): Column =
    kernel(BpeKernel, "mergePair", arr(StringType), c, a, b)
  def bpe_merge_batch(c: Column, flatPairs: Array[String]): Column =
    kernel(BpeKernel, "mergeBatch", arr(StringType), c, obj(flatPairs.map(UTF8String.fromString)))
  def bpe_encode(c: Column, merges: Array[String]): Column =
    kernel(BpeKernel, "encode", arr(StringType), c, obj(BpeKernel.buildRanks(merges)))
  /** Aho–Corasick occurrence counts of every pattern (overlaps included);
    * the automaton compiles once here and is shared by every row.
    */
  def multi_pattern_counts(c: Column, patterns: Seq[String]): Column =
    kernel(AcKernel, "counts", arr(LongType), c, obj(AhoCorasick.compile(patterns.toArray)))

  /** Drop-in for the builtin `percentile(c, f)` on DOUBLE columns —
    * bit-identical output (OpsSpec pin), primitive buffer instead of the
    * builtin's boxed-Double OpenHashMap. Same aggregate operator placement
    * (ObjectHashAggregate with partial aggregation).
    */
  def exact_percentile(c: Column, f: Double): Column =
    col(ExactPercentileDouble(ex(c), Seq(f), returnArray = false)
      .toAggregateExpression())
  def exact_percentiles(c: Column, fs: Seq[Double]): Column =
    col(ExactPercentileDouble(ex(c), fs, returnArray = true)
      .toAggregateExpression())
  /** Most frequent label, ties to the smallest — the fused LPA vote+argmax
    * (== count-then-max(struct(c, −label)); GraphSpec parity pin).
    */
  def majority_label(c: Column): Column =
    col(MajorityLabelLong(ex(c)).toAggregateExpression())
  def heavy_hitters(term: Column, m: Int): Column =
    col(HeavyHitters(ex(term), m).toAggregateExpression())
  def topk_by_score(score: Column, id: Column, k: Int): Column =
    col(TopKByScore(Cast(ex(score), DoubleType), Cast(ex(id), LongType), k)
      .toAggregateExpression())
  def gram_matrix(vec: Column, dim: Int): Column =
    col(GramMatrix(ex(vec), dim).toAggregateExpression())
}
