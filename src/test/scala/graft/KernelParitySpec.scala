package graft

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.execution.WholeStageCodegenExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession.withConf

import graft.functions.{GzipUtil, gfn}

/** Every `gfn` kernel over edge rows (null, "", whitespace-only, trailing
  * \t/\n/\r, non-ASCII, empty and short arrays): whole-stage codegen and
  * the interpreted path (no whole-stage, NO_CODEGEN projections — the path
  * HOF lambdas take) must agree row for row. Each function's result type,
  * and its nullability over non-null inputs, is pinned.
  */
class KernelParitySpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private val texts: IndexedSeq[String] = IndexedSeq(
    null, "", "   ", " \t ", "a b\t", "x\n", "y z\r", "\t", "a", "a b",
    "The quick brown fox jumps over the lazy dog the quick brown fox",
    "Héllo wörld naïve Σ ñ Héllo",
    "a" + new String(Character.toChars(0x1F4A9)) + " b c d e",
    "  UPPER Case  MiXeD case case  ",
    "mail bob@example.com from 10.0.0.1 call 555-123-4567",
    "card 4111 1111 1111 1111 ok",
    "2026-08-12 09:15:30", "2026-08-12T09:15:30Z",
    "Wed, 12 Aug 2026 09:15:30 +0900", "1755000000",
    "é café \u0007bell\u0000nul")

  private val schema = new StructType()
    .add("id", IntegerType, nullable = false)
    .add("s", StringType).add("s2", StringType).add("bin", BinaryType)
    .add("fv", ArrayType(FloatType, containsNull = false))
    .add("fv2", ArrayType(FloatType, containsNull = false))
    .add("lv", ArrayType(LongType, containsNull = false))
    .add("iv", ArrayType(IntegerType, containsNull = false))
    .add("iv2", ArrayType(IntegerType, containsNull = false))
    .add("toks", ArrayType(StringType, containsNull = false))
    .add("toks2", ArrayType(StringType, containsNull = false))
    .add("syms", ArrayType(StringType, containsNull = false))
    .add("dl", ArrayType(LongType, containsNull = false))

  /** Row 0 is all-null; array columns cycle through lengths 0..4 so empty
    * and short vectors meet every kernel; `dl` (the dim-bound kernels'
    * input) is always full length.
    */
  private def row(i: Int): Row = {
    if (i == 0) return Row.fromSeq(0 +: Seq.fill(schema.length - 1)(null))
    val s = texts(i)
    val s2 = texts((i + 3) % texts.length)
    def toks(t: String) = if (t == null) null else t.split("\\s+").filter(_.nonEmpty).toSeq
    val bin: Array[Byte] = i match {
      case 1 => Array.emptyByteArray
      case 2 => GzipUtil.gzip("hello gzip".getBytes("UTF-8"))
      case 3 => Array[Byte](0x1f, 0x8b.toByte, 1, 2, 3)
      case 4 => GzipUtil.gzip(Array.emptyByteArray)
      case 5 => Array[Byte](0x1f)
      case _ => s.getBytes("UTF-8")
    }
    def fv(salt: Int) = Seq.tabulate(i % 4)(j => ((i * 7 + j * 3 + salt) % 11 - 5) * 0.37f)
    def iv(salt: Int) = Seq.tabulate(i % 4)(j => (i * 13 + j * 5 + salt) % 9 - 4)
    Row(i, s, s2, bin, fv(0), fv(1),
      Seq.tabulate(i % 5)(j => ((i * 31 + j * 17) % 97 - 40).toLong),
      iv(0), iv(2), toks(s), toks(s2),
      s.codePoints().toArray.take(8).map(cp => new String(Character.toChars(cp))).toSeq,
      Seq.tabulate(4)(j => ((i * 11 + j * 7) % 23 - 11).toLong))
  }

  private def input(nullable: Boolean): DataFrame = {
    val rows = if (nullable) texts.indices.map(row) else texts.indices.drop(1).map(row)
    val sch = if (nullable) schema
      else StructType(schema.map(_.copy(nullable = false)))
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), sch)
  }

  private def arr(t: DataType): DataType = ArrayType(t, containsNull = false)
  private def st(fields: (String, DataType)*): DataType =
    StructType(fields.map { case (n, t) => StructField(n, t, nullable = false) })

  private val cents = Array.tabulate(12)(i => ((i * 5) % 7 - 3) / 3.0)
  private val centsL = Array.tabulate(12)(i => ((i * 5) % 7 - 3).toLong * 4)
  private val bpeMerges = Array("h", "e", "l", "l", "he", "ll", "a", "b")

  /** (label, kernel column, result type, nullable over non-null inputs) */
  private val kernels: Seq[(String, Column, DataType, Boolean)] = {
    val (s, s2, bin) = (col("s"), col("s2"), col("bin"))
    val (fv, fv2, lv) = (col("fv"), col("fv2"), col("lv"))
    val (iv, iv2, dl) = (col("iv"), col("iv2"), col("dl"))
    val (toks, toks2, syms) = (col("toks"), col("toks2"), col("syms"))
    val l2 = st("w1" -> StringType, "w2" -> StringType)
    Seq(
      ("try_gunzip", gfn.try_gunzip(bin), BinaryType, true),
      ("deflate_len", gfn.deflate_len(s), LongType, false),
      ("lenient_ts", gfn.lenient_ts(s), TimestampType, true),
      ("lenient_ts/zone", gfn.lenient_ts(s, "Asia/Tokyo"), TimestampType, true),
      ("shingle_hashes", gfn.shingle_hashes(s), arr(LongType), false),
      ("shingle_hashes/1", gfn.shingle_hashes(s, 1), arr(LongType), false),
      ("shingle_hashes64", gfn.shingle_hashes64(s, 2), arr(LongType), false),
      ("minhash_sig", gfn.minhash_sig(lv, Array(3L, 5L, 7L), Array(11L, 13L, 17L)),
        arr(LongType), false),
      ("vec_cosine", gfn.vec_cosine(fv, fv2), DoubleType, false),
      ("quantized_dot", gfn.quantized_dot(fv, fv2), LongType, false),
      ("edit_tokens", gfn.edit_tokens(toks, toks2), LongType, false),
      ("edit_tokens/cap", gfn.edit_tokens(toks, toks2, 2), LongType, false),
      ("lcs_tokens", gfn.lcs_tokens(toks, toks2), LongType, false),
      ("lcs_tokens/cap", gfn.lcs_tokens(toks, toks2, 2), LongType, false),
      ("clipped_grams", gfn.clipped_grams(s, s2),
        arr(st("m" -> LongType, "ct" -> LongType, "rt" -> LongType)), false),
      ("clipped_grams/2", gfn.clipped_grams(s, s2, 2),
        arr(st("m" -> LongType, "ct" -> LongType, "rt" -> LongType)), false),
      ("luhn_count", gfn.luhn_count(s), LongType, false),
      ("roll_hash31", gfn.roll_hash31(s), LongType, false),
      ("gram_hash_multiset", gfn.gram_hash_multiset(s, 2), arr(LongType), false),
      ("ascii_weighted_mod", gfn.ascii_weighted_mod(s, 1000003L), LongType, false),
      ("gram_rep_stats", gfn.gram_rep_stats(s, 1, 3),
        arr(st("n" -> IntegerType, "n_types" -> LongType, "n_grams" -> LongType,
          "top_m" -> LongType, "top_chars" -> LongType, "dup_chars" -> LongType)), false),
      ("bigram_hash_keys", gfn.bigram_hash_keys(s),
        arr(st("h12" -> LongType, "h1" -> LongType, "h2" -> LongType)), false),
      ("trigram_hash_keys", gfn.trigram_hash_keys(s),
        arr(st("h123" -> LongType, "h12" -> LongType, "h23" -> LongType,
          "h2" -> LongType, "h3" -> LongType)), false),
      ("tokens", gfn.tokens(s), arr(StringType), false),
      ("bigram_structs", gfn.bigram_structs(s), arr(l2), false),
      ("trigram_structs", gfn.trigram_structs(s),
        arr(st("w1" -> StringType, "w2" -> StringType, "w3" -> StringType)), false),
      ("skipgram_pairs", gfn.skipgram_pairs(s, 2), arr(l2), false),
      ("del1_sigs", gfn.del1_sigs(s), arr(LongType), false),
      ("winnow_fps", gfn.winnow_fps(s, 2, 3), arr(LongType), false),
      ("shingle_strings", gfn.shingle_strings(s), arr(StringType), false),
      ("shingle_strings/1", gfn.shingle_strings(s, 1), arr(StringType), false),
      ("random_project_signs", gfn.random_project_signs(lv, 3), arr(LongType), false),
      ("subvectors", gfn.subvectors(dl, 2, 2), arr(arr(LongType)), false),
      ("long_pairs", gfn.long_pairs(lv),
        arr(st("a_id" -> LongType, "b_id" -> LongType)), false),
      ("string_pairs", gfn.string_pairs(toks),
        arr(st("a" -> StringType, "b" -> StringType)), false),
      ("dsir_buckets", gfn.dsir_buckets(s, 64L), arr(LongType), false),
      ("quantize_lattice/float", gfn.quantize_lattice(fv, 1000L, 3L), arr(LongType), false),
      ("quantize_lattice/long", gfn.quantize_lattice(lv, 10L, 0L), arr(LongType), false),
      ("quantize_lattice/int", gfn.quantize_lattice(iv, 7L, -1L), arr(LongType), false),
      ("quantize_lattice_i", gfn.quantize_lattice_i(fv, 1000L, 0L), arr(IntegerType), false),
      ("lattice_dot_i", gfn.lattice_dot_i(iv, iv2), LongType, false),
      ("ngram_jaccard", gfn.ngram_jaccard(s, s2), DoubleType, false),
      ("ngram_jaccard/1", gfn.ngram_jaccard(s, s2, 1), DoubleType, false),
      ("hyperplane_sig", gfn.hyperplane_sig(fv, cents, 3, 4), LongType, false),
      ("simhash64", gfn.simhash64(s), LongType, false),
      ("normalize_text", gfn.normalize_text(s), StringType, false),
      ("strip_accents", gfn.strip_accents(s), StringType, false),
      ("redact_pii", gfn.redact_pii(s), StringType, false),
      ("pii_count", gfn.pii_count(s), IntegerType, false),
      ("bpe_init_symbols", gfn.bpe_init_symbols(s), arr(StringType), false),
      ("bpe_merge_batch", gfn.bpe_merge_batch(syms, Array("a", "b", "c", "d")),
        arr(StringType), false),
      ("bpe_merge_pair", gfn.bpe_merge_pair(syms, "a", "b"), arr(StringType), false),
      ("bpe_encode", gfn.bpe_encode(s, bpeMerges), arr(StringType), false),
      ("bpe_encode/transform", transform(toks, t => gfn.bpe_encode(t, bpeMerges)),
        arr(arr(StringType)), false),
      ("multi_pattern_counts", gfn.multi_pattern_counts(s, Seq("the", "a", "wörld", "o")),
        arr(LongType), false),
      ("nearest_centroid", gfn.nearest_centroid(fv, cents, 3, 4), IntegerType, false),
      ("top_cells", gfn.top_cells(fv, cents, 3, 4, 2), arr(IntegerType), false),
      ("lattice_nearest", gfn.lattice_nearest(dl, centsL, 3, 4), LongType, false),
      ("lattice_nearest_pruned",
        gfn.lattice_nearest_pruned(dl, centsL, 3, 4, Array(0, 1, 0),
          Array.tabulate(8)(i => (i % 3 - 1).toLong * 4), 2, 1), LongType, false))
  }

  /** No whole-stage codegen, interpreted projections. */
  private val interpreted = Seq("spark.sql.codegen.wholeStage" -> "false",
    "spark.sql.codegen.factoryMode" -> "NO_CODEGEN")

  /** id-ordered results, plus whether a whole-stage codegen node ran. */
  private def run(k: Column): (Seq[Row], Boolean) = {
    val df = input(nullable = true).select(col("id"), k.as("r"))
    val rows = df.collect().sortBy(_.getInt(0)).toSeq
    val wsc = df.queryExecution.executedPlan.exists(_.isInstanceOf[WholeStageCodegenExec])
    (rows, wsc)
  }

  for ((label, k, dataType, nullableOnNonNull) <- kernels) {
    test(s"$label: whole-stage codegen == interpreted on edge rows; type pinned") {
      val (compiled, wsc) = run(k)
      val (evaluated, wscOff) = withConf(interpreted: _*)(run(k))
      assert(wsc && !wscOff)
      assert(compiled.size == texts.size)
      assert(compiled.head.isNullAt(1), s"$label: all-null row gave ${compiled.head}")
      compiled.zip(evaluated).foreach { case (c, i) =>
        assert(c == i, s"$label diverged on row ${c.getInt(0)}: codegen $c vs interpreted $i")
      }
      val field = input(nullable = false).select(k.as("r")).schema.head
      assert(field.dataType == dataType, label)
      assert(field.nullable == nullableOnNonNull, s"$label nullable")
    }
  }

  test("long_pairs, string_pairs and quantize_lattice reject a wrong input type at analysis") {
    val df = input(nullable = true)
    for (bad <- Seq(gfn.long_pairs(col("toks")), gfn.long_pairs(col("iv")),
        gfn.string_pairs(col("lv")), gfn.quantize_lattice(col("toks"), 10L, 0L),
        gfn.quantize_lattice_i(col("s"), 10L, 0L))) {
      val e = intercept[org.apache.spark.sql.AnalysisException](df.select(bad))
      assert(e.getMessage.contains("takes"), e.getMessage)
    }
  }

  test("subvectors refuses a ragged vector instead of reading past its end") {
    val short = org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
      .fromPrimitiveArray(Array(1L, 2L, 3L))
    val e = intercept[IllegalArgumentException](graft.functions.VecKernel.subvectors(short, 2, 2))
    assert(e.getMessage == "subvectors: vector has 3 elements, expected at least 4")
    // lv cycles through lengths 0..4: both paths stop on the first short row
    for (conf <- Seq(Nil, interpreted)) {
      val err = intercept[Exception](withConf(conf: _*)(
        input(nullable = true).select(gfn.subvectors(col("lv"), 2, 2)).collect()))
      assert(err.getMessage.matches(
        "(?s).*subvectors: vector has [0-3] elements, expected at least 4.*"), err.getMessage)
    }
  }

  test("lattice_nearest and lattice_nearest_pruned refuse a short vector") {
    val short = org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
      .fromPrimitiveArray(Array(1L))
    val (superOf, superCents) = (Array(0, 1, 0), Array.tabulate(8)(i => (i % 3 - 1).toLong * 4))
    val e1 = intercept[IllegalArgumentException](
      graft.functions.VecKernel.latticeNearest(short, centsL, 3, 4))
    assert(e1.getMessage == "lattice_nearest: vector has 1 elements, expected at least 4")
    val e2 = intercept[IllegalArgumentException](graft.functions.VecKernel
      .latticeNearestPruned(short, centsL, 3, 4, superOf, superCents, 2, 1))
    assert(e2.getMessage == "lattice_nearest_pruned: vector has 1 elements, expected at least 4")
    // lv cycles through lengths 0..4: both paths stop on the first short row
    for (conf <- Seq(Nil, interpreted); (name, k) <- Seq(
        "lattice_nearest" -> gfn.lattice_nearest(col("lv"), centsL, 3, 4),
        "lattice_nearest_pruned" ->
          gfn.lattice_nearest_pruned(col("lv"), centsL, 3, 4, superOf, superCents, 2, 1))) {
      val err = intercept[Exception](withConf(conf: _*)(input(nullable = true).select(k).collect()))
      assert(err.getMessage.matches(
        s"(?s).*$name: vector has [0-3] elements, expected at least 4.*"), err.getMessage)
    }
  }

  test("whole-stage code calls the kernel methods directly") {
    val df = input(nullable = true).select(
      gfn.try_gunzip(col("bin")), gfn.lenient_ts(col("s")), gfn.shingle_hashes(col("s")))
    val code = org.apache.spark.sql.execution.debug.codegenString(df.queryExecution.executedPlan)
    for (call <- Seq("graft.functions.GzipUtil.maybeGunzip(",
        "graft.functions.LenientTs.parseMicros(", "graft.functions.MinHashKernel.shingleHashes("))
      assert(code.contains(call), s"$call not in the generated code")
  }
}
