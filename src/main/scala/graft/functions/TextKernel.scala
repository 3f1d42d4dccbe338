package graft.functions

import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.unsafe.types.UTF8String

/** JVM text kernels, called through StaticInvoke from `gfn` (normalize_text,
  * tokens, shingle_strings, ...). Text normalization ([[normalize]]):
  *
  * Pipeline, in an order chosen so an engine-independent regex formulation
  * produces byte-identical output (the q51 oracle re-derives it in DuckDB):
  *   1. Unicode NFC normalization (java.text.Normalizer; DuckDB:
  *      nfc_normalize) — canonical composition, stable across Unicode
  *      versions for assigned codepoints;
  *   2. strip non-whitespace control chars [\x00-\x08\x0B\x0E-\x1F\x7F]
  *      (everything ISO-control except \t \n \f \r, which are whitespace);
  *   3. collapse runs of [\t\n\f\r ] to a single space (RE2's \s class —
  *      deliberately ASCII-only so both engines agree);
  *   4. trim leading/trailing spaces.
  *
  * One pass over the NFC string; no lowercasing (Unicode case folding is
  * locale- and engine-dependent — callers lower() explicitly if wanted).
  */
object TextKernel {

  def normalize(s: UTF8String): UTF8String = {
    val n = java.text.Normalizer.normalize(s.toString, java.text.Normalizer.Form.NFC)
    val sb = new java.lang.StringBuilder(n.length)
    var pendingSpace = false
    var started = false
    var i = 0
    while (i < n.length) {
      val c = n.charAt(i)
      val isWs = c == ' ' || c == '\t' || c == '\n' || c == '\f' || c == '\r'
      val isCtl = c <= 0x08 || c == 0x0B || (c >= 0x0E && c <= 0x1F) || c == 0x7F
      if (isWs) pendingSpace = started // leading whitespace never emits
      else if (!isCtl) {
        if (pendingSpace) { sb.append(' '); pendingSpace = false }
        sb.append(c)
        started = true
      }
      i += 1
    }
    UTF8String.fromString(sb.toString) // trailing pendingSpace never emitted
  }

  /** Accent/diacritic stripping: NFD-decompose, drop combining marks
    * (general category Mn), NFC-recompose. The Unicode-canonical route —
    * 'á' → 'a', 'ü' → 'u'; base letters without decompositions ('ø',
    * 'ß') pass through unchanged, matching utf8proc-based engines'
    * `strip_accents`.
    */
  def stripAccents(s: UTF8String): UTF8String = {
    val d = java.text.Normalizer.normalize(s.toString,
      java.text.Normalizer.Form.NFD)
    val sb = new java.lang.StringBuilder(d.length)
    var i = 0
    while (i < d.length) {
      val cp = d.codePointAt(i)
      if (java.lang.Character.getType(cp) !=
          java.lang.Character.NON_SPACING_MARK)
        sb.appendCodePoint(cp)
      i += java.lang.Character.charCount(cp)
    }
    UTF8String.fromString(java.text.Normalizer.normalize(sb.toString,
      java.text.Normalizer.Form.NFC))
  }

  // ---- PII redaction ----
  // Patterns are deliberately RE2-safe (no backrefs, no lookaround) so a
  // DuckDB regexp_replace oracle is byte-identical. Applied in a fixed
  // order (email → IPv4 → phone); placeholders contain no digits, so a
  // replacement can never manufacture a later match.
  private val EmailRe =
    java.util.regex.Pattern.compile("[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}")
  private val Ipv4Re =
    java.util.regex.Pattern.compile("\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b")
  private val PhoneRe =
    java.util.regex.Pattern.compile("\\b\\d{3}[-. ]\\d{3,4}[-. ]\\d{4}\\b")

  /** Replace emails, IPv4 literals, and phone-shaped numbers with typed
    * placeholders. Sequential passes; order documented above.
    */
  def redactPii(s: UTF8String): UTF8String = {
    var t = s.toString
    t = EmailRe.matcher(t).replaceAll("<EMAIL>")
    t = Ipv4Re.matcher(t).replaceAll("<IP>")
    t = PhoneRe.matcher(t).replaceAll("<PHONE>")
    UTF8String.fromString(t)
  }

  /** Number of PII matches `redactPii` would replace — counted on the same
    * sequentially-redacted intermediates so overlapping patterns (an IPv4
    * inside an email's domain) are attributed exactly once, matching the
    * redaction itself.
    */
  def piiCount(s: UTF8String): Int = {
    var t = s.toString
    var n = 0
    var m = EmailRe.matcher(t)
    while (m.find()) n += 1
    t = EmailRe.matcher(t).replaceAll("<EMAIL>")
    m = Ipv4Re.matcher(t)
    while (m.find()) n += 1
    t = Ipv4Re.matcher(t).replaceAll("<IP>")
    m = PhoneRe.matcher(t)
    while (m.find()) n += 1
    n
  }

  /** Token-sequence LCS length (the ROUGE-L core): classic two-row DP over
    * the first `cap` tokens of each side — O(min(n,cap)·min(m,cap)) time,
    * O(cap) space per row, one tight JVM loop callable from generated
    * code. The cap is the operator's scale contract: per-row cost is
    * bounded no matter how long a document is (standard ROUGE usage is
    * summary-length sides anyway). UTF8String equality is byte equality —
    * no copying, no decoding.
    */
  /** Token-level Levenshtein distance (insert/delete/substitute, unit
    * costs), both sides truncated at `cap` — the WER numerator. Two-row
    * DP: O(cap^2) time, O(cap) space, same bounded contract as lcsLen.
    */
  def editDist(a: ArrayData, b: ArrayData, cap: Int): Long = {
    val n = math.min(a.numElements(), cap)
    val m = math.min(b.numElements(), cap)
    if (n == 0) return m.toLong
    if (m == 0) return n.toLong
    val bt = new Array[UTF8String](m)
    var j = 0
    while (j < m) { bt(j) = b.getUTF8String(j); j += 1 }
    var prev = new Array[Int](m + 1)
    var cur = new Array[Int](m + 1)
    j = 0
    while (j <= m) { prev(j) = j; j += 1 }
    var i = 0
    while (i < n) {
      val ai = a.getUTF8String(i)
      cur(0) = i + 1
      j = 0
      while (j < m) {
        val sub = prev(j) + (if (ai.equals(bt(j))) 0 else 1)
        val del = prev(j + 1) + 1
        val ins = cur(j) + 1
        cur(j + 1) = math.min(sub, math.min(del, ins))
        j += 1
      }
      val t = prev; prev = cur; cur = t
      i += 1
    }
    prev(m).toLong
  }

  def lcsLen(a: ArrayData, b: ArrayData, cap: Int): Long = {
    val n = math.min(a.numElements(), cap)
    val m = math.min(b.numElements(), cap)
    if (n == 0 || m == 0) return 0L
    val bt = new Array[UTF8String](m)
    var j = 0
    while (j < m) { bt(j) = b.getUTF8String(j); j += 1 }
    var prev = new Array[Int](m + 1)
    var cur = new Array[Int](m + 1)
    var i = 0
    while (i < n) {
      val ai = a.getUTF8String(i)
      j = 0
      while (j < m) {
        cur(j + 1) =
          if (ai.equals(bt(j))) prev(j) + 1
          else math.max(prev(j + 1), cur(j))
        j += 1
      }
      val t = prev; prev = cur; cur = t
      i += 1
    }
    prev(m).toLong
  }

  /** Count maximal ASCII-digit runs of length 13..19 that pass the Luhn
    * checksum (ISO/IEC 7812) — the payment-card detector the PII regexes
    * can't express: a 16-digit run is only a live card number when its
    * check digit validates, and counting only validated runs cuts the
    * false-positive rate on ids/timestamps by 10×. One pass, O(|text|);
    * runs longer than 19 digits are NOT cards (and not sub-scanned — the
    * maximal-run contract the SQL oracle replays with a split on
    * non-digits).
    */
  def luhnCount(s: UTF8String): Long = {
    val str = s.toString
    var count = 0L
    var i = 0
    val n = str.length
    while (i < n) {
      val c = str.charAt(i)
      if (c >= '0' && c <= '9') {
        var j = i
        while (j < n && str.charAt(j) >= '0' && str.charAt(j) <= '9') j += 1
        val len = j - i
        if (len >= 13 && len <= 19) {
          var sum = 0
          var k = 0
          while (k < len) {
            val d = str.charAt(j - 1 - k) - '0' // k-th digit from the right
            sum += (if (k % 2 == 1) { val t = d * 2; if (t > 9) t - 9 else t }
                    else d)
            k += 1
          }
          if (sum % 10 == 0) count += 1L
        }
        i = j
      } else i += 1
    }
    count
  }

  /** Per-order clipped char n-gram statistics between two strings — the
    * chrF core (Popović 2015), computed ROW-LOCALLY: for n = 1..min(maxN,
    * max(|a|,|b|)) return struct(m, ct, rt) where ct/rt are the two sides'
    * gram counts and m = Σ_g min(count_a(g), count_b(g)) is the clipped
    * match. Orders beyond both lengths are absent (the caller's
    * either-side-has-grams contract); both-empty input returns an empty
    * array. Codepoint-based (Spark substr / DuckDB substr semantics) so
    * the SQL oracle replays value-exact. One HashMap of the ref side per
    * order — O(maxN·len) time, O(distinct grams) space; this kernel is
    * what lets chrF run with ZERO shuffle (both sides live on one row).
    */
  def clippedGrams(a: UTF8String, b: UTF8String, maxN: Int): ArrayData = {
    val cs = a.toString.codePoints().toArray
    val rs = b.toString.codePoints().toArray
    val lc = cs.length
    val lr = rs.length
    val nOrders = math.min(maxN, math.max(lc, lr))
    val rows = new Array[Any](nOrders)
    var n = 1
    while (n <= nOrders) {
      val ct = math.max(0, lc - n + 1)
      val rt = math.max(0, lr - n + 1)
      val counts = new java.util.HashMap[String, Integer](rt * 2 + 4)
      var j = 0
      while (j < rt) {
        val g = new String(rs, j, n)
        val c = counts.get(g)
        counts.put(g, if (c == null) 1 else c + 1)
        j += 1
      }
      var m = 0L
      var i2 = 0
      while (i2 < ct) {
        val g = new String(cs, i2, n)
        val c = counts.get(g)
        if (c != null && c > 0) { m += 1L; counts.put(g, c - 1) }
        i2 += 1
      }
      rows(n - 1) = org.apache.spark.sql.catalyst.InternalRow(m, ct.toLong, rt.toLong)
      n += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(rows)
  }

  /** All w-token window hashes of a text as a MULTISET (one hash per
    * window, document order) — the native form of
    *   transform(sequence(0, size(toks) - w),
    *             i -> xxhash64(concat_ws(' ', slice(toks, i + 1, w))))
    * over toks = filter(split(text, ' '), len > 0): split on single
    * 0x20 bytes only (runs collapse via the empty filter; other
    * whitespace stays inside tokens), NO lowercase fold, duplicates kept.
    * Hash values differ from xxhash64-of-the-gram-string (splitmix chain
    * over raw token bytes instead) — callers use them only as join/count
    * keys, where any injective-up-to-negligible-collision function is
    * equivalent and multiplicities are hash-invariant. Returns an empty
    * array when fewer than w tokens (the caller's `size(toks) >= w` gate).
    */
  def gramHashMultiset(text: UTF8String, w: Int): ArrayData = {
    val bytes = text.getBytes
    val nBytes = bytes.length
    var tokHash = new Array[Long](16)
    var nTok = 0
    var i = 0
    while (i < nBytes) {
      while (i < nBytes && bytes(i) == ' ') i += 1
      if (i < nBytes) {
        val start = i
        while (i < nBytes && bytes(i) != ' ') i += 1
        if (nTok == tokHash.length)
          tokHash = java.util.Arrays.copyOf(tokHash, nTok * 2)
        var h = 0x2545f4914f6cdd1dL
        var p = start
        while (p < i) { h = MinHashKernel.mix(h ^ (bytes(p) & 0xffL)); p += 1 }
        tokHash(nTok) = h
        nTok += 1
      }
    }
    val nWin = nTok - w + 1
    if (nWin < 1)
      return new org.apache.spark.sql.catalyst.util.GenericArrayData(
        Array.empty[Long])
    val out = new Array[Long](nWin)
    var j = 0
    while (j < nWin) {
      var h = 0L
      var d = 0
      while (d < w) { h = MinHashKernel.mix(h ^ tokHash(j + d)); d += 1 }
      out(j) = h
      j += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  // ---- xxhash64-compatible adjacent-gram join keys ----
  // Spark's xxhash64(c1, .., ck) folds left: h = 42; h = XXH64(bytes(ci), h).
  // These kernels emit, per adjacent token window, EXACTLY the longs the
  // LM scoring dags derived via explode(gramStructs) + k separate
  // xxhash64(...) string re-hashes — same keys bit-for-bit (OpsSpec pins
  // parity on the corpus), one pass, no gram strings materialized.
  // Tokenization matches arrToks: split on single 0x20, drop empties.

  private def tokenOffsets(bytes: Array[Byte]): (Array[Int], Array[Int], Int) = {
    var starts = new Array[Int](16)
    var lens = new Array[Int](16)
    var nTok = 0
    var i = 0
    val n = bytes.length
    while (i < n) {
      while (i < n && bytes(i) == ' ') i += 1
      if (i < n) {
        val s = i
        while (i < n && bytes(i) != ' ') i += 1
        if (nTok == starts.length) {
          starts = java.util.Arrays.copyOf(starts, nTok * 2)
          lens = java.util.Arrays.copyOf(lens, nTok * 2)
        }
        starts(nTok) = s; lens(nTok) = i - s; nTok += 1
      }
    }
    (starts, lens, nTok)
  }

  private val ByteArrayOffset =
    org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET

  private def xxh(bytes: Array[Byte], start: Int, len: Int, seed: Long): Long =
    org.apache.spark.sql.catalyst.expressions.XXH64
      .hashUnsafeBytes(bytes, ByteArrayOffset + start, len, seed)

  /** Per adjacent bigram: (h12, h1, h2) == (xxhash64(w1, w2),
    * xxhash64(w1), xxhash64(w2)). Empty array when < 2 tokens.
    */
  def bigramHashKeys(text: UTF8String): ArrayData = {
    val bytes = text.getBytes
    val (st, ln, nTok) = tokenOffsets(bytes)
    val nOut = nTok - 1
    if (nOut < 1)
      return new org.apache.spark.sql.catalyst.util.GenericArrayData(
        Array.empty[Any])
    val u = new Array[Long](nTok)
    var i = 0
    while (i < nTok) { u(i) = xxh(bytes, st(i), ln(i), 42L); i += 1 }
    val rows = new Array[Any](nOut)
    i = 0
    while (i < nOut) {
      val h12 = xxh(bytes, st(i + 1), ln(i + 1), u(i))
      rows(i) = org.apache.spark.sql.catalyst.InternalRow(h12, u(i), u(i + 1))
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(rows)
  }

  /** Per adjacent trigram: (h123, h12, h23, h2, h3) ==
    * (xxhash64(w1,w2,w3), xxhash64(w1,w2), xxhash64(w2,w3),
    * xxhash64(w2), xxhash64(w3)). Empty array when < 3 tokens.
    */
  def trigramHashKeys(text: UTF8String): ArrayData = {
    val bytes = text.getBytes
    val (st, ln, nTok) = tokenOffsets(bytes)
    val nOut = nTok - 2
    if (nOut < 1)
      return new org.apache.spark.sql.catalyst.util.GenericArrayData(
        Array.empty[Any])
    val u = new Array[Long](nTok)
    var i = 0
    while (i < nTok) { u(i) = xxh(bytes, st(i), ln(i), 42L); i += 1 }
    val p = new Array[Long](nTok - 1) // p(i) = xxhash64(w_i, w_{i+1})
    i = 0
    while (i < nTok - 1) { p(i) = xxh(bytes, st(i + 1), ln(i + 1), u(i)); i += 1 }
    val rows = new Array[Any](nOut)
    i = 0
    while (i < nOut) {
      val h123 = xxh(bytes, st(i + 2), ln(i + 2), p(i))
      rows(i) = org.apache.spark.sql.catalyst.InternalRow(
        h123, p(i), p(i + 1), u(i + 1), u(i + 2))
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(rows)
  }

  /** Space-split tokens with empties dropped — the native form of
    * `filter(split(text, " "), w -> length(w) > 0)` (TextOps.arrToks;
    * ArrayFilter is CodegenFallback, so the dag form runs interpreted
    * per element). Tokens WRAP the text's byte array (UTF8String.fromBytes
    * slices — no copy); 0x20 never occurs inside a UTF-8 multi-byte
    * sequence, so byte-splitting equals the regex split.
    */
  def tokens(text: UTF8String): ArrayData = {
    val bytes = text.getBytes
    val (st, ln, nTok) = tokenOffsets(bytes)
    val out = new Array[Any](nTok)
    var i = 0
    while (i < nTok) {
      out(i) = UTF8String.fromBytes(bytes, st(i), ln(i))
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  /** Adjacent-bigram structs (w1, w2) — the native form of
    * TextOps.bigramStructs(arrToks(text)) (transform + element_at lambdas
    * run interpreted); same tokens-wrap-the-bytes contract as [[tokens]].
    * Empty array when < 2 tokens.
    */
  def bigramStructs(text: UTF8String): ArrayData = {
    val bytes = text.getBytes
    val (st, ln, nTok) = tokenOffsets(bytes)
    val nOut = nTok - 1
    if (nOut < 1)
      return new org.apache.spark.sql.catalyst.util.GenericArrayData(
        Array.empty[Any])
    val t = new Array[UTF8String](nTok)
    var i = 0
    while (i < nTok) { t(i) = UTF8String.fromBytes(bytes, st(i), ln(i)); i += 1 }
    val rows = new Array[Any](nOut)
    i = 0
    while (i < nOut) {
      rows(i) = org.apache.spark.sql.catalyst.InternalRow(t(i), t(i + 1))
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(rows)
  }

  /** Adjacent-trigram structs (w1, w2, w3) — [[bigramStructs]] at order 3.
    * Empty array when < 3 tokens.
    */
  def trigramStructs(text: UTF8String): ArrayData = {
    val bytes = text.getBytes
    val (st, ln, nTok) = tokenOffsets(bytes)
    val nOut = nTok - 2
    if (nOut < 1)
      return new org.apache.spark.sql.catalyst.util.GenericArrayData(
        Array.empty[Any])
    val t = new Array[UTF8String](nTok)
    var i = 0
    while (i < nTok) { t(i) = UTF8String.fromBytes(bytes, st(i), ln(i)); i += 1 }
    val rows = new Array[Any](nOut)
    i = 0
    while (i < nOut) {
      rows(i) = org.apache.spark.sql.catalyst.InternalRow(t(i), t(i + 1), t(i + 2))
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(rows)
  }

  /** Ordered skip-gram pairs (w_i, w_j) for j in (i, i+window] — the native
    * form of TextOps.skipgramCounts' nested transform (whose doubly-nested
    * interpreted lambdas were the q137 task-CPU lottery). Pair order
    * matches flatten(transform(...)): all pairs for i before i+1, j
    * ascending within i.
    */
  def skipgramPairs(text: UTF8String, window: Int): ArrayData = {
    val bytes = text.getBytes
    val (st, ln, nTok) = tokenOffsets(bytes)
    if (nTok < 2)
      return new org.apache.spark.sql.catalyst.util.GenericArrayData(
        Array.empty[Any])
    val t = new Array[UTF8String](nTok)
    var i = 0
    while (i < nTok) { t(i) = UTF8String.fromBytes(bytes, st(i), ln(i)); i += 1 }
    var nOut = 0
    i = 0
    while (i < nTok - 1) { nOut += math.min(window, nTok - 1 - i); i += 1 }
    val rows = new Array[Any](nOut)
    var p = 0
    i = 0
    while (i < nTok - 1) {
      val jEnd = math.min(i + window, nTok - 1)
      var j = i + 1
      while (j <= jEnd) {
        rows(p) = org.apache.spark.sql.catalyst.InternalRow(t(i), t(j))
        p += 1; j += 1
      }
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(rows)
  }

  /** xxhash64 (seed 42) of the string itself plus each single-CODE-POINT
    * deletion variant — the native form of FuzzyJoin.editDistancePairs'
    * d=1 deletion neighborhood (explode(transform(sequence(1, length(v)),
    * p -> concat(substring(...), substring(...)))) + xxhash64, whose
    * interpreted per-position string rebuilds dominated the fuzzy-join
    * family's variant stage). Hash-set-identical to the dag (same bytes,
    * same seed; duplicates collapse in the caller's distinct()). Variants
    * are hashed from a scratch buffer — no UTF8String/String allocation.
    */
  def del1Sigs(text: UTF8String): ArrayData = {
    val bytes = text.getBytes
    val n = bytes.length
    // code-point starts (UTF-8 lead bytes)
    var nCp = 0
    var i = 0
    while (i < n) { if ((bytes(i) & 0xc0) != 0x80) nCp += 1; i += 1 }
    // r12: emit each sig ONCE (first occurrence) — repeated characters
    // produce identical deletion variants ("Customer#000000042": deleting
    // any of the six 0s is the same string), and duplicate (id, sig) rows
    // multiply candidate-join fan-out k_a·k_b per bucket. Deduping here
    // (one tiny open-addressed probe per sig) lets editDistancePairs drop
    // its corpus-sized distinct() exchange entirely; set-equality with
    // the deletion-transform dag is unchanged (FuzzyJoinSpec pin). A
    // 64-bit sig collision between distinct variants collapses here
    // exactly as the old distinct-on-sig collapsed it.
    val out = new Array[Long](1 + nCp)
    var nOut = 0
    var setCap = 4
    while (setCap < (nCp + 2) * 2) setCap <<= 1
    val setKeys = new Array[Long](setCap)
    val setUsed = new Array[Boolean](setCap)
    val mask = setCap - 1
    def addDistinct(h: Long): Unit = {
      var slot = (h & mask).toInt
      while (setUsed(slot) && setKeys(slot) != h) slot = (slot + 1) & mask
      if (!setUsed(slot)) {
        setUsed(slot) = true
        setKeys(slot) = h
        out(nOut) = h
        nOut += 1
      }
    }
    addDistinct(xxh(bytes, 0, n, 42L))
    if (nCp > 0) {
      val buf = new Array[Byte](n)
      i = 0
      while (i < n) {
        if ((bytes(i) & 0xc0) != 0x80) {
          var end = i + 1
          while (end < n && (bytes(end) & 0xc0) == 0x80) end += 1
          // variant = bytes[0, i) ++ bytes[end, n)
          System.arraycopy(bytes, 0, buf, 0, i)
          System.arraycopy(bytes, end, buf, i, n - end)
          addDistinct(xxh(buf, 0, n - (end - i), 42L))
          i = end
        } else i += 1
      }
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      java.util.Arrays.copyOf(out, nOut))
  }

  /** Polynomial 31-bit rolling hash over CODE POINTS:
    * a ← (a·31 + cp) mod (2^31 − 1), seed 0 — the native form of the
    * SQL-replayable dag
    *   aggregate(transform(split(s, ''), c -> ascii(c)), 0,
    *             (a, c) -> pmod(a*31 + c, 2147483647))
    * (same split('')/ascii() code-point semantics as [[asciiWeightedMod]];
    * a < 2^31 and cp ≤ 0x10FFFF keep a·31 + cp far under 2^63, and both
    * operands are non-negative so pmod ≡ %). Empty string hashes to 0,
    * matching the dag's fold seed.
    */
  def rollHash31(s0: UTF8String): Long = {
    val s = s0.toString
    val n = s.length
    var a = 0L
    var i = 0
    while (i < n) {
      val cp = s.codePointAt(i)
      a = (a * 31 + cp) % 2147483647L
      i += Character.charCount(cp)
    }
    a
  }

  /** Positional code-point checksum bucket: pmod(Σ_j cp_j · j, m) with j
    * 1-based over the string's CODE POINTS — the native form of the HOF dag
    *   pmod(aggregate(zip_with(split(w, ''), sequence(1, length(w)),
    *        (c, i) -> ascii(c)*i), 0, +), m)
    * (split('', non-empty w) yields one element per code point with no
    * trailing empty, ascii() the full code point, length() code points —
    * verified against Spark 4.1 on BMP, supplementary and accented input).
    * Returns -1 for the empty string: the composition's zip_with over the
    * descending sequence(1, 0) nulls out, so callers must have filtered
    * empties already (naiveBayes does); -1 never collides with a pmod
    * bucket, making an unfiltered misuse visible instead of silently
    * wrong. Sum fits a long: cp ≤ 0x10FFFF and j ≤ |w|.
    */
  def asciiWeightedMod(w: UTF8String, m: Long): Long = {
    val s = w.toString
    val n = s.length
    if (n == 0) return -1L
    var sum = 0L
    var i = 0
    var j = 1L
    while (i < n) {
      val cp = s.codePointAt(i)
      sum += cp * j
      j += 1
      i += Character.charCount(cp)
    }
    java.lang.Math.floorMod(sum, m)
  }

  /** Per-(doc, n) gram-repetition statistics for n = minN..maxN in ONE pass
    * over the text — the native form of TextOps.gramRepetition's staged
    * RLE-over-sorted-gram-array dag (which re-sorts G gram STRINGS per
    * (doc, n) and dominated the catalog's task CPU). Tokenization matches
    * arrToks exactly: split on single spaces (0x20), drop empties. Gram
    * identity is a 64-bit positional chain over token hashes (the
    * MinHashKernel.mix recipe) — the q44/q48 negligible-collision budget;
    * gram char length = Σ token code-point counts + (n−1), matching
    * length(concat_ws(' ', window)) since tokens contain no spaces.
    * Emits one struct per n with at least one window (nTok ≥ n):
    * (n, n_types, n_grams, top_m, top_glen, dup_chars) where (top_m,
    * top_glen) is the lexicographic max over runs — exactly
    * array_max(struct(m, glen)) — and dup_chars = Σ_{m≥2} m·glen.
    */
  def gramRepStats(text: UTF8String, minN: Int, maxN: Int): ArrayData = {
    val bytes = text.getBytes
    val nBytes = bytes.length
    // tokenize: offsets + per-token (hash, charLen)
    var tokHash = new Array[Long](16)
    var tokLen = new Array[Long](16)
    var nTok = 0
    var i = 0
    while (i < nBytes) {
      while (i < nBytes && bytes(i) == ' ') i += 1
      if (i < nBytes) {
        val start = i
        while (i < nBytes && bytes(i) != ' ') i += 1
        if (nTok == tokHash.length) {
          tokHash = java.util.Arrays.copyOf(tokHash, nTok * 2)
          tokLen = java.util.Arrays.copyOf(tokLen, nTok * 2)
        }
        var h = 0x2545f4914f6cdd1dL
        var chars = 0L
        var p = start
        while (p < i) {
          val b = bytes(p)
          h = MinHashKernel.mix(h ^ (b & 0xffL))
          // count UTF-8 lead bytes = code points
          if ((b & 0xc0) != 0x80) chars += 1
          p += 1
        }
        tokHash(nTok) = h
        tokLen(nTok) = chars
        nTok += 1
      }
    }
    val rows = new java.util.ArrayList[Any](maxN - minN + 1)
    // One OPEN-ADDRESSED primitive table, reused across n (r11): the boxed
    // java.util.HashMap<Long, long[]> here allocated a boxed key per
    // window probe plus a 2-long array per distinct gram — at catalog
    // scale that churn WAS q218's GC surface (6-9 s task-GC per bench
    // pass) and most of its 2x task-CPU spread. Occupancy is m > 0 (so a
    // gram hash of 0 needs no special slot); linear probing on the mixed
    // hash's low bits; aggregation is order-free (lexicographic max +
    // a sum), so bucket order cannot change the output — bit-identical
    // rows to the HashMap form.
    val maxWin = nTok - minN + 1
    if (maxWin >= 1) {
      var cap = 4
      while (cap < maxWin * 2) cap <<= 1
      val mask = cap - 1
      val keys = new Array[Long](cap)
      val ms = new Array[Long](cap)
      val gs = new Array[Long](cap)
      var n = minN
      while (n <= maxN) {
        val nWin = nTok - n + 1
        if (nWin >= 1) {
          java.util.Arrays.fill(ms, 0L)
          var nTypes = 0L
          var w = 0
          while (w < nWin) {
            var h = 0L
            var glen = (n - 1).toLong
            var d = 0
            while (d < n) {
              h = MinHashKernel.mix(h ^ tokHash(w + d))
              glen += tokLen(w + d)
              d += 1
            }
            var slot = (h & mask).toInt
            while (ms(slot) != 0L && keys(slot) != h) slot = (slot + 1) & mask
            if (ms(slot) == 0L) {
              keys(slot) = h; ms(slot) = 1L; gs(slot) = glen; nTypes += 1L
            } else ms(slot) += 1L
            w += 1
          }
          var topM = 0L
          var topGlen = 0L
          var dup = 0L
          var s = 0
          while (s < cap) {
            val m = ms(s)
            if (m != 0L) {
              val g = gs(s)
              if (m > topM || (m == topM && g > topGlen)) { topM = m; topGlen = g }
              if (m >= 2L) dup += m * g
            }
            s += 1
          }
          rows.add(org.apache.spark.sql.catalyst.InternalRow(
            n, nTypes, nWin.toLong, topM, topM * topGlen, dup))
        }
        n += 1
      }
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(rows.toArray)
  }

  /** WINNOWING FINGERPRINTS, fused (r12): distinct per-window minima of
    * rolling-31 gram hashes — the native form of
    *   transform(sequence(1, nG), i -> rollHash31(concat_ws(" ", slice(toks, i, k))))
    *   → array_distinct(transform(sequence(1, nW), j -> array_min(slice(hs, j, w))))
    * over gfn.tokens (space-split, empties dropped). Value-identical
    * (OpsSpec pin): nG = max(nTok − k + 1, 1) — a short/empty doc hashes
    * its whole (possibly empty) token list once, so the empty doc emits
    * the empty-string hash 0; nW = max(nG − w + 1, 1); the last window
    * truncates when nG < w; first-occurrence order. The HOF dag built
    * every gram STRING and evaluated three interpreted lambda layers per
    * doc; this is one code-point pass plus an O(nG·w) window scan with no
    * string materialization.
    */
  def winnowFps(text: UTF8String, k: Int, w: Int): ArrayData = {
    val bytes = text.getBytes
    val n = bytes.length
    // decode to code points once, recording token spans [tokSt, tokEnd)
    // in code-point indices (tokens split on the space BYTE, as
    // gfn.tokens does; space cannot occur inside a multi-byte sequence)
    val cps = new Array[Int](n)
    var tokSt = new Array[Int](16)
    var tokEnd = new Array[Int](16)
    var nCp = 0
    var nTok = 0
    var i = 0
    while (i < n) {
      while (i < n && bytes(i) == ' ') i += 1
      if (i < n) {
        if (nTok == tokSt.length) {
          tokSt = java.util.Arrays.copyOf(tokSt, nTok * 2)
          tokEnd = java.util.Arrays.copyOf(tokEnd, nTok * 2)
        }
        tokSt(nTok) = nCp
        while (i < n && bytes(i) != ' ') {
          val b0 = bytes(i) & 0xff
          var cp = 0
          var len = 1
          if (b0 < 0x80) cp = b0
          else if (b0 < 0xe0) { cp = b0 & 0x1f; len = 2 }
          else if (b0 < 0xf0) { cp = b0 & 0x0f; len = 3 }
          else { cp = b0 & 0x07; len = 4 }
          var j = 1
          while (j < len && i + j < n) {
            cp = (cp << 6) | (bytes(i + j) & 0x3f)
            j += 1
          }
          cps(nCp) = cp
          nCp += 1
          i += len
        }
        tokEnd(nTok) = nCp
        nTok += 1
      }
    }
    val M = 2147483647L
    // gram hashes: fold a = (a·31 + cp) mod M over the gram's code points
    // with a single separator cp (32) between tokens — exactly the fold
    // rollHash31 runs over the concat_ws(" ", ...) string
    val nG = math.max(nTok - k + 1, 1)
    val hs = new Array[Long](nG)
    var g = 0
    while (g < nG) {
      var a = 0L
      val lastTok = math.min(g + k, nTok) - 1
      var t = g
      while (t <= lastTok) {
        if (t > g) a = (a * 31 + 32) % M
        var c = tokSt(t)
        val e = tokEnd(t)
        while (c < e) {
          a = (a * 31 + cps(c)) % M
          c += 1
        }
        t += 1
      }
      hs(g) = a
      g += 1
    }
    // distinct window minima, first-occurrence order
    val nW = math.max(nG - w + 1, 1)
    val out = new Array[Long](nW)
    var nOut = 0
    var setCap = 4
    while (setCap < (nW + 2) * 2) setCap <<= 1
    val setKeys = new Array[Long](setCap)
    val setUsed = new Array[Boolean](setCap)
    val mask = setCap - 1
    var j = 0
    while (j < nW) {
      var m = hs(j)
      var x = j + 1
      val e = math.min(j + w, nG)
      while (x < e) {
        if (hs(x) < m) m = hs(x)
        x += 1
      }
      var slot = ((m * 0x9e3779b97f4a7c15L >>> 33) & mask).toInt
      while (setUsed(slot) && setKeys(slot) != m) slot = (slot + 1) & mask
      if (!setUsed(slot)) {
        setUsed(slot) = true
        setKeys(slot) = m
        out(nOut) = m
        nOut += 1
      }
      j += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      java.util.Arrays.copyOf(out, nOut))
  }

  /** DISTINCT w-GRAM STRINGS (r12): the native form of Dedup.shingles —
    *   array_distinct(transform(sequence(0, greatest(size(toks) − w, 0)),
    *     i -> concat_ws(" ", slice(toks, i + 1, w))))
    * over toks = split(lower(trim(text)), "\\s+"). Replicates Spark's
    * composition exactly (OpsSpec pin): trim strips 0x20 only; lower is
    * UTF8String.toLowerCase; regex-\s+ split (limit -1) emits a LEADING
    * empty token when the trimmed text starts with non-space whitespace
    * and a TRAILING one when it ends in it (\t\n\r\f\x0b survive the
    * trim), keeps interior empties never (maximal runs), and yields [""]
    * for empty input — so the empty doc emits the "" gram;
    * the final (or only) grams truncate at the token list's end;
    * first-occurrence order. Gram strings are built once into a shared
    * byte buffer (the dag rebuilt them through three interpreted lambda
    * layers per element).
    */
  def shingleStrings(text: UTF8String, w: Int): ArrayData = {
    val lowered = text.trim().toLowerCase()
    val bytes = lowered.getBytes
    val n = bytes.length
    // token spans in BYTES over the lowered text; java-regex \s =
    // [ \t\n\x0B\f\r], all single-byte
    @inline def isWs(b: Byte): Boolean =
      b == ' ' || b == '\t' || b == '\n' || b == 0x0b || b == '\f' || b == '\r'
    var tokSt = new Array[Int](16)
    var tokEnd = new Array[Int](16)
    var nTok = 0
    @inline def push(st: Int, en: Int): Unit = {
      if (nTok == tokSt.length) {
        tokSt = java.util.Arrays.copyOf(tokSt, nTok * 2)
        tokEnd = java.util.Arrays.copyOf(tokEnd, nTok * 2)
      }
      tokSt(nTok) = st
      tokEnd(nTok) = en
      nTok += 1
    }
    if (n == 0) push(0, 0) // split("") == [""]
    else {
      var i = 0
      if (isWs(bytes(0))) push(0, 0) // leading separator -> leading ""
      while (i < n) {
        while (i < n && isWs(bytes(i))) i += 1
        if (i < n) {
          val st = i
          while (i < n && !isWs(bytes(i))) i += 1
          push(st, i)
        }
      }
      if (isWs(bytes(n - 1))) push(n, n) // trailing separator -> trailing ""
    }
    val nGrams = math.max(nTok - w, 0) + 1
    val out = new java.util.ArrayList[Any](nGrams)
    val seen = new java.util.HashSet[UTF8String]()
    val buf = new Array[Byte](n + w) // gram bytes + separators upper bound
    var g = 0
    while (g < nGrams) {
      var len = 0
      val lastTok = math.min(g + w, nTok) - 1
      var t = g
      while (t <= lastTok) {
        if (t > g) { buf(len) = ' '; len += 1 }
        val tl = tokEnd(t) - tokSt(t)
        System.arraycopy(bytes, tokSt(t), buf, len, tl)
        len += tl
        t += 1
      }
      val gram = UTF8String.fromBytes(java.util.Arrays.copyOf(buf, len))
      if (seen.add(gram)) out.add(gram)
      g += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out.toArray)
  }

  /** All ascending-index pairs of a bucket's id array (r12): the native
    * form of the posting-list pair expansion
    *   flatten(transform(ids, (a, i) -> transform(slice(ids, i+2, size),
    *     b -> struct(a AS a_id, b AS b_id))))
    * — same pair ORDER (outer index ascending, inner ascending), long
    * elements. The nested lambdas evaluated interpreted per PAIR, i.e.
    * O(bucket²) interpreted calls per bucket (q44/q149/q25 family).
    */
  def longPairs(ids: ArrayData): ArrayData = {
    val n = ids.numElements()
    if (n < 2)
      return new org.apache.spark.sql.catalyst.util.GenericArrayData(
        Array.empty[Any])
    val v = new Array[Long](n)
    var i = 0
    while (i < n) { v(i) = ids.getLong(i); i += 1 }
    val out = new Array[Any](n * (n - 1) / 2)
    var o = 0
    i = 0
    while (i < n) {
      var j = i + 1
      while (j < n) {
        out(o) = org.apache.spark.sql.catalyst.InternalRow(v(i), v(j))
        o += 1
        j += 1
      }
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  /** All ascending-index (a, b) pairs of a sorted string array (r12): the
    * string-element mirror of [[longPairs]] — replaces the nested
    * transform pair expansion in Dedup.sourceOverlap, which evaluated
    * interpreted per PAIR per gram bucket. Pair SET equals the dag's
    * (downstream aggregates, so pair order is immaterial); empty/singleton
    * arrays yield an empty result (the dag's explicit empty branch).
    */
  def stringPairs(ids: ArrayData): ArrayData = {
    val n = ids.numElements()
    if (n < 2)
      return new org.apache.spark.sql.catalyst.util.GenericArrayData(
        Array.empty[Any])
    val v = new Array[UTF8String](n)
    var i = 0
    while (i < n) { v(i) = ids.getUTF8String(i); i += 1 }
    val out = new Array[Any](n * (n - 1) / 2)
    var o = 0
    i = 0
    while (i < n) {
      var j = i + 1
      while (j < n) {
        out(o) = org.apache.spark.sql.catalyst.InternalRow(v(i), v(j))
        o += 1
        j += 1
      }
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  /** DSIR bigram hash buckets, fused (r12): per adjacent token pair,
    *   pmod(pmod(roll(w1)·131 + roll(w2), 2^31−1), buckets)
    * with roll = [[rollHash31]] — the native form of dsirImportance's
    *   transform(tokens, w -> rollHash(w))  →  zip_with(slice, slice,
    *     (a, b) -> pmod(a·131 + b, 2^31−1))  →  pmod(hh, buckets)
    * whose transform/zip_with WRAPPERS evaluated interpreted per token /
    * per bigram even with the native hash inside (OpsSpec pin). Tokens are
    * the space-byte split of gfn.tokens; empty docs yield an empty array.
    */
  def dsirBuckets(text: UTF8String, buckets: Long): ArrayData = {
    val bytes = text.getBytes
    val n = bytes.length
    val M = 2147483647L
    // rolling hash per token, single pass (code-point decode inline)
    var tokHash = new Array[Long](16)
    var nTok = 0
    var i = 0
    while (i < n) {
      while (i < n && bytes(i) == ' ') i += 1
      if (i < n) {
        var a = 0L
        while (i < n && bytes(i) != ' ') {
          val b0 = bytes(i) & 0xff
          var cp = 0
          var len = 1
          if (b0 < 0x80) cp = b0
          else if (b0 < 0xe0) { cp = b0 & 0x1f; len = 2 }
          else if (b0 < 0xf0) { cp = b0 & 0x0f; len = 3 }
          else { cp = b0 & 0x07; len = 4 }
          var j = 1
          while (j < len && i + j < n) {
            cp = (cp << 6) | (bytes(i + j) & 0x3f)
            j += 1
          }
          a = (a * 31 + cp) % M
          i += len
        }
        if (nTok == tokHash.length)
          tokHash = java.util.Arrays.copyOf(tokHash, nTok * 2)
        tokHash(nTok) = a
        nTok += 1
      }
    }
    val nOut = math.max(nTok - 1, 0)
    val out = new Array[Long](nOut)
    i = 0
    while (i < nOut) {
      out(i) = ((tokHash(i) * 131 + tokHash(i + 1)) % M) % buckets
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }
}
