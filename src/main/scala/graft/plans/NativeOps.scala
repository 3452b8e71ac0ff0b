package graft.plans

import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.unsafe.types.UTF8String

/** Static kernels shared by the native expressions' interpreted eval AND
  * their generated code — `doGenCode` emits a single static call, so the
  * surrounding operators stay inside one whole-stage-codegen span while
  * the kernel remains an ordinary JVM loop.
  */
object NativeOps {

  def dot(a: ArrayData, b: ArrayData, lf: Boolean, rf: Boolean): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var acc = 0.0
    var i = 0
    while (i < n) {
      acc += (if (lf) a.getFloat(i).toDouble else a.getDouble(i)) *
        (if (rf) b.getFloat(i).toDouble else b.getDouble(i))
      i += 1
    }
    acc
  }

  def cosine(a: ArrayData, b: ArrayData, lf: Boolean, rf: Boolean): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      val x = if (lf) a.getFloat(i).toDouble else a.getDouble(i)
      val y = if (rf) b.getFloat(i).toDouble else b.getDouble(i)
      dot += x * y; na += x * x; nb += y * y
      i += 1
    }
    val denom = math.sqrt(na) * math.sqrt(nb)
    if (denom == 0.0) 0.0 else dot / denom
  }

  def l2(a: ArrayData, b: ArrayData, lf: Boolean, rf: Boolean): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var acc = 0.0
    var i = 0
    while (i < n) {
      val d = (if (lf) a.getFloat(i).toDouble else a.getDouble(i)) -
        (if (rf) b.getFloat(i).toDouble else b.getDouble(i))
      acc += d * d
      i += 1
    }
    math.sqrt(acc)
  }

  def minhash(arr: ArrayData, k: Int): GenericArrayData = {
    val mins = Array.fill(k)(Long.MaxValue)
    var i = 0
    val n = arr.numElements()
    while (i < n) {
      if (!arr.isNullAt(i)) {
        val s = arr.getUTF8String(i)
        var j = 0
        while (j < k) {
          val h = XXH64.hashUnsafeBytes(s.getBaseObject, s.getBaseOffset, s.numBytes, j.toLong)
          if (h < mins(j)) mins(j) = h
          j += 1
        }
      }
      i += 1
    }
    new GenericArrayData(mins)
  }

  def simhash(arr: ArrayData): Long = {
    val votes = new Array[Int](64)
    var i = 0
    val n = arr.numElements()
    while (i < n) {
      if (!arr.isNullAt(i)) {
        val s = arr.getUTF8String(i)
        val h = XXH64.hashUnsafeBytes(s.getBaseObject, s.getBaseOffset, s.numBytes, 0L)
        var b = 0
        while (b < 64) {
          if (((h >>> b) & 1L) == 1L) votes(b) += 1 else votes(b) -= 1
          b += 1
        }
      }
      i += 1
    }
    var out = 0L
    var b = 0
    while (b < 64) { if (votes(b) >= 0) out |= (1L << b); b += 1 }
    out
  }

  private val md5Local = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  /** 60-bit token hash = the first 15 hex chars of MD5, i.e. the high 60
    * bits of the first 8 digest bytes. MD5 (not XXH64) so the hash — and
    * therefore the whole SimHash — is reproducible in any engine with an
    * md5() function: the DuckDB oracle computes the identical value via
    * `('0x' || substr(md5(t), 1, 15))::BIGINT`.
    */
  def md5Hash60(s: UTF8String): Long = {
    val md = md5Local.get()
    md.reset()
    val d = md.digest(s.getBytes)
    var h = 0L
    var k = 0
    while (k < 8) { h = (h << 8) | (d(k) & 0xffL); k += 1 }
    h >>> 4
  }

  /** All 60-bit words of a token's MD5 digest: word w = hex chars
    * [15w+1, 15w+15] of the digest (1-indexed), i.e. nibbles [15w, 15w+15).
    * DuckDB computes the identical value via
    * `('0x' || substr(md5(t), 1 + 15*w, 15))::BIGINT`. The 32-hex-char
    * digest yields two full words (w = 0, 1) — 120 reproducible bits.
    */
  def md5Words(s: UTF8String, words: Int): Array[Long] = {
    val md = md5Local.get()
    md.reset()
    val d = md.digest(s.getBytes)
    // hi = bytes 0-7 (nibbles 0-15), lo = bytes 8-15 (nibbles 16-31)
    var hi = 0L; var lo = 0L
    var k = 0
    while (k < 8) { hi = (hi << 8) | (d(k) & 0xffL); k += 1 }
    while (k < 16) { lo = (lo << 8) | (d(k) & 0xffL); k += 1 }
    val out = new Array[Long](words)
    out(0) = hi >>> 4 // nibbles 0-14
    if (words > 1) out(1) = ((hi & 0xfL) << 56) | (lo >>> 8) // nibbles 15-29
    out
  }

  /** L2-normalize to array<double> in one pass: sequential left-to-right
    * squared-sum (the same accumulation order as the SQL
    * aggregate+transform composition it replaces), then per-element
    * division. Zero-norm vectors yield the same NaN/Inf doubles the SQL
    * division produced.
    */
  def l2normalize(a: ArrayData, isFloat: Boolean): GenericArrayData = {
    val n = a.numElements()
    var ss = 0.0
    var i = 0
    while (i < n) {
      val x = if (isFloat) a.getFloat(i).toDouble else a.getDouble(i)
      ss += x * x
      i += 1
    }
    val norm = math.sqrt(ss)
    val out = new Array[Any](n)
    i = 0
    while (i < n) {
      val x = if (isFloat) a.getFloat(i).toDouble else a.getDouble(i)
      out(i) = java.lang.Double.valueOf(x / norm)
      i += 1
    }
    new GenericArrayData(out)
  }

  /** Element-wise [[md5Hash60]] over an array of strings — one digest per
    * element, no intermediate hex strings (the SQL-built-ins route
    * allocates the 32-char hex form plus a substring copy per element).
    */
  def md5Hash60Array(arr: ArrayData): GenericArrayData = {
    val n = arr.numElements()
    val out = new Array[Long](n)
    var i = 0
    while (i < n) {
      out(i) = md5Hash60(arr.getUTF8String(i))
      i += 1
    }
    new GenericArrayData(out)
  }

  /** SimHash over `bits` (≤ 60) MD5-derived token-hash bits: per-token ±1
    * votes per bit position, vote ≥ 0 ⇒ output bit set. Frequency-weighted
    * (duplicate tokens vote repeatedly), matching the SQL replication
    * `sum(CASE WHEN (h >> b) & 1 = 1 THEN 1 ELSE -1 END) >= 0`.
    */
  def simhashMd5(arr: ArrayData, bits: Int): Long = {
    val votes = new Array[Int](bits)
    var i = 0
    val n = arr.numElements()
    while (i < n) {
      if (!arr.isNullAt(i)) {
        val h = md5Hash60(arr.getUTF8String(i))
        var b = 0
        while (b < bits) {
          if (((h >>> b) & 1L) == 1L) votes(b) += 1 else votes(b) -= 1
          b += 1
        }
      }
      i += 1
    }
    var out = 0L
    var b = 0
    while (b < bits) { if (votes(b) >= 0) out |= (1L << b); b += 1 }
    out
  }

  /** Wide SimHash: `bits` (≤ 120) across ceil(bits/60) 60-bit fingerprint
    * words — word w votes on bits [60w, 60w + min(60, bits-60w)) using the
    * matching 60-bit MD5 digest word of each token. Widening past 60 bits
    * is what keeps permute-and-block bucket cardinality high at scale:
    * 7 blocks × 17 bits = 128k bucket values per block vs the 512 a 60-bit
    * fingerprint allows (the round-2 quadratic ceiling).
    */
  def simhashMd5Wide(arr: ArrayData, bits: Int): GenericArrayData = {
    val words = (bits + 59) / 60
    val votes = new Array[Int](bits)
    var i = 0
    val n = arr.numElements()
    while (i < n) {
      if (!arr.isNullAt(i)) {
        val hw = md5Words(arr.getUTF8String(i), words)
        var b = 0
        while (b < bits) {
          if (((hw(b / 60) >>> (b % 60)) & 1L) == 1L) votes(b) += 1 else votes(b) -= 1
          b += 1
        }
      }
      i += 1
    }
    val out = new Array[Long](words)
    var b = 0
    while (b < bits) { if (votes(b) >= 0) out(b / 60) |= (1L << (b % 60)); b += 1 }
    new GenericArrayData(out)
  }

  /** PQ asymmetric-distance sum: Σ_j lut[j·ksub + codes[j]] over the m
    * code bytes of one corpus row against one query's flattened
    * (subspace-major) LUT of m × ksub squared subspace distances. ksub is
    * inferred from the array lengths, so the expression needs no literal
    * parameters. Summation is subspace-index order — deterministic,
    * matching the oracle's ordered list sum.
    */
  def adcSum(codes: ArrayData, lut: ArrayData, codesLong: Boolean): Double = {
    val m = codes.numElements()
    if (m == 0) return 0.0
    val ksub = lut.numElements() / m
    var s = 0.0
    var j = 0
    while (j < m) {
      val c = if (codesLong) codes.getLong(j).toInt else codes.getInt(j)
      s += lut.getDouble(j * ksub + c)
      j += 1
    }
    s
  }

  /** Shared shingle builder: ascii-lowercased [a-z0-9]+ token runs joined
    * in windows of n (single whole-token gram when the doc has < n
    * tokens). Pure-ASCII output, so Java String order == UTF8 binary
    * order for everything built here.
    */
  private def tokenize(s: String): scala.collection.mutable.ArrayBuffer[String] = {
    val tokens = new scala.collection.mutable.ArrayBuffer[String](64)
    val sb = new java.lang.StringBuilder(16)
    var i = 0
    while (i < s.length) {
      val c0 = s.charAt(i)
      val c = if (c0 >= 'A' && c0 <= 'Z') (c0 + 32).toChar else c0
      if ((c >= 'a' && c <= 'z') || (c >= '0' && c <= '9')) sb.append(c)
      else if (sb.length > 0) { tokens += sb.toString; sb.setLength(0) }
      i += 1
    }
    if (sb.length > 0) tokens += sb.toString
    tokens
  }

  private def shingleStrings(s: String, n: Int): Array[String] =
    shinglesOf(tokenize(s), n)

  private def shinglesOf(tokens: scala.collection.mutable.ArrayBuffer[String],
      n: Int): Array[String] = {
    if (tokens.length < n) Array(tokens.mkString(" "))
    else {
      val m = tokens.length - n + 1
      val arr = new Array[String](m)
      val b = new java.lang.StringBuilder(32)
      var j = 0
      while (j < m) {
        b.setLength(0)
        var k = 0
        while (k < n) {
          if (k > 0) b.append(' ')
          b.append(tokens(j + k))
          k += 1
        }
        arr(j) = b.toString
        j += 1
      }
      arr
    }
  }

  def wordShingles(input: UTF8String, n: Int): GenericArrayData = {
    val grams = shingleStrings(input.toString, n)
    val out = new Array[AnyRef](grams.length)
    var j = 0
    while (j < grams.length) {
      out(j) = UTF8String.fromString(grams(j))
      j += 1
    }
    new GenericArrayData(out)
  }

  /** Most frequent word n-gram of one document as (gram, count,
    * norm_len): build the non-distinct shingle stream, sort it,
    * run-length scan the sorted array. Strict `>` replacement keeps the
    * FIRST (binary-smallest) gram on count ties — the (count desc,
    * gram asc) argmax — because the scan walks grams in ascending order.
    * norm_len is the normalized character count (token chars + single
    * separators) measured on the SAME tokenizer as the grams, so a
    * fraction built from these two can never desync numerator and
    * denominator on inputs where a regex normalize and the ASCII kernel
    * disagree (e.g. Unicode chars whose lowercase maps into ASCII).
    * One eval per document; the per-doc top-gram never needs to leave
    * its row, so the operator that calls this is shuffle-free.
    */
  def topShingleRun(input: UTF8String, n: Int):
      org.apache.spark.sql.catalyst.InternalRow = {
    val tokens = tokenize(input.toString)
    val grams = shinglesOf(tokens, n)
    // normalized chars = token chars + one separator between each pair
    val normLen =
      if (tokens.isEmpty) 0L
      else tokens.iterator.map(_.length.toLong).sum + (tokens.length - 1)
    java.util.Arrays.sort(grams.asInstanceOf[Array[AnyRef]])
    var bestGram: String = null
    var bestCnt = 0L
    var i = 0
    while (i < grams.length) {
      var j = i + 1
      while (j < grams.length && grams(j) == grams(i)) j += 1
      val run = (j - i).toLong
      if (run > bestCnt) { bestCnt = run; bestGram = grams(i) }
      i = j
    }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](UTF8String.fromString(if (bestGram == null) "" else bestGram),
        bestCnt, normLen))
  }

  /** Shannon entropy (bits) of the CODE-POINT distribution of a string —
    * the compression-proxy quality signal (machine-generated/repetitive
    * text scores low, natural prose ~4-5 bits). Counts Unicode code
    * points (DuckDB's `string_split(s, '')` splits identically — per
    * code point, not grapheme), sums −p·log2 p in ascending code-point
    * order so the Spark side is deterministic; 6-dp rounding absorbs the
    * oracle's group-order float noise. Empty string → 0.0.
    */
  def charEntropy(s: UTF8String): Double = {
    val str = s.toString
    if (str.isEmpty) return 0.0
    val counts = new java.util.TreeMap[Integer, Long]()
    var i = 0
    var total = 0L
    while (i < str.length) {
      val cp = str.codePointAt(i)
      counts.merge(cp, 1L, (a, b) => a + b)
      i += Character.charCount(cp)
      total += 1L
    }
    var h = 0.0
    val it = counts.values().iterator()
    while (it.hasNext) {
      val p = it.next().toDouble / total
      h -= p * (math.log(p) / math.log(2.0))
    }
    h
  }

  /** Unicode NFC normalization — canonical composition (e + combining
    * acute → é), the pre-dedup canonicalization step (byte-different,
    * canonically-equal texts hash apart without it). DuckDB's
    * `nfc_normalize` is the oracle twin.
    */
  def nfcNormalize(s: UTF8String): UTF8String =
    UTF8String.fromString(java.text.Normalizer.normalize(
      s.toString, java.text.Normalizer.Form.NFC))

  /** Dense matrix × vector in one pass: `flat` holds the matrix row-major
    * (out dim j occupies slots [j·d, (j+1)·d)), the output has
    * flat.length / d elements, out(j) = Σ_i vec(i)·flat(j·d+i) summed in
    * ascending i — the same sequential order as DuckDB's
    * list_dot_product, so 6-dp-rounded projections match the oracle. The
    * built-ins route (transform + aggregate + zip_with per output dim)
    * allocates a lambda frame per element; this is one static call that
    * stays inside whole-stage codegen.
    */
  def matVec(vec: ArrayData, flat: ArrayData, vecFloat: Boolean): GenericArrayData = {
    val d = vec.numElements()
    val total = flat.numElements()
    if (d == 0 || total % d != 0)
      throw new IllegalArgumentException(
        s"mat_vec: matrix length $total is not a multiple of vector length $d")
    val outDim = total / d
    val out = new Array[Any](outDim)
    var j = 0
    while (j < outDim) {
      var acc = 0.0
      var i = 0
      val base = j * d
      while (i < d) {
        val x = if (vecFloat) vec.getFloat(i).toDouble else vec.getDouble(i)
        acc += x * flat.getDouble(base + i)
        i += 1
      }
      out(j) = java.lang.Double.valueOf(acc)
      j += 1
    }
    new GenericArrayData(out)
  }

  // ── CSV smart-cast kernels ([[SmartCast]]) ──────────────────────────
  // Each takes one raw CSV value and returns the typed value, or null for
  // a null sentinel and for a value the column's cast rejects. The rules
  // are the reference's CASE WHEN/CAST chain per class (see
  // graft.sources.CsvSmartCaster.castExpr), run over the value's bytes
  // with no regex and, but for the rare cases `smartDouble` names, no
  // intermediate string.

  private val nullSentinels: Array[Array[Byte]] =
    graft.sources.CsvSmartCaster.NullSentinels.toArray
      .map(_.getBytes(java.nio.charset.StandardCharsets.UTF_8))

  /** First byte of `s` after leading spaces (Spark's `trim` strips spaces
    * only).
    */
  private def spaceTrimStart(s: UTF8String): Int = {
    var a = 0
    while (a < s.numBytes && s.getByte(a) == ' ') a += 1
    a
  }

  /** End (exclusive) of `s` before trailing spaces, not below `from`. */
  private def spaceTrimEnd(s: UTF8String, from: Int): Int = {
    var b = s.numBytes
    while (b > from && s.getByte(b - 1) == ' ') b -= 1
    b
  }

  /** Whether bytes [from, to) of `s` equal `word`, ASCII letters folded to
    * lower case when `fold`.
    */
  private def bytesEqual(s: UTF8String, from: Int, to: Int, word: Array[Byte],
      fold: Boolean): Boolean = word.length == to - from && {
    var i = 0
    while (i < word.length &&
        (if (fold) (s.getByte(from + i) | 0x20) else s.getByte(from + i).toInt) == word(i)) i += 1
    i == word.length
  }

  /** Whether `s`, space-trimmed as by Spark's `trim`, is a null sentinel. */
  def isNullSentinel(s: UTF8String): Boolean = {
    val a = spaceTrimStart(s)
    val b = spaceTrimEnd(s, a)
    var k = 0
    while (k < nullSentinels.length && !bytesEqual(s, a, b, nullSentinels(k), fold = false)) k += 1
    k < nullSentinels.length
  }

  /** Integer class: `try_cast(trim(v) AS BIGINT)`. Spark's exact rule
    * (`UTF8String.toLongExact`, which trims whitespace and control bytes
    * itself) is its decimal-tolerant `toLong` minus the decimal point, so
    * a value holding a `.` is rejected first.
    */
  def smartLong(s: UTF8String): java.lang.Long =
    if (isNullSentinel(s)) null
    else {
      var i = 0
      while (i < s.numBytes && s.getByte(i) != '.') i += 1
      val w = new UTF8String.LongWrapper
      if (i == s.numBytes && s.toLong(w)) java.lang.Long.valueOf(w.value) else null
    }

  private val trueSpellings: Array[Array[Byte]] = Array("true", "yes", "da").map(_.getBytes)

  /** Boolean class: true for `true`/`yes`/`da` in any ASCII case after the
    * space trim, false otherwise. (No non-ASCII character lower-cases to
    * a letter of these words, so ASCII folding equals Spark's `lower`.)
    */
  def smartBoolean(s: UTF8String): java.lang.Boolean =
    if (isNullSentinel(s)) null
    else {
      val a = spaceTrimStart(s)
      val b = spaceTrimEnd(s, a)
      var k = 0
      while (k < trueSpellings.length && !bytesEqual(s, a, b, trueSpellings(k), fold = true)) k += 1
      java.lang.Boolean.valueOf(k < trueSpellings.length)
    }

  /** Date and String classes: the value itself, null for a sentinel. */
  def smartString(s: UTF8String): UTF8String = if (isNullSentinel(s)) null else s

  /** Characters the Float class drops anywhere in a value: currency
    * symbols and the regex class `\s`.
    */
  private def floatDropped(c: Char): Boolean = c match {
    case '$' | '€' | '£' | '¥' | '₹' | ' ' | '\t' | '\n' | '\u000b' | '\f' | '\r' => true
    case _ => false
  }

  /** Float class: drop currency symbols and whitespace, note and drop a
    * trailing `%`, apply the EU/US separator rule (see [[isEuNumber]]),
    * `try_cast(… AS DOUBLE)`, and divide a percent by 100.
    */
  def smartDouble(s: UTF8String): java.lang.Double = {
    if (isNullSentinel(s)) return null
    val str = s.toString
    val buf = new Array[Char](str.length)
    var len = 0
    var i = 0
    while (i < str.length) {
      if (!floatDropped(str.charAt(i))) { buf(len) = str.charAt(i); len += 1 }
      i += 1
    }
    val pct = len > 0 && buf(len - 1) == '%'
    val body = if (pct) len - 1 else len
    val eu = isEuNumber(buf, body)
    var m = 0
    i = 0
    while (i < body) {
      val c = buf(i)
      if (eu && c != '.') { buf(m) = if (c == ',') '.' else c; m += 1 }
      else if (!eu && c != ',') { buf(m) = c; m += 1 }
      i += 1
    }
    val v = parseDouble(new String(buf, 0, m))
    if (v == null || !pct) v else java.lang.Double.valueOf(v / 100.0)
  }

  /** The EU shape `^[+-]?(\d{1,3}(\.\d{3})+(,\d+)|\d+,\d+)$`: dots as
    * thousands separators and a REQUIRED decimal comma, or a bare decimal
    * comma. ('0.123' and '12.345' are plain decimals.)
    */
  private def isEuNumber(c: Array[Char], len: Int): Boolean = {
    def digits(from: Int, to: Int): Boolean =
      from < to && (from until to).forall(k => c(k) >= '0' && c(k) <= '9')
    val start = if (len > 0 && (c(0) == '+' || c(0) == '-')) 1 else 0
    val comma = (start until len).find(c(_) == ',').getOrElse(-1)
    if (comma < 0 || !digits(comma + 1, len)) false
    else if (digits(start, comma)) true
    else {
      val dot = (start until comma).find(c(_) == '.').getOrElse(-1)
      dot - start >= 1 && dot - start <= 3 && digits(start, dot) &&
        (comma - dot) % 4 == 0 &&
        (dot until comma by 4).forall(g => c(g) == '.' && digits(g + 1, g + 4))
    }
  }

  /** `try_cast(str AS DOUBLE)`: Spark's string → double cast is
    * `Double.parseDouble`, then its special literals (`inf`, `nan`, …).
    */
  private def parseDouble(str: String): java.lang.Double =
    try java.lang.Double.valueOf(java.lang.Double.parseDouble(str))
    catch { case _: NumberFormatException =>
      org.apache.spark.sql.catalyst.expressions.Cast
        .processFloatingPointSpecialLiterals(str, false).asInstanceOf[java.lang.Double]
    }
}
