package graft.functions

import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.unsafe.types.UTF8String

/** Static eval kernels for graft's native expressions. A plain object
  * (no companion class) gets JVM static forwarders, so generated code can
  * call `graft.functions.NativeEval.simhash64(x)` directly — which lets
  * every expression implement real `doGenCode` instead of
  * CodegenFallback, keeping the enclosing projection inside whole-stage
  * codegen with zero per-row boxing beyond the kernel call.
  */
object NativeEval {

  private val space = UTF8String.fromString(" ")

  /** '.'-byte scan for [[graft.functions.TryParseIntegral]]: the public
    * lenient wrapper parsers accept decimal-formatted strings ('5.7' →
    * 5) where strict TRY-cast parsing rejects, and the fractional
    * branch is their only divergence — a strict-accepted string can
    * never contain '.', so lenient-success ∧ no-dot ≡ strict-success.
    * Safe byte-wise: '.' (0x2E) can't appear inside a multi-byte UTF-8
    * sequence (continuation bytes are ≥ 0x80). */
  def containsDot(s: UTF8String): Boolean = {
    val nb = s.numBytes()
    val base = s.getBaseObject
    val off = s.getBaseOffset
    var i = 0
    while (i < nb) {
      if (org.apache.spark.unsafe.Platform.getByte(base, off + i) == '.') return true
      i += 1
    }
    false
  }

  def wordShingles(text: UTF8String, n: Int): ArrayData = {
    val words = text.split(space, -1)
    if (words.length < n) return new GenericArrayData(Array.empty[Any])
    val seen = new java.util.LinkedHashSet[UTF8String]()
    var i = 0
    while (i <= words.length - n) {
      seen.add(UTF8String.concatWs(space, java.util.Arrays.copyOfRange(words, i, i + n): _*))
      i += 1
    }
    new GenericArrayData(seen.toArray.asInstanceOf[Array[AnyRef]])
  }

  def charShingles(s: UTF8String, n: Int): ArrayData = {
    // linear-offset form (r16, the charShingleHashes fix applied to the
    // string variant): substring(i, i+n) re-scans from byte 0 per gram
    // (O(len²)); walk codepoint starts once and slice by byte offset
    val bytes = s.getBytes
    val nb = bytes.length
    val offs = new Array[Int](nb + 1)
    var len = 0
    var b = 0
    while (b < nb) {
      offs(len) = b
      b += UTF8String.numBytesForFirstByte(bytes(b))
      len += 1
    }
    offs(len) = nb
    if (len < n) return new GenericArrayData(Array.empty[Any])
    val seen = new java.util.LinkedHashSet[UTF8String]()
    var i = 0
    while (i <= len - n) {
      seen.add(UTF8String.fromBytes(bytes, offs(i), offs(i + n) - offs(i)))
      i += 1
    }
    new GenericArrayData(seen.toArray.asInstanceOf[Array[AnyRef]])
  }

  /** Distinct character n-gram shingles as a SORTED array of 64-bit
    * hashes (XXH64, seed 42). Sorted-distinct longs make the downstream
    * pair verify a two-pointer merge with zero allocation, and shrink
    * the candidate-join shuffle ~3× vs string shingle arrays. Exact up
    * to hash collisions (~k²/2⁶⁴ per doc pair — negligible at any real
    * shingle cardinality). */
  def charShingleHashes(s: UTF8String, n: Int): ArrayData = {
    // ZERO-ALLOCATION gram hashing (r16): the original form hashed
    // `s.substring(i, i + n)` per gram — UTF8String.substring re-scans
    // from byte 0 to locate codepoint i (O(len²) bytes scanned per doc)
    // and allocates a fresh UTF8String + byte copy per gram. Measured
    // 230 µs/doc on 297-char docs — the sf0.1 prefix row spent more
    // time shingling than joining. This form walks the codepoint starts
    // ONCE, then hashes each gram's byte slice in place via
    // XXH64.hashUnsafeBytes — bit-identical values (hashUTF8String IS
    // hashUnsafeBytes over the string's byte slice, and substring copies
    // exactly the [offs(i), offs(i+n)) bytes): ~40× faster, no
    // allocation beyond the two output-sized arrays.
    val nb = s.numBytes()
    val base = s.getBaseObject
    val off = s.getBaseOffset
    // codepoint-start byte offsets, one linear pass (ASCII: offs(i) = i)
    val offs = new Array[Int](nb + 1)
    var len = 0
    var b = 0
    while (b < nb) {
      offs(len) = b
      b += UTF8String.numBytesForFirstByte(
        org.apache.spark.unsafe.Platform.getByte(base, off + b))
      len += 1
    }
    offs(len) = nb
    if (len < n) return new GenericArrayData(Array.empty[Long])
    val raw = new Array[Long](len - n + 1)
    var i = 0
    while (i <= len - n) {
      raw(i) = XXH64.hashUnsafeBytes(base, off + offs(i),
        offs(i + n) - offs(i), DedupExprs.DefaultSeed)
      i += 1
    }
    java.util.Arrays.sort(raw)
    var w = 0
    var j = 0
    while (j < raw.length) {
      if (j == 0 || raw(j) != raw(j - 1)) { raw(w) = raw(j); w += 1 }
      j += 1
    }
    new GenericArrayData(java.util.Arrays.copyOf(raw, w))
  }

  /** An `array<string>`'s elements hashed (XXH64, seed 42) to a SORTED
    * distinct `array<long>` — the compact verify-side form for shingle
    * arrays that are also consumed as strings elsewhere in the plan.
    * Null elements are skipped (SQL-registered path accepts any input). */
  def hashArraySorted(arr: ArrayData): ArrayData = {
    val total = arr.numElements()
    val raw = new Array[Long](total)
    var n = 0
    var i = 0
    while (i < total) {
      if (!arr.isNullAt(i)) {
        raw(n) = XXH64.hashUTF8String(arr.getUTF8String(i), DedupExprs.DefaultSeed)
        n += 1
      }
      i += 1
    }
    java.util.Arrays.sort(raw, 0, n)
    var w = 0
    var j = 0
    while (j < n) {
      if (j == 0 || raw(j) != raw(j - 1)) { raw(w) = raw(j); w += 1 }
      j += 1
    }
    new GenericArrayData(java.util.Arrays.copyOf(raw, w))
  }

  /** Jaccard of two SORTED distinct long arrays (see
    * [[charShingleHashes]]): single merge pass, no hash set, no boxing. */
  def arrayJaccardSortedLong(a: ArrayData, b: ArrayData): Double = {
    val na = a.numElements(); val nb = b.numElements()
    var i = 0; var j = 0; var inter = 0
    while (i < na && j < nb) {
      val x = a.getLong(i); val y = b.getLong(j)
      if (x == y) { inter += 1; i += 1; j += 1 }
      else if (x < y) i += 1
      else j += 1
    }
    val union = na + nb - inter
    if (union == 0) 1.0 else inter.toDouble / union.toDouble
  }

  /** Threshold-aware [[arrayJaccardSortedLong]] (r17 — the ×100 ngram
    * wall is the VERIFY kernel, SCALING.md "Round 17: the ×100 ngram
    * wall decomposed"): exact Jaccard when the pair can still reach
    * `threshold`, or -1.0 the moment it provably cannot. Soundness: with
    * `inter` matches after consuming i/j elements, the final
    * intersection I is at most
    * inter + min(na−i, nb−j), and J = I/(na+nb−I) is monotone in I, so
    * J < t is certain once (inter + minRem)·(1+t) < t·(na+nb). The
    * compare carries the same relative (1 − 1e-12) slack as the PPJoin
    * positional filter — rounding only ever ADMITS a borderline pair,
    * whose jaccard is then computed exactly; -1 is the ONLY approximate
    * output and callers filter `>= threshold` (> 0) right after. */
  def arrayJaccardSortedLongBounded(a: ArrayData, b: ArrayData,
                                    threshold: Double): Double = {
    val na = a.numElements(); val nb = b.numElements()
    // t/(1+t)·(na+nb)·(1−ε): the minimal intersection a qualifying pair
    // can have — hoisted so the loop compares against a constant
    val need = threshold / (1.0 + threshold) * (na + nb) * (1 - 1e-12)
    var i = 0; var j = 0; var inter = 0
    while (i < na && j < nb) {
      val rem = math.min(na - i, nb - j)
      if (inter + rem < need) return -1.0
      val x = a.getLong(i); val y = b.getLong(j)
      if (x == y) { inter += 1; i += 1; j += 1 }
      else if (x < y) i += 1
      else j += 1
    }
    val union = na + nb - inter
    if (union == 0) 1.0 else inter.toDouble / union.toDouble
  }

  /** Parity-sketch words per signature: 8 longs = 512 bits. Sizing (see
    * [[paritySketch]]): the sketch prunes while the failing pairs'
    * symmetric difference is large relative to the bit width — with
    * |A∆B| = d toggles over 512 buckets, E[h] = 256·(1−e^(−2d/512)),
    * which crosses the prune line t=0.6 · (|A|+|B|) comfortably for the
    * measured m100 candidate shape (~204 shingles/doc, candidate mean
    * J 0.282 → d ≈ 229 → E[h] ≈ 151 vs the 102 needed, >6σ) and
    * saturates (stops pruning, never mis-prunes) once |A|+|B| outgrows
    * ~4× the bit width. 64 bytes/doc on the verify side. */
  val ParitySketchWords: Int = 8

  /** 512-bit parity (odd) sketch of a sorted DISTINCT `array<long>` of
    * shingle hashes: each element toggles one bucket bit, so for two
    * docs h = popcount(sigA XOR sigB) counts buckets holding an ODD
    * number of symmetric-difference elements — a DETERMINISTIC lower
    * bound h ≤ |A∆B| (shared elements toggle both sides and cancel;
    * each ∆ element flips exactly one bucket, and collisions only
    * cancel, never add). Hence J = (S−|∆|)/(S+|∆|) ≤ (S−h)/(S+h) with
    * S = |A|+|B|: an exception-free, branch-free per-pair upper bound
    * evaluated in ~10 ns that the verify checks BEFORE the O(|A|+|B|)
    * merge kernel. Parity bits for Jaccard are the Odd Sketch
    * construction (Mitzenmacher/Pagh/Pham, WWW'14) — used there as an
    * estimator, used here only as the exact bound above, so pruning is
    * sound at any width — and conservative under ANY toggle omission,
    * because omitting a toggle can only LOWER h and thereby RAISE the
    * bound toward 1, never prune a qualifying pair. That is also why
    * the defensive null-element skip below is sound (catalog arrays are
    * containsNull=false; the skip is for the registered-SQL surface). */
  def paritySketch(arr: ArrayData): ArrayData = {
    val words = new Array[Long](ParitySketchWords)
    val n = arr.numElements()
    val mask = ParitySketchWords * 64 - 1
    var i = 0
    while (i < n) {
      if (!arr.isNullAt(i)) {
        val h = arr.getLong(i)
        val b = (h ^ (h >>> 32)).toInt & mask
        words(b >>> 6) ^= 1L << (b & 63)
      }
      i += 1
    }
    new GenericArrayData(words)
  }

  /** popcount(a XOR b) over two equal-length `array<long>` sketches —
    * the h of [[paritySketch]]'s bound. Defensive on a length mismatch
    * (impossible for catalog-built sketches): XORs only the common
    * prefix, which can only LOWER h, keeping the bound sound. */
  def xorPopcount(a: ArrayData, b: ArrayData): Long = {
    val n = math.min(a.numElements(), b.numElements())
    var h = 0L
    var i = 0
    while (i < n) {
      h += java.lang.Long.bitCount(a.getLong(i) ^ b.getLong(i))
      i += 1
    }
    h
  }

  def minhashBands(arr: ArrayData, k: Int, bands: Int): ArrayData = {
    // null elements are skipped: the catalog's shingle arrays are
    // containsNull=false, but the SQL-registered graft_minhash_bands
    // accepts any array<string> and must not NPE (built-in xxhash64
    // tolerates nulls too)
    val total = arr.numElements()
    val h1 = new Array[Long](total)
    val h2 = new Array[Long](total)
    var n = 0
    var i = 0
    while (i < total) {
      if (!arr.isNullAt(i)) {
        val s = arr.getUTF8String(i)
        h1(n) = XXH64.hashUTF8String(s, DedupExprs.DefaultSeed)
        h2(n) = XXH64.hashUTF8String(s, DedupExprs.AltSeed)
        n += 1
      }
      i += 1
    }
    val sig = new Array[Long](k)
    var t = 0
    while (t < k) {
      var mn = Long.MaxValue
      var j = 0
      while (j < n) {
        val v = h1(j) + t * h2(j)
        if (v < mn) mn = v
        j += 1
      }
      sig(t) = mn
      t += 1
    }
    val r = k / bands
    val out = new Array[Long](bands)
    var b = 0
    while (b < bands) {
      var acc = DedupExprs.DefaultSeed
      var j = 0
      while (j < r) {
        acc = XXH64.hashLong(sig(b * r + j), acc)
        j += 1
      }
      out(b) = acc
      b += 1
    }
    new GenericArrayData(out)
  }

  def simhash64(arr: ArrayData): Long = {
    val n = arr.numElements()
    val counts = new Array[Int](64)
    var i = 0
    while (i < n) {
      // skip null elements (SQL-registered path accepts any array<string>)
      if (!arr.isNullAt(i)) {
        val h = XXH64.hashUTF8String(arr.getUTF8String(i), DedupExprs.DefaultSeed)
        var bit = 0
        while (bit < 64) {
          if (((h >>> bit) & 1L) == 1L) counts(bit) += 1 else counts(bit) -= 1
          bit += 1
        }
      }
      i += 1
    }
    var out = 0L
    var bit = 0
    while (bit < 64) {
      if (counts(bit) >= 0) out |= (1L << bit)
      bit += 1
    }
    out
  }

  def arrayJaccard(a: ArrayData, b: ArrayData): Double = {
    val setA = new java.util.HashSet[UTF8String](a.numElements() * 2)
    var i = 0
    while (i < a.numElements()) { setA.add(a.getUTF8String(i)); i += 1 }
    val setB = new java.util.HashSet[UTF8String](b.numElements() * 2)
    var inter = 0
    var j = 0
    while (j < b.numElements()) {
      val s = b.getUTF8String(j)
      if (setB.add(s) && setA.contains(s)) inter += 1
      j += 1
    }
    val union = setA.size + setB.size - inter
    if (union == 0) 1.0 else inter.toDouble / union.toDouble
  }

  /** Cosine similarity with sequential accumulation — identical IEEE
    * result to the three separate left-to-right dot products (same
    * per-index operation order), float inputs widened exactly. */
  def cosine(a: ArrayData, b: ArrayData, aFloat: Boolean, bFloat: Boolean): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      val x = if (aFloat) a.getFloat(i).toDouble else a.getDouble(i)
      val y = if (bFloat) b.getFloat(i).toDouble else b.getDouble(i)
      dot += x * y; na += x * x; nb += y * y
      i += 1
    }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }

  /** SRP hyperplanes: component d of plane j is the integer-arithmetic
    * literal ((j·dims + d)·seedK mod 2001 − 1000) / 1000, which any
    * engine rebuilds bit-for-bit. */
  def srpPlanes(dims: Int, nPlanes: Int, seedK: Long): Array[Array[Double]] =
    Array.tabulate(nPlanes, dims)((j, d) =>
      ((j.toLong * dims + d) * seedK % 2001L - 1000L) / 1000.0)

  /** SRP band keys of one vector against [[srpPlanes]]: bit j is SQL's
    * `cosine(vec, plane j) >= 0`, with [[cosine]]'s sequential dot/norm
    * fold over min(len(vec), dims) elements, packed low bit first at
    * j % bits into band j / bits. SQL ordering ranks NaN above every
    * value, so a zero or empty vector sets every bit. When the plane
    * count is not a multiple of bits the last band is partial. */
  def srpBandKeys(vec: ArrayData, isFloat: Boolean, planes: Array[Array[Double]],
                  bits: Int): ArrayData = {
    val n = math.min(vec.numElements(), planes(0).length)
    val x = new Array[Double](n)
    var na = 0.0
    var i = 0
    while (i < n) {
      val v = if (isFloat) vec.getFloat(i).toDouble else vec.getDouble(i)
      x(i) = v; na += v * v
      i += 1
    }
    val normA = math.sqrt(na)
    val out = new Array[Long]((planes.length + bits - 1) / bits)
    var j = 0
    while (j < planes.length) {
      val h = planes(j)
      var dot = 0.0; var nb = 0.0
      i = 0
      while (i < n) {
        val y = h(i)
        dot += x(i) * y; nb += y * y
        i += 1
      }
      if (!(dot / (normA * math.sqrt(nb)) < 0.0)) out(j / bits) |= 1L << (j % bits)
      j += 1
    }
    new GenericArrayData(out)
  }

  /** Winnowing fingerprints (Schleimer/Wilkerson/Aiken, "Winnowing: Local
    * Algorithms for Document Fingerprinting", SIGMOD'03 — public
    * literature): per-position polynomial rolling hashes of the text's
    * char k-grams (Horner base 31 over code points, mod 2^31−1 after
    * every multiply-add — pure integer arithmetic any engine reproduces
    * exactly), then the minimum of each window of w consecutive hashes;
    * the distinct minima, sorted, are the document's fingerprints.
    * Guarantee: two docs sharing a substring of ≥ w+k−1 chars share at
    * least one fingerprint. Fewer than k chars → empty; fewer than w
    * k-grams → one window over all of them (never zero fingerprints for
    * a doc with ≥ 1 k-gram). */
  def winnowFingerprints(s: UTF8String, k: Int, w: Int): ArrayData = {
    val cps = s.toString.codePoints().toArray
    val len = cps.length
    if (len < k) return new GenericArrayData(Array.empty[Long])
    val M = 2147483647L
    val m = len - k + 1
    val hs = new Array[Long](m)
    // true rolling update: O(chars) total, not O(chars·k) — identical
    // values to the per-position Horner (all arithmetic is mod M)
    var pow = 1L // 31^(k-1) mod M
    var e = 1
    while (e < k) { pow = (pow * 31L) % M; e += 1 }
    var acc = 0L
    var j = 0
    while (j < k) { acc = (acc * 31L + cps(j)) % M; j += 1 }
    hs(0) = acc
    var i = 1
    while (i < m) {
      // drop cps(i-1), shift, add cps(i+k-1); keep intermediates >= 0
      acc = ((acc - (cps(i - 1) * pow) % M + M) * 31L + cps(i + k - 1)) % M
      hs(i) = acc
      i += 1
    }
    // per-window minima (w is a small constant — the O(m·w) scan beats a
    // deque's branchiness at these widths and is trivially codegen-safe)
    val nw = math.max(m - w + 1, 1)
    val sel = new Array[Long](nw)
    var p = 0
    while (p < nw) {
      var mn = Long.MaxValue
      var t = p
      val end = math.min(p + w, m)
      while (t < end) { if (hs(t) < mn) mn = hs(t); t += 1 }
      sel(p) = mn
      p += 1
    }
    java.util.Arrays.sort(sel)
    var wr = 0
    var q = 0
    while (q < nw) {
      if (q == 0 || sel(q) != sel(q - 1)) { sel(wr) = sel(q); wr += 1 }
      q += 1
    }
    new GenericArrayData(java.util.Arrays.copyOf(sel, wr))
  }

  def byteBinCounts(bytes: Array[Byte]): ArrayData = {
    val bins = new Array[Long](16)
    var i = 0
    while (i < bytes.length) {
      bins((bytes(i) & 0xff) >>> 4) += 1
      i += 1
    }
    new GenericArrayData(bins)
  }

  def byteSample(bytes: Array[Byte], stride: Int): Array[Byte] = {
    val out = new Array[Byte]((bytes.length + stride - 1) / stride)
    var i = 0
    while (i < out.length) {
      out(i) = bytes(i * stride)
      i += 1
    }
    out
  }
}
