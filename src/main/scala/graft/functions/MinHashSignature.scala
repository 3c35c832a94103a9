package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native one-pass MinHash signature: normalize (lowercase, collapse
  * whitespace runs to one space), slide the `shingleSize`-char window,
  * double-murmur each shingle into a 64-bit hash, and fold `numHashes`
  * universal-hash minima — all in one compiled pass with primitive arrays.
  *
  * Replaces the Scala UDF whose per-shingle `substring` allocation, boxed
  * `HashSet[Long]` dedup, and per-row catalyst↔Scala conversion dominated
  * the most-exercised curation op (the same UDF→native shape that yielded
  * 144× on hashEmbed). MinHashParitySpec pins BIT-IDENTITY with the UDF
  * ([[graft.llm.TextOps.minHashSignatureUdf]]), which stays as the
  * executable specification.
  *
  * Parity contract (what "bit-identical" means here):
  *  - normalization: `toLowerCase` then every maximal run of Java-regex
  *    `\s` ( space tab LF VT FF CR ) becomes ONE space — exactly
  *    `text.toLowerCase.replaceAll("\\s+", " ")`, leading/trailing runs
  *    included;
  *  - shingles: every UTF-16 CHAR window of length `shingleSize` (the
  *    UDF's `substring(i, i+n)` semantics), no dedup needed — duplicate
  *    windows cannot change a minimum;
  *  - shingle hash: `murmur3(s, 0x9747b28c) << 32 | murmur3(s, 0x85ebca6b)
  *    & 0xffffffff` via [[scala.util.hashing.MurmurHash3]]'s own
  *    mix/mixLast/finalizeHash (called on the window in place — no
  *    substring materializes);
  *  - signature: `sig_i = min over shingles of (a_i·(h mod_u P) + b_i) mod
  *    P`, P = 2³¹−1, with the (a, b) streams drawn from `Random(42)`
  *    exactly as the UDF draws them; the mod-P is a Mersenne fold (shifts
  *    and adds), equal to `%` on the non-negative range by construction;
  *  - no shingles (normalized length < shingleSize) → EMPTY array, so
  *    short docs never collide into every band.
  *
  * Scale: map-only, fuses into whole-stage codegen; the per-row cost is
  * `chars + shingles·(2 murmur + numHashes fused mod-P steps)` with the
  * signature accumulator resident in L1.
  */
case class MinHashSignature(child: Expression, numHashes: Int, shingleSize: Int)
    extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case StringType => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires a STRING input, got ${other.simpleString}")
    }

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def prettyName: String = "minhash_signature"

  override protected def nullSafeEval(v: Any): Any =
    MinHashSignature.compute(v.asInstanceOf[UTF8String], numHashes, shingleSize)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, v =>
      s"${ev.value} = graft.functions.MinHashSignature.compute($v, $numHashes, $shingleSize);")

  override protected def withNewChildInternal(newChild: Expression): MinHashSignature =
    copy(child = newChild)
}

object MinHashSignature {

  private val P = 2147483647L

  // the (a, b) coefficient streams per numHashes — drawn once, cached;
  // MUST replicate the UDF's Random(42) draw order (all a's, then all b's)
  private val coeffCache =
    new java.util.concurrent.ConcurrentHashMap[Int, (Array[Long], Array[Long])]()

  private def coeffs(numHashes: Int): (Array[Long], Array[Long]) =
    coeffCache.computeIfAbsent(numHashes, k => {
      val rnd = new scala.util.Random(42)
      val as = Array.fill(k)((math.abs(rnd.nextLong()) % (P - 1)) + 1)
      val bs = Array.fill(k)(math.abs(rnd.nextLong()) % P)
      (as, bs)
    })

  // Java-regex \s (no UNICODE_CHARACTER_CLASS): [ \t\n\x0B\f\r]
  private def isWs(c: Char): Boolean =
    c == ' ' || c == '\t' || c == '\n' || c == '\u000B' || c == '\f' || c == '\r'

  /** `text.toLowerCase.replaceAll("\\s+", " ")` without the regex engine:
    * returns the collapsed char buffer and its length. Shared by the
    * signature, shingle-set and simhash expressions. */
  private[functions] def normalizedChars(s: UTF8String): (Array[Char], Int) = {
    val lower = s.toString.toLowerCase
    val n = lower.length
    val cs = new Array[Char](n)
    var m = 0
    var i = 0
    var inRun = false
    while (i < n) {
      val c = lower.charAt(i)
      if (isWs(c)) {
        if (!inRun) { cs(m) = ' '; m += 1; inRun = true }
      } else { cs(m) = c; m += 1; inRun = false }
      i += 1
    }
    (cs, m)
  }

  /** The UDF contract's 64-bit shingle hash of the window starting at
    * `off`: murmur(0x9747b28c) in the high word, murmur(0x85ebca6b) low. */
  private[functions] def windowHash64(cs: Array[Char], off: Int, len: Int): Long = {
    val h1 = murmurWindow(cs, off, len, 0x9747b28c)
    val h2 = murmurWindow(cs, off, len, 0x85ebca6b)
    (h1.toLong << 32) | (h2.toLong & 0xffffffffL)
  }

  /** scala.util.hashing.MurmurHash3.stringHash over the char window
    * [off, off+len) — same pairwise char mixing, no substring. */
  private def murmurWindow(cs: Array[Char], off: Int, len: Int, seed: Int): Int = {
    import scala.util.hashing.MurmurHash3.{finalizeHash, mix, mixLast}
    var h = seed
    var i = 0
    while (i + 1 < len) {
      h = mix(h, (cs(off + i) << 16) + cs(off + i + 1))
      i += 2
    }
    if (i < len) h = mixLast(h, cs(off + i).toInt)
    finalizeHash(h, len)
  }

  def compute(s: UTF8String, numHashes: Int, shingleSize: Int): ArrayData =
    new GenericArrayData(signature(s, numHashes, shingleSize))

  /** The raw signature (empty when no shingles) — shared with
    * [[MinHashBandBuckets]] so banding never re-walks the text. */
  private[functions] def signature(s: UTF8String, numHashes: Int,
                                   shingleSize: Int): Array[Long] = {
    val (cs, m) = normalizedChars(s)
    if (m < shingleSize)
      return Array.emptyLongArray
    val (as, bs) = coeffs(numHashes)
    val sig = new Array[Long](numHashes)
    java.util.Arrays.fill(sig, P)
    val nSh = m - shingleSize + 1
    // duplicate shingles produce the same base, so they cannot change any
    // lane's min — dedup the bases first (open-addressing int set; a base
    // is < P < 2^31) and run the numHashes-wide lane loop only on DISTINCT
    // shingles. Natural text repeats 5-grams heavily, so this removes a
    // measurable fraction of the 64-multiply inner loops; the signature is
    // bit-identical (min over a multiset equals min over its support).
    val target = math.min(nSh.toLong * 2, 1L << 30)
    var cap = 8
    while (cap < target) cap <<= 1
    val seen = new Array[Int](cap)
    java.util.Arrays.fill(seen, -1)
    val mask = cap - 1
    val shift = 32 - java.lang.Integer.numberOfTrailingZeros(cap)
    var j = 0
    while (j < nSh) {
      val h = windowHash64(cs, j, shingleSize)
      val base = java.lang.Long.remainderUnsigned(h, P)
      val bi = base.toInt // base < P = 2^31 − 1, so the int is non-negative
      var slot = (bi * 0x9e3779b1) >>> shift // fibonacci hash → [0, cap)
      var dup = false
      while (seen(slot) != -1 && !dup) {
        if (seen(slot) == bi) dup = true else slot = (slot + 1) & mask
      }
      if (!dup) {
        seen(slot) = bi
        // (base·a + b) mod P via Mersenne folding: x < 2^62, two folds +
        // one conditional subtract land exactly on x % P. The lane loop is
        // 4-way unrolled (r11): four independent fold chains in flight —
        // pure instruction scheduling, the per-lane operation sequence is
        // unchanged, so the signature is bit-identical (A/B on the real
        // corpus: 0.209→0.190 s per 5k-doc sweep; equality asserted across
        // every document before landing).
        var t = 0
        val n4 = numHashes - 3
        while (t < n4) {
          val x0 = base * as(t) + bs(t)
          val x1 = base * as(t + 1) + bs(t + 1)
          val x2 = base * as(t + 2) + bs(t + 2)
          val x3 = base * as(t + 3) + bs(t + 3)
          var y0 = (x0 >>> 31) + (x0 & P); y0 = (y0 >>> 31) + (y0 & P)
          var y1 = (x1 >>> 31) + (x1 & P); y1 = (y1 >>> 31) + (y1 & P)
          var y2 = (x2 >>> 31) + (x2 & P); y2 = (y2 >>> 31) + (y2 & P)
          var y3 = (x3 >>> 31) + (x3 & P); y3 = (y3 >>> 31) + (y3 & P)
          if (y0 >= P) y0 -= P
          if (y1 >= P) y1 -= P
          if (y2 >= P) y2 -= P
          if (y3 >= P) y3 -= P
          if (y0 < sig(t)) sig(t) = y0
          if (y1 < sig(t + 1)) sig(t + 1) = y1
          if (y2 < sig(t + 2)) sig(t + 2) = y2
          if (y3 < sig(t + 3)) sig(t + 3) = y3
          t += 4
        }
        while (t < numHashes) {
          val x = base * as(t) + bs(t)
          var y = (x >>> 31) + (x & P)
          y = (y >>> 31) + (y & P)
          if (y >= P) y -= P
          if (y < sig(t)) sig(t) = y
          t += 1
        }
      }
      j += 1
    }
    sig
  }
}

/** Native LSH banding fused with the MinHash signature: emits the `bands`
  * band-bucket hashes of a document's signature as one ARRAY<BIGINT>
  * (empty when the text has no shingles), so the banded (id, band, bucket)
  * table is `posexplode` over a single compiled pass — no per-band string
  * materialization (the previous derivation rendered each 4-long slice to
  * a '_'-joined string and xxhash64'd it: 16 string builds per document).
  *
  * Bucket values are an INTERNAL join key (the candidate stage joins on
  * (band, bucket) and every downstream contract verifies candidates
  * against real shingle sets), so the hash only has to be deterministic,
  * band-seeded, and collision-resistant: each band folds its signature
  * slice through the 64-bit murmur finalizer from a band-indexed seed.
  * Identical slices in different bands still land in different buckets
  * (the seed), and identical signatures collide in every band — the
  * exact-duplicate completeness the threshold-1.0 oracles rely on. */
case class MinHashBandBuckets(child: Expression, numHashes: Int, bands: Int,
                              shingleSize: Int)
    extends UnaryExpression {
  require(bands >= 1 && numHashes % bands == 0,
    s"bands ($bands) must divide numHashes ($numHashes)")

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case StringType => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires a STRING input, got ${other.simpleString}")
    }

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def prettyName: String = "minhash_band_buckets"

  override protected def nullSafeEval(v: Any): Any =
    MinHashBandBuckets.compute(v.asInstanceOf[UTF8String], numHashes, bands,
      shingleSize)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, v =>
      s"${ev.value} = graft.functions.MinHashBandBuckets.compute($v, $numHashes, $bands, $shingleSize);")

  override protected def withNewChildInternal(newChild: Expression): MinHashBandBuckets =
    copy(child = newChild)
}

object MinHashBandBuckets {

  /** murmur3 64-bit finalizer (fmix64) — full avalanche per fold step. */
  private def fmix64(x0: Long): Long = {
    var x = x0
    x ^= x >>> 33
    x *= 0xff51afd7ed558ccdL
    x ^= x >>> 33
    x *= 0xc4ceb9fe1a85ec53L
    x ^= x >>> 33
    x
  }

  def compute(s: UTF8String, numHashes: Int, bands: Int,
              shingleSize: Int): ArrayData = {
    val sig = MinHashSignature.signature(s, numHashes, shingleSize)
    if (sig.isEmpty) return new GenericArrayData(Array.emptyLongArray)
    val rows = numHashes / bands
    val out = new Array[Long](bands)
    var b = 0
    while (b < bands) {
      var h = fmix64(0x9747b28c85ebca6bL ^ (b * 0x9e3779b97f4a7c15L))
      var r = 0
      while (r < rows) {
        h = fmix64(h ^ sig(b * rows + r))
        r += 1
      }
      out(b) = h
      b += 1
    }
    new GenericArrayData(out)
  }
}
