package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, GenericInternalRow, TernaryExpression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types.{ArrayType, BinaryType, DataType, DoubleType, FloatType, IntegerType, LongType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** Custom Catalyst expressions for the hashing hot paths. Both generate
  * Java in `doGenCode` (a static helper call), so they stay inside
  * WholeStageCodegen spans with the parquet scan — no interpreted-eval
  * fallback, no UDF serialization, no boxing per row.
  */
object HashKernels extends Serializable {
  /** 64-bit Karp-Rabin polynomial over the UTF-8 bytes,
    * h = sum(b_i * B^(n-1-i)) with wrapping long arithmetic (mod 2^64).
    */
  def rollingHash(s: UTF8String): Long = {
    val bytes = s.getBytes
    var h = 0L
    var i = 0
    while (i < bytes.length) {
      h = h * 1000003L + (bytes(i) & 0xffL)
      i += 1
    }
    h
  }

  /** Count maximal 13–19-digit runs passing the Luhn mod-10 check.
    * One pass over the bytes, zero allocation: digit positions are
    * folded into the two alternating-parity sums as the run grows, and
    * the run's parity choice is resolved when the run ends (the
    * doubling applies to every SECOND digit from the RIGHT, so which
    * alternation applies depends on the final run length).
    */
  def luhnCardCount(s: UTF8String): Int = {
    val bytes = s.getBytes
    var count = 0
    var i = 0
    val n = bytes.length
    while (i < n) {
      val b = bytes(i)
      if (b >= '0' && b <= '9') {
        // consume the whole maximal digit run, tracking both parity sums
        var sumEven = 0 // doubled digits at even offset-from-start
        var sumOdd = 0  // doubled digits at odd offset-from-start
        var len = 0
        while (i < n && bytes(i) >= '0' && bytes(i) <= '9') {
          val d = bytes(i) - '0'
          val dd = { val t = 2 * d; if (t > 9) t - 9 else t }
          if ((len & 1) == 0) { sumEven += dd; sumOdd += d }
          else { sumEven += d; sumOdd += dd }
          len += 1
          i += 1
        }
        if (len >= 13 && len <= 19) {
          // double every second digit from the RIGHT: for even run
          // length that is the even start-offsets, for odd length the
          // odd ones
          val total = if ((len & 1) == 0) sumEven else sumOdd
          if (total % 10 == 0) count += 1
        }
      } else i += 1
    }
    count
  }

  /** Per-position 64-bit char n-gram hashes in ONE rolling pass —
    * position i (0-based, in CHARACTERS) holds the hash of the n-char
    * window starting at character i. Positions count Unicode code
    * points, matching SQL `substring` semantics, so a consumer can
    * verify the window `substring(text, i+1, n)` on BOTH the Spark and
    * DuckDB sides for any input (the earlier byte-indexed form silently
    * misaligned the verify windows on non-ASCII text). Each character
    * contributes its UTF-8 bytes folded big-endian into one value —
    * injective per code point, and for ASCII identical to the byte
    * rolling hash. The naive
    * `transform(sequence(...), i -> xxhash64(substring(text, i, n)))`
    * formulation is O(len·n) byte work plus one UTF8String allocation
    * PER GRAM (measured 33 CPU-seconds for 1.45M grams at sf0.1 —
    * the dominant stage of the PPJoin pipeline); the rolling update
    * h ← h·B + in − out·B^n (ring buffer of the last n char values)
    * makes it O(len) with zero allocation beyond output + ring. Texts
    * shorter than n CHARS yield ONE hash of the whole text (the
    * short-document fallback the gram-set callers rely on). Same
    * polynomial+splitmix64 construction as [[simHash]].
    */
  /** UTF-8 lead byte → char width; continuation/invalid bytes count 1
    * so malformed input degrades to byte-stepping instead of drifting.
    */
  @inline private def utf8Width(lead: Int): Int =
    if (lead < 0xc0) 1 else if (lead < 0xe0) 2 else if (lead < 0xf0) 3 else 4

  def gramHashes64(s: UTF8String, n: Int): ArrayData = {
    val bytes = s.getBytes
    val len = bytes.length
    // count chars with the SAME width rule as the main loop (not
    // numChars(), whose invalid-byte handling may differ) so the output
    // array length always matches the positions emitted
    var nChars = 0
    var ii = 0
    while (ii < len) { ii += math.min(utf8Width(bytes(ii) & 0xff), len - ii); nChars += 1 }
    if (nChars < n) return new GenericArrayData(Array(mix64(rollingHash(s))))
    var bPowN = 1L
    var k = 0
    while (k < n) { bPowN *= 1000003L; k += 1 }
    val out = new Array[Long](nChars - n + 1)
    val ring = new Array[Long](n) // char values entering the window
    var h = 0L
    var i = 0 // byte cursor
    var ci = 0 // char cursor
    while (i < len) {
      val w = math.min(utf8Width(bytes(i) & 0xff), len - i)
      var cv = 0L
      var j = 0
      while (j < w) { cv = (cv << 8) | (bytes(i + j) & 0xffL); j += 1 }
      h = h * 1000003L + cv
      val slot = ci % n
      if (ci >= n) h -= ring(slot) * bPowN
      ring(slot) = cv
      if (ci >= n - 1) out(ci - n + 1) = mix64(h)
      i += w
      ci += 1
    }
    new GenericArrayData(out)
  }

  /** splitmix64 finalizer — cheap, well-mixed 64-bit hash step. */
  @inline def mix64(x0: Long): Long = {
    var x = x0 + 0x9e3779b97f4a7c15L
    x = (x ^ (x >>> 30)) * 0xbf58476d1ce4e5b9L
    x = (x ^ (x >>> 27)) * 0x94d049bb133111ebL
    x ^ (x >>> 31)
  }

  /** 64-bit SimHash over character n-gram shingles: every shingle's
    * mixed rolling hash votes +1/-1 per bit; sign of each vote total is
    * the output bit. Single pass, O(len * 1) via rolling window reuse of
    * the polynomial hash.
    */
  def simHash(s: UTF8String, n: Int): Long = {
    val bytes = s.getBytes
    if (bytes.length < n) return mix64(rollingHash(s))
    val votes = new Array[Int](64)
    // rolling update: h_next = h*B + in - out*B^n
    var bPowN = 1L
    var k = 0
    while (k < n) { bPowN *= 1000003L; k += 1 }
    var h = 0L
    var i = 0
    while (i < bytes.length) {
      h = h * 1000003L + (bytes(i) & 0xffL)
      if (i >= n) h -= (bytes(i - n) & 0xffL) * bPowN
      if (i >= n - 1) {
        val sh = mix64(h)
        var b = 0
        while (b < 64) {
          if (((sh >>> b) & 1L) == 1L) votes(b) += 1 else votes(b) -= 1
          b += 1
        }
      }
      i += 1
    }
    var out = 0L
    var b = 0
    while (b < 64) { if (votes(b) > 0) out |= (1L << b); b += 1 }
    out
  }

  /** MinHash prime (2^31 - 1) and per-(k, seed) permutation coefficients,
    * memoized once per JVM. The (a*x + b) mod p scheme over int-domain
    * hashes is the standard universal-hash MinHash construction (as in
    * Spark MLlib's MinHashLSH — public API we reimplement leaner here).
    */
  val MinhashPrime: Long = 2147483647L

  /** Exact `v mod MinhashPrime` for non-negative v < 2^62 via the
    * Mersenne fold (p = 2^31 − 1, so v ≡ (v & p) + (v >>> 31) mod p):
    * two shift-adds plus a conditional subtract instead of a 64-bit
    * division. The minhash inner loop pays this k times per set
    * element — at the 5M-doc probe that is ~10^11 reductions across
    * the signature family, and the division was the loop's dominant
    * cost. Bit-identical to `%` by the Mersenne identity (the fold can
    * land on exactly p, which the final conditional maps to 0, i.e.
    * v ≡ 0 mod p), so every committed signature, digest, band, and
    * oracle replay is unchanged.
    */
  @inline private def modMersenne31(v: Long): Long = {
    var y = (v & MinhashPrime) + (v >>> 31)
    y = (y & MinhashPrime) + (y >>> 31)
    if (y >= MinhashPrime) y - MinhashPrime else y
  }

  private val coeffCache =
    new java.util.concurrent.ConcurrentHashMap[(Int, Long), (Array[Long], Array[Long])]()
  private def coeffs(k: Int, seed: Long): (Array[Long], Array[Long]) =
    coeffCache.computeIfAbsent((k, seed), { key =>
      val rnd = new java.util.Random(key._2)
      val a = Array.fill(key._1)(1L + rnd.nextInt(Int.MaxValue - 1).toLong)
      val b = Array.fill(key._1)(rnd.nextInt(Int.MaxValue).toLong)
      (a, b)
    })

  /** k-permutation MinHash signature over char n-gram shingles, one pass
    * over the UTF-8 bytes (rolling shingle hash, k min-updates per
    * shingle). Duplicate shingles are harmless: min() over a multiset
    * equals min() over its set.
    */
  def minhashSig(s: UTF8String, n: Int, k: Int, seed: Long): ArrayData = {
    val (as, bs) = coeffs(k, seed)
    val mins = Array.fill(k)(Long.MaxValue)
    val bytes = s.getBytes
    val len = bytes.length
    var bPowN = 1L
    var j = 0
    while (j < n) { bPowN *= 1000003L; j += 1 }
    var h = 0L
    var i = 0
    while (i < len) {
      h = h * 1000003L + (bytes(i) & 0xffL)
      if (i >= n) h -= (bytes(i - n) & 0xffL) * bPowN
      if (i >= n - 1 || i == len - 1) { // short texts: one whole-text shingle
        val x = modMersenne31(mix64(h) & 0x7fffffffL)
        var p = 0
        while (p < k) {
          val v = modMersenne31(as(p) * x + bs(p))
          if (v < mins(p)) mins(p) = v
          p += 1
        }
      }
      i += 1
    }
    new GenericArrayData(mins)
  }

  /** k-permutation MinHash signature over an ALREADY-HASHED element
    * array (e.g. `gram_hashes64` output): one pass over the longs, k
    * min-updates per element. Estimates the Jaccard of exactly the set
    * the caller holds — no re-tokenization, so a pipeline that already
    * computed per-doc gram arrays gets its pre-verify estimate at
    * O(|ga|·k) long ops instead of a second text scan. Duplicate
    * elements are harmless (min over a multiset == min over its set).
    */
  def minhashSigL(ga: ArrayData, k: Int, seed: Long): ArrayData = {
    val (as, bs) = coeffs(k, seed)
    val mins = Array.fill(k)(Long.MaxValue)
    val n = ga.numElements()
    var i = 0
    while (i < n) {
      val x = modMersenne31(mix64(ga.getLong(i)) & 0x7fffffffL)
      var p = 0
      while (p < k) {
        val v = modMersenne31(as(p) * x + bs(p))
        if (v < mins(p)) mins(p) = v
        p += 1
      }
      i += 1
    }
    new GenericArrayData(mins)
  }

  /** Robust-winnowing anchor selection over a per-position hash array
    * (Schleimer/Wilkerson/Aiken, "Winnowing: Local Algorithms for
    * Document Fingerprinting" — public literature): for every window of
    * `w` consecutive positions, select the RIGHTMOST minimal hash;
    * return the distinct selected (position, hash) pairs in order.
    *
    * The selection is a pure function of window CONTENT, so two
    * documents sharing a run of ≥ w consecutive equal hashes select at
    * least one anchor at the same relative offset — the guarantee that
    * makes an anchors-only equi-join complete for spans of ≥
    * (gramSize + w − 1) characters while carrying ~1/w of the
    * positions. Output density: exactly one anchor per window, adjacent
    * windows usually share theirs.
    */
  def winnowAnchors(hashes: ArrayData, w: Int): ArrayData = {
    val n = hashes.numElements()
    if (n == 0) return new GenericArrayData(Array.empty[Any])
    val win = math.min(w, n)
    val out = new scala.collection.mutable.ArrayBuffer[Any]()
    var lastSel = -1
    var i = 0
    while (i + win <= n) {
      // rightmost minimum of hashes[i .. i+win-1]
      var best = i
      var j = i + 1
      while (j < i + win) {
        if (hashes.getLong(j) <= hashes.getLong(best)) best = j
        j += 1
      }
      if (best != lastSel) {
        out += new GenericInternalRow(
          Array[Any](best, hashes.getLong(best)))
        lastSel = best
      }
      i += 1
    }
    new GenericArrayData(out.toArray)
  }

  /** Every pair of a BOUNDED per-key item set (long elements),
    * enumerated row-locally as struct rows — the basket-pair kernel
    * behind q_copurchase / q_khop (r16). `directed = false` expects a
    * sorted-distinct array and emits (a, b) with a < b in array order;
    * `directed = true` emits both orientations of every x ≠ y pair.
    * Replaces the nested `transform`/`filter` lambda form: every
    * HigherOrderFunction is CodegenFallback (interpreted, one closure
    * allocation per element per row — the r11 zip_with lesson), which
    * benched the khop pair scan at 3× the self-join's cpu on a
    * one-shot run. One tight loop, zero per-element closures, stays
    * inside the WholeStageCodegen span.
    */
  def basketPairs(items: ArrayData, directed: Boolean): ArrayData = {
    val n = items.numElements()
    if (n < 2) return new GenericArrayData(Array.empty[Any])
    val m = n * (n - 1)
    val out = new Array[Any](if (directed) m else m / 2)
    var k = 0
    var i = 0
    while (i < n) {
      val x = items.getLong(i)
      var j = if (directed) 0 else i + 1
      while (j < n) {
        if (directed && j == i) { j += 1 }
        else {
          out(k) = new GenericInternalRow(Array[Any](x, items.getLong(j)))
          k += 1
          j += 1
        }
      }
      i += 1
    }
    new GenericArrayData(out)
  }

  /** Longest run of equal code points between two strings along one
    * alignment diagonal, scanned over a bounded char window — the exact
    * span measurement behind [[graft.ops.Dedup.sharedSubstringSpans]].
    *
    * `packed` carries (d, lo, hi): d = pa − pb (the diagonal), lo/hi =
    * first/last matching anchor gram position (1-based, code-point
    * indexed) — packed into one long so the expression stays a ternary
    * (Catalyst has no 5-ary codegen base; see [[LongestCommonRun]]).
    * The scan window [lo − w + 1, hi + m + w − 2] is the provable
    * extent of any span containing those anchors (first/last anchor
    * each sit within w − 1 gram positions of the span's ends). Hash
    * collisions can only ADD scan windows — equality here is on real
    * code points, so a collision can neither fabricate nor extend a
    * span. ASCII fast path compares bytes; otherwise code points.
    */
  def longestCommonRun(
      ta: UTF8String, tb: UTF8String, packed: Long, w: Int, m: Int): Int = {
    val d = ((packed >> 42) & 0x1fffffL).toInt - (1 << 20)
    val lo = ((packed >> 21) & 0x1fffffL).toInt
    val hi = (packed & 0x1fffffL).toInt
    val ascii = ta.numBytes == ta.numChars && tb.numBytes == tb.numChars
    val (ca, cb): (Array[Int], Array[Int]) =
      if (ascii) (null, null)
      else (ta.toString.codePoints().toArray, tb.toString.codePoints().toArray)
    val lenA = if (ascii) ta.numBytes else ca.length
    val lenB = if (ascii) tb.numBytes else cb.length
    // 1-based a-side char positions; b-side is a − d
    var a = math.max(math.max(1, lo - w + 1), d + 1)
    val aEnd = math.min(math.min(lenA, lenB + d), hi + m + w - 2)
    var best = 0
    var run = 0
    while (a <= aEnd) {
      val same =
        if (ascii) ta.getByte(a - 1) == tb.getByte(a - d - 1)
        else ca(a - 1) == cb(a - d - 1)
      if (same) { run += 1; if (run > best) best = run }
      else run = 0
      a += 1
    }
    best
  }

  /** Low-byte digest of a MinHash signature: one byte per hash position
    * (the values are 31-bit universal-hash outputs, so the low byte is
    * uniform). Equality of signature values implies equality of digest
    * bytes, so [[digestAgree]] over digests is always ≥ the agreement
    * of the full signatures — a digest-based estimate cut is strictly
    * MORE permissive (false byte-collisions inflate agreement by at
    * most (1−est)/256 in expectation), never lossier. The point is
    * shuffle bytes: 64 B per row on the banding exchange vs 520 B for
    * the full 64-long signature.
    */
  def sigDigest(a: ArrayData): Array[Byte] = {
    val n = a.numElements()
    val out = new Array[Byte](n)
    var i = 0
    while (i < n) { out(i) = (a.getLong(i) & 0xffL).toByte; i += 1 }
    out
  }

  /** Agreeing-byte fraction of two [[sigDigest]] digests. */
  def digestAgree(a: Array[Byte], b: Array[Byte]): Double = {
    val n = math.min(a.length, b.length)
    if (n == 0) return 0.0
    var eq = 0
    var i = 0
    while (i < n) { if (a(i) == b(i)) eq += 1; i += 1 }
    eq.toDouble / n
  }

  /** Sorted distinct int-domain char n-gram shingle hashes — the set used
    * for exact Jaccard verification of LSH candidate pairs.
    */
  def shingleSet(s: UTF8String, n: Int): ArrayData = {
    val bytes = s.getBytes
    val len = bytes.length
    // primitive collect + sort + in-place dedup — the boxed-TreeSet
    // version spent the kernel's time on Integer allocation and
    // red-black rebalancing (~len insertions per document)
    val buf = new Array[Int](math.max(len, 1))
    var m = 0
    var bPowN = 1L
    var j = 0
    while (j < n) { bPowN *= 1000003L; j += 1 }
    var h = 0L
    var i = 0
    while (i < len) {
      h = h * 1000003L + (bytes(i) & 0xffL)
      if (i >= n) h -= (bytes(i - n) & 0xffL) * bPowN
      if (i >= n - 1 || i == len - 1) {
        buf(m) = (mix64(h) & 0x7fffffffL).toInt
        m += 1
      }
      i += 1
    }
    java.util.Arrays.sort(buf, 0, m)
    var w = 0
    var r = 0
    while (r < m) {
      if (w == 0 || buf(r) != buf(w - 1)) { buf(w) = buf(r); w += 1 }
      r += 1
    }
    new GenericArrayData(java.util.Arrays.copyOfRange(buf, 0, w))
  }

  /** Jaccard similarity of two sorted-distinct int arrays via a merge
    * walk — O(|a|+|b|), no intermediate arrays (vs array_intersect +
    * array_union which materializes both).
    */
  def jaccardSorted(a: ArrayData, b: ArrayData): Double = {
    val na = a.numElements(); val nb = b.numElements()
    if (na == 0 && nb == 0) return 1.0
    var i = 0; var j = 0; var inter = 0
    while (i < na && j < nb) {
      val x = a.getInt(i); val y = b.getInt(j)
      if (x == y) { inter += 1; i += 1; j += 1 }
      else if (x < y) i += 1
      else j += 1
    }
    inter.toDouble / (na + nb - inter).toDouble
  }

  /** [[jaccardSorted]] over sorted LONG arrays (64-bit hashed elements —
    * the 12-gram prefix-join family; the int variant serves the 32-bit
    * shingle sets).
    */
  def jaccardSortedL(a: ArrayData, b: ArrayData): Double = {
    val na = a.numElements(); val nb = b.numElements()
    if (na == 0 && nb == 0) return 1.0
    var i = 0; var j = 0; var inter = 0
    while (i < na && j < nb) {
      val x = a.getLong(i); val y = b.getLong(j)
      if (x == y) { inter += 1; i += 1; j += 1 }
      else if (x < y) i += 1
      else j += 1
    }
    inter.toDouble / (na + nb - inter).toDouble
  }

  /** Dot product of two float vectors, accumulated left-to-right in
    * double. Sequential order is part of the contract: it makes results
    * bit-stable across engines and partitionings.
    */
  def dotF(a: ArrayData, b: ArrayData): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var acc = 0.0
    var i = 0
    while (i < n) { acc += a.getFloat(i).toDouble * b.getFloat(i).toDouble; i += 1 }
    acc
  }

  def normF(a: ArrayData): Double = {
    val n = a.numElements()
    var acc = 0.0
    var i = 0
    while (i < n) { val v = a.getFloat(i).toDouble; acc += v * v; i += 1 }
    math.sqrt(acc)
  }

  def cosineF(a: ArrayData, b: ArrayData): Double = {
    val na = normF(a); val nb = normF(b)
    if (na == 0.0 || nb == 0.0) 0.0 else dotF(a, b) / (na * nb)
  }

  /** Fixed Gaussian hyperplanes for sign-LSH, memoized per
    * (numPlanes, dim, seed). Flat row-major array for cache-friendliness.
    */
  private val planeCache =
    new java.util.concurrent.ConcurrentHashMap[(Int, Int, Long), Array[Double]]()
  private def planes(numPlanes: Int, dim: Int, seed: Long): Array[Double] =
    planeCache.computeIfAbsent((numPlanes, dim, seed), { key =>
      val rnd = new java.util.Random(key._3)
      Array.fill(key._1 * key._2)(rnd.nextGaussian())
    })

  /** Johnson-Lindenstrauss random-projection sketch: the vector's dot
    * products with `sketchDim` fixed Gaussian planes (same memoized
    * planes as the sign-LSH). Angles are approximately preserved, so
    * the sketches' cosine is a cheap PRE-SCORE for the full cosine —
    * the coarse-score half of an IVF re-rank (the role PQ asymmetric
    * distance plays in a Faiss-style layout), at sketchDim/dim the
    * multiply-adds of the exact similarity.
    */
  def randProjSketch(v: ArrayData, sketchDim: Int, dim: Int, seed: Long): ArrayData = {
    val ps = planes(sketchDim, dim, seed)
    val n = math.min(v.numElements(), dim)
    val out = new Array[Float](sketchDim)
    var p = 0
    while (p < sketchDim) {
      var acc = 0.0
      val off = p * dim
      var i = 0
      while (i < n) { acc += v.getFloat(i).toDouble * ps(off + i); i += 1 }
      out(p) = acc.toFloat
      p += 1
    }
    new GenericArrayData(out)
  }

  /** Sign-bit signature of `numPlanes` random projections: vectors with
    * high cosine similarity agree on most sign bits, so equal signatures
    * are near-neighbor candidates (random-hyperplane LSH, Charikar 2002).
    *
    * r9: the projection family moved from seeded GAUSSIAN planes to
    * md5-derived RADEMACHER (±1) planes over integer-QUANTIZED
    * components, so that the whole signature is exact 64-bit integer
    * arithmetic both Spark and DuckDB can replay bit-for-bit — this is
    * what lets q_ann_lsh's candidate generation be DuckDB-oracled
    * instead of spec-only. Rademacher sign projections are a standard
    * angular-LSH family (sparse/binary variants of Charikar's SimHash,
    * cf. Achlioptas 2003 database-friendly random projections — public
    * literature); recall floors are re-asserted in SimilaritySpec.
    *
    * Portability contract (mirrored in the q_ann_lsh oracle SQL):
    * sign(p, i) = bit (MSB-first) at index i of md5("hp:<seed>:<p>:<blk>")
    * with blk = i/128, mapped {1→+1, 0→−1}; component quantization
    * q_i = floor(v_i · 2^24 + 0.5) computed in double (exact: float→
    * double is exact, ·2^24 is a power-of-2 scale, and |v_i·2^24| ≪
    * 2^52 so the +0.5 and floor are exact); bit p of the signature =
    * [Σᵢ sign(p,i)·q_i ≥ 0], an order-free integer sum.
    */
  private val radCache =
    new java.util.concurrent.ConcurrentHashMap[(Int, Int, Long), Array[Byte]]()
  private def radSigns(numPlanes: Int, dim: Int, seed: Long): Array[Byte] =
    radCache.computeIfAbsent((numPlanes, dim, seed), { key =>
      val (np, d, s) = key
      val out = new Array[Byte](np * d)
      var p = 0
      while (p < np) {
        var blk = 0
        while (blk * 128 < d) {
          val digest = java.security.MessageDigest.getInstance("MD5")
            .digest(s"hp:$s:$p:$blk"
              .getBytes(java.nio.charset.StandardCharsets.UTF_8))
          val lim = math.min(128, d - blk * 128)
          var i = 0
          while (i < lim) {
            val bit = (digest(i >>> 3) >> (7 - (i & 7))) & 1
            out(p * d + blk * 128 + i) = if (bit == 1) 1 else -1
            i += 1
          }
          blk += 1
        }
        p += 1
      }
      out
    })

  def hyperplaneSig(v: ArrayData, numPlanes: Int, dim: Int, seed: Long): Long = {
    val ss = radSigns(numPlanes, dim, seed)
    val n = math.min(v.numElements(), dim)
    // quantize once per row, not once per (plane, component)
    val q = new Array[Long](n)
    var i = 0
    while (i < n) {
      q(i) = math.floor(v.getFloat(i).toDouble * 16777216.0 + 0.5).toLong
      i += 1
    }
    var sig = 0L
    var p = 0
    while (p < numPlanes) {
      var acc = 0L
      val off = p * dim
      i = 0
      while (i < n) { acc += ss(off + i) * q(i); i += 1 }
      if (acc >= 0L) sig |= (1L << p)
      p += 1
    }
    sig
  }

  /** Cosine of two integer-QUANTIZED vectors (long arrays): dot and
    * norms are order-free exact int64 sums (all < 2^53, so the final
    * doubles are exact), the quotient/sqrts are single IEEE-correctly-
    * rounded ops — the result is bit-identical on ANY engine that
    * computes `dot / (sqrt(na) * sqrt(nb))` over the same integers.
    * This is what makes semDeDup's τ-pair and centroid-similarity
    * comparisons DuckDB-replayable (see Dedup.semDeDup).
    */
  def cosineQ(a: ArrayData, b: ArrayData): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var dot = 0L; var na = 0L; var nb = 0L
    var i = 0
    while (i < n) {
      val x = a.getLong(i); val y = b.getLong(i)
      dot += x * y; na += x * x; nb += y * y
      i += 1
    }
    if (na == 0L || nb == 0L) 0.0
    else dot.toDouble / (math.sqrt(na.toDouble) * math.sqrt(nb.toDouble))
  }

  /** Nearest-centroid assignment over a flat k×dim codebook of
    * quantized components: argmin_j Σᵢ (qᵢ − c_{j,i})², ties to the
    * smallest j. All-int64 arithmetic (components ≲ 2^24 ⇒ per-cell
    * distance ≤ 64·2^50 ≪ 2^63) — the Lloyd assignment both engines
    * replay exactly. Codebook rides as a codegen reference object
    * (the PqEncode pattern); one pass, no n×k row explosion.
    */
  def argminCell(v: ArrayData, codebook: Array[Long], k: Int, dim: Int): Int = {
    val n = math.min(v.numElements(), dim)
    var best = Long.MaxValue
    var cell = 0
    var j = 0
    while (j < k) {
      var d = 0L
      val off = j * dim
      var i = 0
      while (i < n) {
        val diff = v.getLong(i) - codebook(off + i)
        d += diff * diff
        i += 1
      }
      if (d < best) { best = d; cell = j }
      j += 1
    }
    cell
  }

  /** Exact integer squared L2 distance of two quantized long-array
    * vectors — the distance the portable IVF cell ranking and radius
    * statistic are built from. Same overflow envelope as [[argminCell]]
    * (components ≲ 2^21 ⇒ sums ≪ 2^63); order-free integer arithmetic,
    * so DuckDB's `sum((a − b)²)` replays it bit-for-bit.
    */
  def dist2Q(a: ArrayData, b: ArrayData): Long = {
    val n = math.min(a.numElements(), b.numElements())
    var d = 0L
    var i = 0
    while (i < n) {
      val diff = a.getLong(i) - b.getLong(i)
      d += diff * diff
      i += 1
    }
    d
  }

  /** Integer Rademacher projection sketch: the PORTABLE variant of
    * [[randProjSketch]]. sketch[p] = Σᵢ sign(p,i)·qᵢ with the SAME
    * md5-derived ±1 family as [[hyperplaneSig]] ("hp:<seed>:<p>:<blk>",
    * MSB-first bits, {1→+1, 0→−1}) and components quantized
    * floor(vᵢ·2^16 + 0.5) — a coarser scale than the signature's 2^24
    * so that a 32-dim sketch COSINE stays inside exact int64/double
    * range (unit vectors: |q| ≤ 2^15.2, sketch component ≤ 2^21.2,
    * 32-term dot ≤ 2^48 < 2^53). Sketch cosines via [[cosineQ]] are
    * then bit-identical cross-engine, which is what lets the IVF
    * shortlist stage be DuckDB-replayed instead of spec-only.
    * JL-style Rademacher projections: Achlioptas 2003 (public).
    */
  def radSketchQ(v: ArrayData, sketchDim: Int, dim: Int, seed: Long): ArrayData = {
    val ss = radSigns(sketchDim, dim, seed)
    val n = math.min(v.numElements(), dim)
    val q = new Array[Long](n)
    var i = 0
    while (i < n) {
      q(i) = math.floor(v.getFloat(i).toDouble * 65536.0 + 0.5).toLong
      i += 1
    }
    val out = new Array[Long](sketchDim)
    var p = 0
    while (p < sketchDim) {
      var acc = 0L
      val off = p * dim
      i = 0
      while (i < n) { acc += ss(off + i) * q(i); i += 1 }
      out(p) = acc
      p += 1
    }
    new GenericArrayData(out)
  }

  /** Intersection sizes of one document's shingle set against a fixed
    * family of (small) eval shingle sets — the fused kernel behind
    * benchmark decontamination. One pass computes the doc's sorted
    * shingle array, then one sorted-merge walk per eval set. Compared
    * to explode-shingles + broadcast-join, nothing corpus×shingles ever
    * materializes: the scan emits ONE row per document.
    */
  def containmentCounts(
      s: UTF8String, n: Int, evalSets: Array[Array[Int]]): ArrayData = {
    val doc = shingleSet(s, n)
    val nd = doc.numElements()
    val out = new Array[Int](evalSets.length)
    var e = 0
    while (e < evalSets.length) {
      val ev = evalSets(e)
      var i = 0; var j = 0; var inter = 0
      while (i < nd && j < ev.length) {
        val x = doc.getInt(i); val y = ev(j)
        if (x == y) { inter += 1; i += 1; j += 1 }
        else if (x < y) i += 1
        else j += 1
      }
      out(e) = inter
      e += 1
    }
    new GenericArrayData(out)
  }

  // ----------------------------------- product quantization (portable)
  // Codebook layout everywhere: flat row-major `[(s*k + j)*dsub + d]`
  // over subspace s, codeword j, component d, trained by
  // [[graft.ops.Similarity.fitPqCodebookQ]]'s integer Lloyd. Output of
  // an encode: m small ints — the 32x-compressed stored form of the
  // vector (8 codes vs 64 floats at the default geometry).

  /** Unit-sphere integer quantization — the shared front door of every
    * PORTABLE PQ kernel (r9): q_i = floor(v_i·2^20 + 0.5) (exact:
    * float→double is exact, ·2^20 is a power-of-2 scale), n2 = Σ q_i²
    * (exact int64), then nq_i = floor(q_i·2^20/√n2 + 0.5). q_i·2^20 is
    * exact in double (≪ 2^52), √n2 and the division are single
    * correctly-rounded IEEE ops — so nq replays bit-for-bit in any
    * engine computing the same formula (DuckDB:
    * `floor(q*1048576.0/sqrt(n2)+0.5)`). The zero vector maps to
    * zeros, not NaN. Output ≈ the unit vector at scale 2^20.
    */
  /** Elementwise int64 difference (see [[SubQ]]). Length = min of the
    * two arrays, matching zip_with-on-equal-length semantics for the
    * equal-dim vectors this is used on.
    */
  def subQ(a: ArrayData, b: ArrayData): ArrayData = {
    val n = math.min(a.numElements(), b.numElements())
    val out = new Array[Long](n)
    var i = 0
    while (i < n) { out(i) = a.getLong(i) - b.getLong(i); i += 1 }
    new GenericArrayData(out)
  }

  /** Plain 2^20 integer quantization (no normalization): the exact
    * arithmetic of the Catalyst HOF `transform(v, x ->
    * cast(floor(cast(x as double)·1048576.0 + 0.5) as bigint))` —
    * float→double exact, power-of-2 scale, Math.floor — in one
    * codegen-friendly kernel call (see [[Quantize20]]).
    */
  def quantize20(v: ArrayData): ArrayData = {
    val n = v.numElements()
    val out = new Array[Long](n)
    var i = 0
    while (i < n) {
      out(i) = math.floor(v.getFloat(i).toDouble * 1048576.0 + 0.5).toLong
      i += 1
    }
    new GenericArrayData(out)
  }

  def quantNorm20(v: ArrayData): ArrayData = {
    val n = v.numElements()
    val q = new Array[Long](n)
    var n2 = 0L
    var i = 0
    while (i < n) {
      val qi = math.floor(v.getFloat(i).toDouble * 1048576.0 + 0.5).toLong
      q(i) = qi
      n2 += qi * qi
      i += 1
    }
    if (n2 == 0L) new GenericArrayData(new Array[Long](n))
    else {
      val s = math.sqrt(n2.toDouble)
      val out = new Array[Long](n)
      i = 0
      while (i < n) {
        out(i) = math.floor(q(i).toDouble * 1048576.0 / s + 0.5).toLong
        i += 1
      }
      new GenericArrayData(out)
    }
  }

  /** PORTABLE PQ encode over integer-quantized vectors: per subspace
    * the exact-int64 argmin codeword, ties to the smallest j (strict
    * `<` while scanning j ascending — the same total order DuckDB's
    * `min(dist·k + j)` encoding replays). Distances are exact
    * (components ≲ 2^22 ⇒ per-subspace d2 ≤ dsub·2^44 ≪ 2^63).
    */
  def pqEncodeQ(v: ArrayData, cb: Array[Long], m: Int, k: Int): ArrayData = {
    val dim = v.numElements()
    val dsub = cb.length / (m * k)
    val codes = new Array[Int](m)
    var s = 0
    while (s < m) {
      var best = Long.MaxValue
      var bj = 0
      var j = 0
      while (j < k) {
        val off = (s * k + j) * dsub
        var dist = 0L
        var d = 0
        while (d < dsub) {
          val idx = s * dsub + d
          val x = if (idx < dim) v.getLong(idx) else 0L
          val diff = x - cb(off + d)
          dist += diff * diff
          d += 1
        }
        if (dist < best) { best = dist; bj = j }
        j += 1
      }
      codes(s) = bj
      s += 1
    }
    new GenericArrayData(codes)
  }

  /** PORTABLE PQ asymmetric-distance table for one query:
    * `table[s*k + j]` = exact int64 inner product of the quantized
    * query's subvector s with codeword (s, j) — order-free integer
    * sums DuckDB replays with `sum(x*c)`. ADC score =
    * Σ_s table[s*k + codes[s]] ∝ dot(q, decode(codes)).
    */
  def pqTableQ(q: ArrayData, cb: Array[Long], m: Int, k: Int): ArrayData = {
    val dim = q.numElements()
    val dsub = cb.length / (m * k)
    val out = new Array[Long](m * k)
    var s = 0
    while (s < m) {
      var j = 0
      while (j < k) {
        val off = (s * k + j) * dsub
        var acc = 0L
        var d = 0
        while (d < dsub) {
          val idx = s * dsub + d
          val x = if (idx < dim) q.getLong(idx) else 0L
          acc += x * cb(off + d)
          d += 1
        }
        out(s * k + j) = acc
        j += 1
      }
      s += 1
    }
    new GenericArrayData(out)
  }

  /** Integer ADC score: m table lookups + exact int64 adds — dim/m×
    * fewer flops than the exact cosine, over an m-byte code instead of
    * a 256-byte vector, and bit-identical in any engine (≤ m·2^45 ≪
    * 2^53, so even a double cast downstream stays exact).
    */
  def pqAdcScoreQ(codes: ArrayData, table: ArrayData, k: Int): Long = {
    val m = codes.numElements()
    var acc = 0L
    var s = 0
    while (s < m) { acc += table.getLong(s * k + codes.getInt(s)); s += 1 }
    acc
  }

  /** Exact int64 dot product of two quantized long-array vectors — the
    * dot(q, centroid) half of the residual-ADC decomposition (see
    * Similarity.ivfPqTopK). Order-free integer sums, DuckDB-replayable.
    */
  def dotQ(a: ArrayData, b: ArrayData): Long = {
    val n = math.min(a.numElements(), b.numElements())
    var acc = 0L
    var i = 0
    while (i < n) { acc += a.getLong(i) * b.getLong(i); i += 1 }
    acc
  }
}

/** `rolling_hash(text)`: 64-bit content fingerprint. A cross-engine-stable
  * alternative to md5 when only 8 bytes of key are needed (half the
  * shuffle width of a hex md5 string).
  */
case class RollingHash(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def prettyName: String = "rolling_hash"
  override def nullSafeEval(v: Any): Any =
    HashKernels.rollingHash(v.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.HashKernels.rollingHash($c)")
  override protected def withNewChildInternal(c: Expression): RollingHash = copy(c)
}

/** `simhash64(text, n)`: 64-bit SimHash over char n-gram shingles.
  * Near-duplicate texts land within a small hamming distance, so
  * band-bucketing on 16-bit chunks finds candidates without any O(n²)
  * comparison (see [[graft.ops.Dedup.simhashNearDupPairs]]).
  */
case class SimHash64(child: Expression, n: Int) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def prettyName: String = "simhash64"
  override def nullSafeEval(v: Any): Any =
    HashKernels.simHash(v.asInstanceOf[UTF8String], n)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.HashKernels.simHash($c, $n)")
  override protected def withNewChildInternal(c: Expression): SimHash64 = copy(child = c)
}

/** `minhash_sig(text, n, k, seed)`: k-long MinHash signature, one pass. */
case class MinHashSig(child: Expression, n: Int, k: Int, seed: Long)
    extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "minhash_sig"
  override def nullSafeEval(v: Any): Any =
    HashKernels.minhashSig(v.asInstanceOf[UTF8String], n, k, seed)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.HashKernels.minhashSig($c, $n, $k, ${seed}L)")
  override protected def withNewChildInternal(c: Expression): MinHashSig = copy(child = c)
}

/** `minhash_sig_l(long_array, k, seed)`: k-long MinHash signature over
  * pre-hashed set elements (see [[HashKernels.minhashSigL]]).
  */
case class MinHashSigL(child: Expression, k: Int, seed: Long)
    extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "minhash_sig_l"
  override def nullSafeEval(v: Any): Any =
    HashKernels.minhashSigL(v.asInstanceOf[ArrayData], k, seed)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.HashKernels.minhashSigL($c, $k, ${seed}L)")
  override protected def withNewChildInternal(c: Expression): MinHashSigL = copy(child = c)
}

/** `winnow_anchors(hash_array, w)`: robust-winnowing anchor positions
  * (see [[HashKernels.winnowAnchors]]) as `array<struct<p:int,h:long>>`.
  */
/** `basket_pairs(items, directed)` — see [[HashKernels.basketPairs]]. */
case class BasketPairs(child: Expression, directed: Boolean) extends UnaryExpression {
  override def dataType: DataType = ArrayType(
    StructType(Seq(StructField("a", LongType, nullable = false),
      StructField("b", LongType, nullable = false))), containsNull = false)
  override def prettyName: String = "basket_pairs"
  override def nullSafeEval(v: Any): Any =
    HashKernels.basketPairs(v.asInstanceOf[ArrayData], directed)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.HashKernels.basketPairs($c, $directed)")
  override protected def withNewChildInternal(c: Expression): BasketPairs = copy(child = c)
}

case class WinnowAnchors(child: Expression, w: Int) extends UnaryExpression {
  override def dataType: DataType = ArrayType(
    StructType(Seq(StructField("p", IntegerType, nullable = false),
      StructField("h", LongType, nullable = false))), containsNull = false)
  override def prettyName: String = "winnow_anchors"
  override def nullSafeEval(v: Any): Any =
    HashKernels.winnowAnchors(v.asInstanceOf[ArrayData], w)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.HashKernels.winnowAnchors($c, $w)")
  override protected def withNewChildInternal(c: Expression): WinnowAnchors = copy(child = c)
}

/** `longest_common_run(ta, tb, packed_dlohi)`: exact longest equal
  * code-point run along one diagonal within the anchors' provable span
  * window (see [[HashKernels.longestCommonRun]]). The (d, lo, hi)
  * triple rides one packed long so the expression fits Catalyst's
  * ternary codegen base.
  */
case class LongestCommonRun(first: Expression, second: Expression,
    third: Expression, w: Int, m: Int) extends TernaryExpression {
  override def dataType: DataType = IntegerType
  override def prettyName: String = "longest_common_run"
  override def nullSafeEval(a: Any, b: Any, p: Any): Any =
    HashKernels.longestCommonRun(a.asInstanceOf[UTF8String],
      b.asInstanceOf[UTF8String], p.asInstanceOf[Long], w, m)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b, p) =>
      s"graft.functions.HashKernels.longestCommonRun($a, $b, $p, $w, $m)")
  override protected def withNewChildrenInternal(
      f: Expression, s: Expression, t: Expression): LongestCommonRun =
    copy(first = f, second = s, third = t)
}

/** `sig_digest(sig)`: low-byte digest of a MinHash signature (binary,
  * one byte per position — see [[HashKernels.sigDigest]]).
  */
case class SigDigest(child: Expression) extends UnaryExpression {
  override def dataType: DataType = BinaryType
  override def prettyName: String = "sig_digest"
  override def nullSafeEval(v: Any): Any =
    HashKernels.sigDigest(v.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.HashKernels.sigDigest($c)")
  override protected def withNewChildInternal(c: Expression): SigDigest = copy(child = c)
}

/** `digest_agree(a, b)`: agreeing-byte fraction of two sig_digest
  * digests (the shuffle-compact MinHash agreement estimator) — the
  * near-dup funnel's pre-verify cut: banding recalls far below the
  * verify threshold, so the raw candidates of a boilerplate-heavy
  * corpus are mostly ~0.2-Jaccard pairs, and 64 byte compares per pair
  * drop them before any shingle set is built.
  */
case class DigestAgree(left: Expression, right: Expression) extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def prettyName: String = "digest_agree"
  override def nullSafeEval(a: Any, b: Any): Any =
    HashKernels.digestAgree(a.asInstanceOf[Array[Byte]], b.asInstanceOf[Array[Byte]])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      (a, b) => s"graft.functions.HashKernels.digestAgree($a, $b)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): DigestAgree =
    copy(left = l, right = r)
}

/** `shingle_set(text, n)`: sorted distinct int shingle hashes. */
case class ShingleSet(child: Expression, n: Int) extends UnaryExpression {
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def prettyName: String = "shingle_set"
  override def nullSafeEval(v: Any): Any =
    HashKernels.shingleSet(v.asInstanceOf[UTF8String], n)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.HashKernels.shingleSet($c, $n)")
  override protected def withNewChildInternal(c: Expression): ShingleSet = copy(child = c)
}

/** `jaccard_sorted(a, b)`: Jaccard over sorted-distinct int arrays. */
case class JaccardSorted(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def prettyName: String = "jaccard_sorted"
  override def nullSafeEval(a: Any, b: Any): Any =
    HashKernels.jaccardSorted(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      (a, b) => s"graft.functions.HashKernels.jaccardSorted($a, $b)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): JaccardSorted =
    copy(left = l, right = r)
}

/** `jaccard_sorted_l(a, b)`: merge-walk Jaccard over sorted long arrays
  * (zero allocation per comparison — the verify kernel of the exact
  * prefix-filter similarity join).
  */
case class JaccardSortedL(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def prettyName: String = "jaccard_sorted_l"
  override def nullSafeEval(a: Any, b: Any): Any =
    HashKernels.jaccardSortedL(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      (a, b) => s"graft.functions.HashKernels.jaccardSortedL($a, $b)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): JaccardSortedL =
    copy(left = l, right = r)
}

/** `cosine_f(a, b)` / `dot_f(a, b)`: float-vector similarity in double
  * precision, sequential accumulation (bit-stable).
  */
case class CosineF(left: Expression, right: Expression) extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def prettyName: String = "cosine_f"
  override def nullSafeEval(a: Any, b: Any): Any =
    HashKernels.cosineF(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.HashKernels.cosineF($a, $b)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): CosineF =
    copy(left = l, right = r)
}

/** `cosine_q(a, b)`: cosine of integer-quantized long-array vectors —
  * bit-identical cross-engine (see HashKernels.cosineQ).
  */
case class CosineQ(left: Expression, right: Expression) extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def prettyName: String = "cosine_q"
  override def nullSafeEval(a: Any, b: Any): Any =
    HashKernels.cosineQ(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.HashKernels.cosineQ($a, $b)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): CosineQ =
    copy(left = l, right = r)
}

/** `argmin_cell(qv)`: nearest-centroid id over a quantized codebook
  * riding as a codegen reference object (the PqEncode pattern).
  */
case class ArgMinCell(child: Expression, codebook: Array[Long], k: Int, dim: Int)
    extends UnaryExpression {
  override def dataType: DataType = IntegerType
  override def prettyName: String = "argmin_cell"
  override def nullSafeEval(v: Any): Any =
    HashKernels.argminCell(v.asInstanceOf[ArrayData], codebook, k, dim)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("lloydCodebook", codebook, "long[]")
    defineCodeGen(ctx, ev,
      c => s"graft.functions.HashKernels.argminCell($c, $ref, $k, $dim)")
  }
  override protected def withNewChildInternal(c: Expression): ArgMinCell =
    copy(child = c)
}

case class DotF(left: Expression, right: Expression) extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def prettyName: String = "dot_f"
  override def nullSafeEval(a: Any, b: Any): Any =
    HashKernels.dotF(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.HashKernels.dotF($a, $b)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): DotF =
    copy(left = l, right = r)
}

/** `dist2_q(a, b)`: exact integer squared L2 distance of quantized
  * long-array vectors (see HashKernels.dist2Q).
  */
case class Dist2Q(left: Expression, right: Expression) extends BinaryExpression {
  override def dataType: DataType = LongType
  override def prettyName: String = "dist2_q"
  override def nullSafeEval(a: Any, b: Any): Any =
    HashKernels.dist2Q(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.HashKernels.dist2Q($a, $b)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Dist2Q =
    copy(left = l, right = r)
}

/** `rad_sketch_q(vec, sketchDim, dim, seed)`: integer Rademacher
  * projection sketch — the DuckDB-replayable JL sketch (see
  * HashKernels.radSketchQ's portability contract).
  */
case class RadSketchQ(child: Expression, sketchDim: Int, dim: Int, seed: Long)
    extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "rad_sketch_q"
  override def nullSafeEval(v: Any): Any =
    HashKernels.radSketchQ(v.asInstanceOf[ArrayData], sketchDim, dim, seed)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.HashKernels.radSketchQ($c, $sketchDim, $dim, ${seed}L)")
  override protected def withNewChildInternal(c: Expression): RadSketchQ = copy(child = c)
}

/** `rand_proj_sketch(vec, sketchDim, dim, seed)`: JL projection sketch
  * (float array) for coarse pre-scoring before an exact re-rank.
  */
case class RandProjSketch(child: Expression, sketchDim: Int, dim: Int, seed: Long)
    extends UnaryExpression {
  override def dataType: DataType = ArrayType(FloatType, containsNull = false)
  override def prettyName: String = "rand_proj_sketch"
  override def nullSafeEval(v: Any): Any =
    HashKernels.randProjSketch(v.asInstanceOf[ArrayData], sketchDim, dim, seed)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.HashKernels.randProjSketch($c, $sketchDim, $dim, ${seed}L)")
  override protected def withNewChildInternal(c: Expression): RandProjSketch = copy(child = c)
}

/** `hyperplane_sig(vec, numPlanes, dim, seed)`: sign-LSH bucket key. */
case class HyperplaneSig(child: Expression, numPlanes: Int, dim: Int, seed: Long)
    extends UnaryExpression {
  override def dataType: DataType = LongType
  override def prettyName: String = "hyperplane_sig"
  override def nullSafeEval(v: Any): Any =
    HashKernels.hyperplaneSig(v.asInstanceOf[ArrayData], numPlanes, dim, seed)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.HashKernels.hyperplaneSig($c, $numPlanes, $dim, ${seed}L)")
  override protected def withNewChildInternal(c: Expression): HyperplaneSig = copy(child = c)
}

/** `containment_counts(text)`: per-document intersection sizes against a
  * fixed family of eval shingle sets. The eval sets ride inside the
  * expression as a reference object (same technique as the PQ codebook)
  * — the corpus scan emits one int-array row per document instead of
  * one row per (document, shingle), so the fused plan never shuffles or
  * joins anything corpus-sized.
  */
case class ContainmentCounts(child: Expression, n: Int, evalSets: Array[Array[Int]])
    extends UnaryExpression {
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def prettyName: String = "containment_counts"
  override def nullSafeEval(v: Any): Any =
    HashKernels.containmentCounts(v.asInstanceOf[UTF8String], n, evalSets)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("evalShingleSets", evalSets, "int[][]")
    defineCodeGen(ctx, ev,
      c => s"graft.functions.HashKernels.containmentCounts($c, $n, $ref)")
  }
  override protected def withNewChildInternal(c: Expression): ContainmentCounts =
    copy(child = c)
}

/** `quantize20(vec)`: plain (un-normalized) integer quantization
  * q_i = floor(v_i·2^20 + 0.5) of a float vector — bit-identical to
  * the `transform(v, x -> floor(cast(x as double)·1048576.0 + 0.5))`
  * HOF it replaces on the IVF/semdedup front halves. The HOF form is
  * CodegenFallback (every HigherOrderFunction is), which dropped the
  * corpus-scan projection out of whole-stage codegen into per-element
  * interpreted eval — measured ~100 µs/row at dim 64 vs ~1 µs here,
  * ×3 consumer passes of the unstaged cells frame = the dominant cost
  * of q_ann_ivf at the 2M-vector probe.
  */
case class Quantize20(child: Expression) extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "quantize20"
  override def nullSafeEval(v: Any): Any =
    HashKernels.quantize20(v.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.HashKernels.quantize20($c)")
  override protected def withNewChildInternal(c: Expression): Quantize20 = copy(child = c)
}

/** `sub_q(a, b)`: elementwise int64 difference of two long arrays —
  * the PQ residual (nq − centroid). Replaces `zip_with(a, b, _-_)`,
  * which (like every HigherOrderFunction) is CodegenFallback and was
  * evaluated interpreted per corpus row on the IVF+PQ index path.
  */
case class SubQ(left: Expression, right: Expression) extends BinaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "sub_q"
  override def nullSafeEval(a: Any, b: Any): Any =
    HashKernels.subQ(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.HashKernels.subQ($a, $b)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): SubQ =
    copy(left = l, right = r)
}

/** `quant_norm20(vec)`: unit-sphere integer quantization of a float
  * vector (see [[HashKernels.quantNorm20]]'s portability contract) —
  * the shared front door of the portable PQ / IVF+PQ kernels.
  */
case class QuantNorm20(child: Expression) extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "quant_norm20"
  override def nullSafeEval(v: Any): Any =
    HashKernels.quantNorm20(v.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.HashKernels.quantNorm20($c)")
  override protected def withNewChildInternal(c: Expression): QuantNorm20 = copy(child = c)
}

/** `pq_encode_q(nq)`: portable product-quantization codes for an
  * integer-quantized vector. The trained codebook rides inside the
  * expression (shipped to executors via `addReferenceObj` — the
  * codegen analog of a broadcast literal); geometry (m subspaces × k
  * codewords) is compile-time constant so the generated loop bounds
  * are literals.
  */
case class PqEncodeQ(child: Expression, codebook: Array[Long], m: Int, k: Int)
    extends UnaryExpression {
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def prettyName: String = "pq_encode_q"
  override def nullSafeEval(v: Any): Any =
    HashKernels.pqEncodeQ(v.asInstanceOf[ArrayData], codebook, m, k)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cbRef = ctx.addReferenceObj("pqCodebook", codebook, "long[]")
    defineCodeGen(ctx, ev,
      c => s"graft.functions.HashKernels.pqEncodeQ($c, $cbRef, $m, $k)")
  }
  override protected def withNewChildInternal(c: Expression): PqEncodeQ = copy(child = c)
}

/** `pq_table_q(nq)`: per-query integer ADC lookup table (m×k exact
  * int64 inner products).
  */
case class PqTableQ(child: Expression, codebook: Array[Long], m: Int, k: Int)
    extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "pq_table_q"
  override def nullSafeEval(v: Any): Any =
    HashKernels.pqTableQ(v.asInstanceOf[ArrayData], codebook, m, k)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cbRef = ctx.addReferenceObj("pqCodebook", codebook, "long[]")
    defineCodeGen(ctx, ev,
      c => s"graft.functions.HashKernels.pqTableQ($c, $cbRef, $m, $k)")
  }
  override protected def withNewChildInternal(c: Expression): PqTableQ = copy(child = c)
}

/** `pq_adc_score_q(codes, table)`: exact-integer ADC score via m table
  * lookups — the portable compressed-domain ranking key.
  */
case class PqAdcScoreQ(left: Expression, right: Expression, k: Int)
    extends BinaryExpression {
  override def dataType: DataType = LongType
  override def prettyName: String = "pq_adc_score_q"
  override def nullSafeEval(a: Any, b: Any): Any =
    HashKernels.pqAdcScoreQ(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData], k)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      (a, b) => s"graft.functions.HashKernels.pqAdcScoreQ($a, $b, $k)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): PqAdcScoreQ =
    copy(left = l, right = r)
}

/** `dot_q(a, b)`: exact int64 dot product of quantized long-array
  * vectors (see [[HashKernels.dotQ]]).
  */
case class DotQ(left: Expression, right: Expression) extends BinaryExpression {
  override def dataType: DataType = LongType
  override def prettyName: String = "dot_q"
  override def nullSafeEval(a: Any, b: Any): Any =
    HashKernels.dotQ(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.HashKernels.dotQ($a, $b)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): DotQ =
    copy(left = l, right = r)
}

/** `gram_hashes64(text, n)`: per-position 64-bit n-gram hashes, one
  * rolling pass (see [[HashKernels.gramHashes64]]).
  */
case class GramHashes64(child: Expression, n: Int) extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "gram_hashes64"
  override def nullSafeEval(v: Any): Any =
    HashKernels.gramHashes64(v.asInstanceOf[UTF8String], n)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.HashKernels.gramHashes64($c, $n)")
  override protected def withNewChildInternal(c: Expression): GramHashes64 =
    copy(child = c)
}

/** `luhn_card_count(text)`: how many MAXIMAL runs of 13–19 ASCII
  * digits in the text pass the Luhn mod-10 checksum — the card-number
  * detector behind payment-PII auditing (ISO/IEC 7812 check digit;
  * public algorithm). Maximal-run semantics: a 20+-digit run is not a
  * candidate at all (not truncated into one), matching the
  * `[0-9]+`-then-length-filter formulation a SQL oracle uses.
  */
case class LuhnCardCount(child: Expression) extends UnaryExpression {
  override def dataType: DataType = IntegerType
  override def prettyName: String = "luhn_card_count"
  override def nullSafeEval(v: Any): Any =
    HashKernels.luhnCardCount(v.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.HashKernels.luhnCardCount($c)")
  override protected def withNewChildInternal(c: Expression): LuhnCardCount =
    copy(child = c)
}

/** Column-facing wrappers. */
object exprs {
  private def expr(c: Column): Expression = ColumnBridge.expression(c)

  def rolling_hash(c: Column): Column = ColumnBridge.column(RollingHash(expr(c)))
  def simhash64(c: Column, n: Int = 3): Column = ColumnBridge.column(SimHash64(expr(c), n))
  def minhash_sig(c: Column, n: Int, k: Int, seed: Long): Column =
    ColumnBridge.column(MinHashSig(expr(c), n, k, seed))
  def minhash_sig_l(c: Column, k: Int, seed: Long): Column =
    ColumnBridge.column(MinHashSigL(expr(c), k, seed))
  def winnow_anchors(c: Column, w: Int): Column =
    ColumnBridge.column(WinnowAnchors(expr(c), w))
  def basket_pairs(c: Column, directed: Boolean): Column =
    ColumnBridge.column(BasketPairs(expr(c), directed))
  def longest_common_run(ta: Column, tb: Column, packed: Column, w: Int, m: Int): Column =
    ColumnBridge.column(LongestCommonRun(expr(ta), expr(tb), expr(packed), w, m))
  def shingle_set(c: Column, n: Int): Column =
    ColumnBridge.column(ShingleSet(expr(c), n))
  def jaccard_sorted(a: Column, b: Column): Column =
    ColumnBridge.column(JaccardSorted(expr(a), expr(b)))
  def sig_digest(a: Column): Column =
    ColumnBridge.column(SigDigest(expr(a)))
  def digest_agree(a: Column, b: Column): Column =
    ColumnBridge.column(DigestAgree(expr(a), expr(b)))
  def jaccard_sorted_l(a: Column, b: Column): Column =
    ColumnBridge.column(JaccardSortedL(expr(a), expr(b)))
  def cosine_f(a: Column, b: Column): Column =
    ColumnBridge.column(CosineF(expr(a), expr(b)))
  def cosine_q(a: Column, b: Column): Column =
    ColumnBridge.column(CosineQ(expr(a), expr(b)))
  def argmin_cell(c: Column, codebook: Array[Long], k: Int, dim: Int): Column =
    ColumnBridge.column(ArgMinCell(expr(c), codebook, k, dim))
  def dot_f(a: Column, b: Column): Column =
    ColumnBridge.column(DotF(expr(a), expr(b)))
  def hyperplane_sig(c: Column, numPlanes: Int, dim: Int, seed: Long): Column =
    ColumnBridge.column(HyperplaneSig(expr(c), numPlanes, dim, seed))
  def rand_proj_sketch(c: Column, sketchDim: Int, dim: Int, seed: Long): Column =
    ColumnBridge.column(RandProjSketch(expr(c), sketchDim, dim, seed))
  def rad_sketch_q(c: Column, sketchDim: Int, dim: Int, seed: Long): Column =
    ColumnBridge.column(RadSketchQ(expr(c), sketchDim, dim, seed))
  def dist2_q(a: Column, b: Column): Column =
    ColumnBridge.column(Dist2Q(expr(a), expr(b)))
  def containment_counts(c: Column, n: Int, evalSets: Array[Array[Int]]): Column =
    ColumnBridge.column(ContainmentCounts(expr(c), n, evalSets))
  def quant_norm20(c: Column): Column =
    ColumnBridge.column(QuantNorm20(expr(c)))
  def quantize20_q(c: Column): Column =
    ColumnBridge.column(Quantize20(expr(c)))
  def sub_q(a: Column, b: Column): Column =
    ColumnBridge.column(SubQ(expr(a), expr(b)))
  def pq_encode_q(c: Column, codebook: Array[Long], m: Int, k: Int): Column =
    ColumnBridge.column(PqEncodeQ(expr(c), codebook, m, k))
  def pq_table_q(c: Column, codebook: Array[Long], m: Int, k: Int): Column =
    ColumnBridge.column(PqTableQ(expr(c), codebook, m, k))
  def pq_adc_score_q(codes: Column, table: Column, k: Int): Column =
    ColumnBridge.column(PqAdcScoreQ(expr(codes), expr(table), k))
  def dot_q(a: Column, b: Column): Column =
    ColumnBridge.column(DotQ(expr(a), expr(b)))
  def luhn_card_count(c: Column): Column =
    ColumnBridge.column(LuhnCardCount(expr(c)))
  def gram_hashes64(c: Column, n: Int): Column =
    ColumnBridge.column(GramHashes64(expr(c), n))
}
