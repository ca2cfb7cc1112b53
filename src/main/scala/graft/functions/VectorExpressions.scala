package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression, XXH64}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.GraftColumnBridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Tight JVM kernels for the hash/vector hot paths, exposed as native
  * Catalyst `Expression`s (with `doGenCode`) rather than higher-order
  * functions or UDFs.
  *
  * Why: Spark's array HOFs (`transform`/`aggregate`/`zip_with`) evaluate
  * their lambda per element through the interpreted expression
  * evaluator — for kernel-shaped work (64 minhash functions × every
  * shingle, 64-bit vote loops, dot products) that is 10-100× slower
  * than a fused JVM loop. Each expression here evaluates its whole
  * kernel in one call; codegen emits a single static invocation, so the
  * surrounding projection stays inside whole-stage codegen.
  *
  * All kernels are deterministic (hash-derived constants, no RNG state)
  * so results are stable across executors, retries, and sessions —
  * a requirement for reproducible dedup at 100 TB.
  */
object Kernels {

  /** splitmix64 — standard 64-bit finalizer; cheap deterministic
    * pseudo-randomness from an index.
    */
  def splitmix64(x0: Long): Long = {
    var x = x0 + 0x9E3779B97F4A7C15L
    x = (x ^ (x >>> 30)) * 0xBF58476D1CE4E5B9L
    x = (x ^ (x >>> 27)) * 0x94D049BB133111EBL
    x ^ (x >>> 31)
  }

  def hashString(s: UTF8String, seed: Long): Long =
    XXH64.hashUnsafeBytes(s.getBaseObject, s.getBaseOffset, s.numBytes, seed)

  /** Sum of token lengths in characters (mean-token-length numerator).
    * Null elements count 0 — `split` never produces them, but a
    * hand-built array must not NPE.
    */
  def tokenCharSum(tokens: ArrayData): Long = {
    var sum = 0L
    val n = tokens.numElements()
    var i = 0
    while (i < n) {
      if (!tokens.isNullAt(i)) sum += tokens.getUTF8String(i).numChars()
      i += 1
    }
    sum
  }

  /** Frequency share of the most common token n-gram: max n-gram count
    * over the number of n-grams (0 when fewer than n tokens). The
    * boilerplate/repetition signal LLM-corpus quality filters use
    * (Gopher-style "top n-gram fraction") — high values mean templated
    * or looping text.
    *
    * Precondition (callers from the public Column API included): tokens
    * come from a whitespace split, so none contains a space and the
    * space-joined gram key is injective. Hand-built arrays with nulls,
    * empty strings, or space-bearing tokens can alias distinct grams
    * (null renders as "") and overstate the fraction.
    */
  def topNgramFraction(tokens: ArrayData, n: Int): Double = {
    val total = tokens.numElements()
    val grams = total - n + 1
    if (grams <= 0) return 0.0
    val counts = new java.util.HashMap[String, Array[Int]](grams * 2)
    var best = 0
    var i = 0
    while (i < grams) {
      val sb = new java.lang.StringBuilder
      var j = 0
      while (j < n) {
        if (j > 0) sb.append(' ')
        if (!tokens.isNullAt(i + j)) sb.append(tokens.getUTF8String(i + j).toString)
        j += 1
      }
      val key = sb.toString
      var c = counts.get(key)
      if (c == null) { c = new Array[Int](1); counts.put(key, c) }
      c(0) += 1
      if (c(0) > best) best = c(0)
      i += 1
    }
    best.toDouble / grams
  }

  /** Fraction of n-gram OCCURRENCES that repeat an earlier one —
    * `(grams − distinct grams) / grams`, 0 when the document has fewer
    * than n tokens. The occurrence form of the Gopher duplicate-n-gram
    * repetition signals (Rae et al. 2021, appendix A1.1): where
    * [[topNgramFraction]] asks "how dominant is the WORST n-gram",
    * this asks "how much of the text is n-gram-level repeat at all" —
    * looping generations and templated text score high on both, but
    * long-period repetition (a paragraph pasted twice) only moves this
    * one. Both values are int/int IEEE divisions — bit-exact across
    * engines.
    *
    * Same injectivity precondition as [[topNgramFraction]]: tokens come
    * from a whitespace split, so the space-joined gram key is unique
    * per distinct gram.
    */
  def dupNgramFraction(tokens: ArrayData, n: Int): Double = {
    val total = tokens.numElements()
    val grams = total - n + 1
    if (grams <= 0) return 0.0
    val seen = new java.util.HashSet[String](grams * 2)
    var i = 0
    while (i < grams) {
      val sb = new java.lang.StringBuilder
      var j = 0
      while (j < n) {
        if (j > 0) sb.append(' ')
        if (!tokens.isNullAt(i + j)) sb.append(tokens.getUTF8String(i + j).toString)
        j += 1
      }
      seen.add(sb.toString)
      i += 1
    }
    (grams - seen.size).toDouble / grams
  }

  /** Order-sensitive polynomial rolling fingerprint over token hashes —
    * bit-identical to the previous HOF formulation
    * `aggregate(toks, 1125899906842597L, acc*31 + xxhash64(t))` (Spark's
    * xxhash64 is XXH64 with seed 42), but one fused JVM loop instead of
    * an interpreted per-element lambda.
    */
  def fingerprint64(tokens: ArrayData): Long = {
    var acc = 1125899906842597L
    val n = tokens.numElements()
    var i = 0
    while (i < n) {
      // HOF semantics: a null token nulls the whole fold; split() never
      // emits nulls, so treat as absorbing zero-hash instead of NPE
      val h = if (tokens.isNullAt(i)) 0L else hashString(tokens.getUTF8String(i), 42L)
      acc = acc * 31 + h
      i += 1
    }
    acc
  }

  /** MinHash signature: each shingle is xxhash64'd ONCE, then the k hash
    * functions are the affine family g_j(h) = a_j*h + b_j (odd a_j) —
    * O(shingles + shingles*k cheap arithmetic) instead of k string
    * hashes per shingle.
    */
  def minHashSignature(shingles: ArrayData, numHashes: Int): ArrayData = {
    val sig = new Array[Long](numHashes)
    java.util.Arrays.fill(sig, Long.MaxValue)
    val n = shingles.numElements()
    var i = 0
    while (i < n) {
      if (!shingles.isNullAt(i)) {
        val h = hashString(shingles.getUTF8String(i), 42L)
        var j = 0
        while (j < numHashes) {
          val g = h * (splitmix64(2L * j + 1) | 1L) + splitmix64(2L * j)
          if (g < sig(j)) sig(j) = g
          j += 1
        }
      }
      i += 1
    }
    ArrayData.toArrayData(sig)
  }

  /** Fused MinHash + LSH banding: bucket b = hash of signature rows
    * [b*rows, (b+1)*rows). One pass over the shingles, `bands` longs out.
    */
  def minHashBands(shingles: ArrayData, numHashes: Int, bands: Int): ArrayData = {
    val sig = minHashSignature(shingles, numHashes).toLongArray()
    val rows = numHashes / bands
    val out = new Array[Long](bands)
    var b = 0
    while (b < bands) {
      var h = 0x51_7C_C1_B7_27_22_0A_95L + b
      var r = b * rows
      val end = r + rows
      while (r < end) { h = XXH64.hashLong(sig(r), h); r += 1 }
      out(b) = h
      b += 1
    }
    ArrayData.toArrayData(out)
  }

  /** 64-bit SimHash over a token array: token hash votes per bit. */
  def simHash64(tokens: ArrayData): Long = {
    val votes = new Array[Int](64)
    val n = tokens.numElements()
    var i = 0
    while (i < n) {
      if (!tokens.isNullAt(i)) {
        val h = hashString(tokens.getUTF8String(i), 7L)
        var j = 0
        while (j < 64) {
          if (((h >>> j) & 1L) == 1L) votes(j) += 1 else votes(j) -= 1
          j += 1
        }
      }
      i += 1
    }
    var out = 0L
    var j = 0
    while (j < 64) { if (votes(j) > 0) out |= (1L << j); j += 1 }
    out
  }

  /** Token n-gram shingles of a raw text value: trim, whitespace-split,
    * sliding n-token windows joined by single spaces, first-occurrence
    * dedup. One fused pass — replaces an interpreted
    * split/transform/slice/concat_ws/array_distinct chain.
    */
  def shingles(text: UTF8String, n: Int): ArrayData = {
    val toks = text.toString.trim.split("\\s+")
    val m = toks.length
    if (m < n || (m == 1 && toks(0).isEmpty))
      return new org.apache.spark.sql.catalyst.util.GenericArrayData(Array.empty[Any])
    val seen = new java.util.LinkedHashSet[String]()
    var i = 0
    while (i + n <= m) {
      val sb = new java.lang.StringBuilder()
      var j = 0
      while (j < n) {
        if (j > 0) sb.append(' ')
        sb.append(toks(i + j))
        j += 1
      }
      seen.add(sb.toString)
      i += 1
    }
    val out = new Array[Any](seen.size)
    val it = seen.iterator()
    var k = 0
    while (it.hasNext) { out(k) = UTF8String.fromString(it.next()); k += 1 }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  /** Fixed-size token windows with stride over a raw text value: trim,
    * whitespace-split, then chunks of `size` tokens starting every
    * `stride` tokens, rejoined with single spaces. The LAST chunk is
    * the one whose end reaches the final token — no trailing
    * fully-contained sub-chunks are emitted, so the chunk COUNT is
    * exactly `1 + ceil(max(0, m - size) / stride)` for m tokens
    * (integer math both engines reproduce). One fused pass — the
    * embedding-pipeline chunking step (RAG windows, long-doc encoder
    * input) without an interpreted HOF chain.
    */
  def chunkTokens(text: UTF8String, size: Int, stride: Int): ArrayData = {
    val toks = text.toString.trim.split("\\s+")
    val m = toks.length
    if (m == 0 || (m == 1 && toks(0).isEmpty))
      return new org.apache.spark.sql.catalyst.util.GenericArrayData(Array.empty[Any])
    val out = new scala.collection.mutable.ArrayBuffer[Any]
    var i = 0
    var done = false
    while (!done) {
      val end = math.min(i + size, m)
      val sb = new java.lang.StringBuilder()
      var j = i
      while (j < end) {
        if (j > i) sb.append(' ')
        sb.append(toks(j))
        j += 1
      }
      out += UTF8String.fromString(sb.toString)
      if (end >= m) done = true else i += stride
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out.toArray)
  }

  /** Counts per word-set for one token array: out(k) = #tokens in set k.
    * One pass over the tokens regardless of how many sets.
    */
  def multiTokenSetCount(tokens: ArrayData, sets: Array[java.util.HashSet[UTF8String]]): ArrayData = {
    val out = new Array[Long](sets.length)
    val n = tokens.numElements()
    var i = 0
    while (i < n) {
      if (!tokens.isNullAt(i)) {
        val t = tokens.getUTF8String(i)
        var k = 0
        while (k < sets.length) {
          if (sets(k).contains(t)) out(k) += 1
          k += 1
        }
      }
      i += 1
    }
    ArrayData.toArrayData(out)
  }

  /** Exact Jaccard similarity of two string arrays (set semantics —
    * duplicates collapse; null elements are IGNORED, unlike
    * array_intersect/array_union which treat null as a member — the
    * engine's shingle arrays are containsNull=false so the dedup path
    * is unaffected). One hash-set pass instead of separate
    * array_intersect + array_union evaluations.
    */
  def jaccard(a: ArrayData, b: ArrayData): Double = {
    val setA = new java.util.HashSet[UTF8String](a.numElements() * 2)
    var i = 0
    while (i < a.numElements()) {
      if (!a.isNullAt(i)) setA.add(a.getUTF8String(i))
      i += 1
    }
    val setB = new java.util.HashSet[UTF8String](b.numElements() * 2)
    var inter = 0
    i = 0
    while (i < b.numElements()) {
      if (!b.isNullAt(i)) {
        val t = b.getUTF8String(i)
        if (setB.add(t) && setA.contains(t)) inter += 1
      }
      i += 1
    }
    val union = setA.size + setB.size - inter
    if (union == 0) 0.0 else inter.toDouble / union
  }

  /** Count of tokens present in a fixed word set (exact match). */
  def tokenSetCount(tokens: ArrayData, set: java.util.HashSet[UTF8String]): Long = {
    var cnt = 0L
    val n = tokens.numElements()
    var i = 0
    while (i < n) {
      if (!tokens.isNullAt(i) && set.contains(tokens.getUTF8String(i))) cnt += 1
      i += 1
    }
    cnt
  }

  private def elem(a: ArrayData, i: Int, isFloat: Boolean): Double =
    if (isFloat) a.getFloat(i).toDouble else a.getDouble(i)

  /** Dot product; lengths must match (extra elements ignored like zip_with). */
  def dot(a: ArrayData, b: ArrayData, aFloat: Boolean, bFloat: Boolean): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var acc = 0.0
    var i = 0
    while (i < n) { acc += elem(a, i, aFloat) * elem(b, i, bFloat); i += 1 }
    acc
  }

  /** Integer dot product of two int8-code arrays (stored as longs) —
    * the quantized-retrieval scan over a compressed embedding store.
    * Exact 64-bit arithmetic end to end (|q| ≤ 127 ⇒ a term ≤ 2^14, so
    * overflow needs ~2^49 dimensions): the one ANN scoring path whose
    * scores are bit-identical across engines with no replay goldens.
    */
  def dotLong(a: ArrayData, b: ArrayData): Long = {
    val n = math.min(a.numElements(), b.numElements())
    var acc = 0L
    var i = 0
    while (i < n) {
      if (!a.isNullAt(i) && !b.isNullAt(i)) acc += a.getLong(i) * b.getLong(i)
      i += 1
    }
    acc
  }

  /** PQ asymmetric-distance score: Σⱼ lut[j·nc + codes[j]] — the m
    * lookups-and-add of the ADC serving scan ([[graft.operators.Pq]]),
    * exact 64-bit arithmetic. `lut` is a flat (subspace-major,
    * code-minor) per-query table of int8 sub-dots; out-of-range or
    * null lookups contribute 0 (a malformed code can understate a
    * score, never crash the scan).
    */
  def adcLong(codes: ArrayData, lut: ArrayData, nc: Int): Long = {
    val m = codes.numElements()
    val ln = lut.numElements()
    var acc = 0L
    var j = 0
    while (j < m) {
      if (!codes.isNullAt(j)) {
        val idx = j * nc + codes.getInt(j)
        if (idx >= 0 && idx < ln && !lut.isNullAt(idx)) acc += lut.getLong(idx)
      }
      j += 1
    }
    acc
  }

  /** Sign-bit packing for BINARY quantization — the 32× compression
    * rung below PQ (1 bit/dim: a dim-64 float32 embedding becomes 8
    * bytes): bit `j` of word `w` is set iff element `w*32 + j` is
    * STRICTLY positive. Words hold 32 bits each (stored as longs) so
    * every word value stays < 2^32: a checked-arithmetic SQL engine
    * can re-derive the packing with a plain `acc*2 + bit` fold and
    * never overflow — the property that keeps the binary family
    * DuckDB-oracle-exact with no replay goldens (a 64-bit word's top
    * bit would wrap signed i64 in Java but ERROR in DuckDB). Null
    * elements contribute a 0 bit (SQL's `NULL > 0` is false-ish under
    * CASE); trailing bits past the vector length are 0.
    */
  def signWords(vec: ArrayData, isFloat: Boolean): ArrayData = {
    val n = vec.numElements()
    val out = new Array[Long]((n + 31) / 32)
    var i = 0
    while (i < n) {
      if (!vec.isNullAt(i) && elem(vec, i, isFloat) > 0.0)
        out(i >> 5) |= 1L << (i & 31)
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  /** Hamming distance between two sign-word arrays ([[signWords]]) —
    * the binary-quantized serving scan's scoring kernel: Σᵢ
    * bitCount(aᵢ XOR bᵢ), exact integer arithmetic, one popcount
    * instruction per word. Extra words ignored like zip_with; a null
    * word contributes 0 (the [[dotLong]] convention).
    */
  def hammingLong(a: ArrayData, b: ArrayData): Long = {
    val n = math.min(a.numElements(), b.numElements())
    var acc = 0L
    var i = 0
    while (i < n) {
      if (!a.isNullAt(i) && !b.isNullAt(i))
        acc += java.lang.Long.bitCount(a.getLong(i) ^ b.getLong(i))
      i += 1
    }
    acc
  }

  /** PQ encode as ONE fused loop — for each of `m` subspaces, the
    * argmin-by-exact-integer-squared-L2 codeword index of the row's
    * int8 subvector (ties → smallest code, strict `<` keeps the first
    * minimum). `codebook` is a plan-constant flat array (subspace-
    * major, code-major, element-minor: entry (j, c, i) at
    * (j·nc + c)·sub + i). The join-based encode this replaces carried
    * one (row, subspace, codeword) JOIN ROW per candidate —
    * n·m·ncode rows of array garbage that made the build GC-bound and
    * cold-JIT-hostile at the probe scales (223–590 s swings at 200k
    * vectors); the fused kernel does the identical integer arithmetic
    * in-row with zero allocation beyond the m-int result. Elements
    * past the vector's length compare as 0 (uniform-dim corpora never
    * hit this; the codebook builder validates its sample).
    */
  def pqEncodeCodes(
      q: ArrayData, codebook: Array[Long], m: Int, nc: Int, sub: Int
  ): ArrayData = {
    val n = q.numElements()
    val out = new Array[Int](m)
    var j = 0
    while (j < m) {
      var best = 0L
      var bestC = -1
      var c = 0
      while (c < nc) {
        val base = (j * nc + c) * sub
        var d = 0L
        var i = 0
        while (i < sub) {
          val qi = j * sub + i
          val qv = if (qi < n && !q.isNullAt(qi)) q.getLong(qi) else 0L
          val diff = qv - codebook(base + i)
          d += diff * diff
          i += 1
        }
        if (bestC < 0 || d < best) { best = d; bestC = c }
        c += 1
      }
      out(j) = bestC
      j += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  /** A query's int8 codes as longs, null elements as 0 (the [[dotLong]]
    * convention), for the PQ query-side kernels below.
    */
  private def longsOf(q: ArrayData, n: Int): Array[Long] = {
    val out = new Array[Long](n)
    var i = 0
    while (i < n) { if (!q.isNullAt(i)) out(i) = q.getLong(i); i += 1 }
    out
  }

  /** Flat ADC lookup table of ONE query — entry [j·nc + c] is the exact
    * integer dot of query subvector j with codeword c of subspace j
    * (`codebook` in the [[pqEncodeCodes]] layout), the m·nc table that
    * [[adcLong]] indexes. The subvector width comes from the QUERY:
    * qsub = ⌊len/m⌋, subvector j is q[j·qsub, (j+1)·qsub), and each
    * dot runs over min(qsub, sub) elements; null elements contribute 0.
    * A null query gives m·nc null entries, which [[adcLong]] scores as
    * 0. Work per query is m·nc·sub multiply-adds — a plan-constant
    * table, built in-row with no join or shuffle.
    */
  def pqQueryLut(
      q: ArrayData, codebook: Array[Long], m: Int, nc: Int, sub: Int
  ): ArrayData = {
    if (q == null)
      return new org.apache.spark.sql.catalyst.util.GenericArrayData(new Array[Any](m * nc))
    val qsub = q.numElements() / m
    val w = math.min(qsub, sub)
    val qv = longsOf(q, m * qsub)
    val out = new Array[Long](m * nc)
    var j = 0
    while (j < m) {
      var c = 0
      while (c < nc) {
        val base = (j * nc + c) * sub
        var d = 0L
        var i = 0
        while (i < w) { d += qv(j * qsub + i) * codebook(base + i); i += 1 }
        out(j * nc + c) = d
        c += 1
      }
      j += 1
    }
    ArrayData.toArrayData(out)
  }

  /** IVF routing of ONE query: the `nProbe` cells nearest by exact
    * integer squared L2 over full int8 codes, in the cc − 2·dot form
    * (the dropped q·q term is constant per query), ascending, ties →
    * smaller cell. `centroids` is cell-major, `dim` elements per cell
    * (the coarse grid of [[pqEncodeCodes]] with one group). Elements
    * past the query's length or null contribute 0 to the dot; a null
    * query has no distances and takes cells 0..nProbe−1.
    */
  def pqRouteCells(
      q: ArrayData, centroids: Array[Long], dim: Int, nProbe: Int
  ): ArrayData = {
    val k = centroids.length / dim
    val top = math.min(nProbe, k)
    if (q == null) return ArrayData.toArrayData(Array.range(0, top))
    val n = math.min(q.numElements(), dim)
    val qv = longsOf(q, n)
    val topIdx = new Array[Int](top)
    val topD = new Array[Long](top)
    var filled = 0
    var c = 0
    while (c < k) {
      val base = c * dim
      var cc = 0L
      var dotAcc = 0L
      var i = 0
      while (i < dim) {
        val x = centroids(base + i)
        cc += x * x
        if (i < n) dotAcc += qv(i) * x
        i += 1
      }
      val d = cc - 2L * dotAcc
      // cells arrive ascending, so a strict `<` keeps the smaller cell
      // ahead of a later one at the same distance
      if (filled < top || d < topD(top - 1)) {
        var pos = if (filled < top) { filled += 1; filled - 1 } else top - 1
        while (pos > 0 && d < topD(pos - 1)) {
          topD(pos) = topD(pos - 1); topIdx(pos) = topIdx(pos - 1); pos -= 1
        }
        topD(pos) = d; topIdx(pos) = c
      }
      c += 1
    }
    ArrayData.toArrayData(topIdx)
  }

  /** Cosine similarity in one pass; 0.0 when either norm is zero. */
  def cosine(a: ArrayData, b: ArrayData, aFloat: Boolean, bFloat: Boolean): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var dotAcc = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      val x = elem(a, i, aFloat); val y = elem(b, i, bFloat)
      dotAcc += x * y; na += x * x; nb += y * y
      i += 1
    }
    val denom = math.sqrt(na) * math.sqrt(nb)
    if (denom == 0.0) 0.0 else dotAcc / denom
  }

  /** Deterministic hyperplane component for (seed, plane, dim) in [-1, 1). */
  def planeComponent(seed: Long, p: Int, i: Int): Double =
    (splitmix64(seed * 0x9E3779B9L + p * 0x85EBCA6BL + i).toDouble
      / Long.MaxValue.toDouble)

  /** Sign-bucket of a vector under `planes` hash-derived hyperplanes.
    * Scale-invariant (signs only), so callers need not normalize first.
    */
  def signBucket(vec: ArrayData, isFloat: Boolean, planes: Int, seed: Long): Long = {
    val n = vec.numElements()
    var bucket = 0L
    var p = 0
    while (p < planes) {
      var acc = 0.0
      var i = 0
      while (i < n) { acc += elem(vec, i, isFloat) * planeComponent(seed, p, i); i += 1 }
      if (acc >= 0) bucket |= (1L << p)
      p += 1
    }
    bucket
  }

  /** Indices of the `nProbe` nearest centroids (by cosine) for a
    * vector. `centroids` is row-major flattened (k x dim); one fused
    * scan over all centroids, small insertion-sorted top list.
    */
  def nearestCentroids(vec: ArrayData, isFloat: Boolean, centroids: Array[Double],
      dim: Int, nProbe: Int): ArrayData = {
    val k = centroids.length / dim
    val n = math.min(vec.numElements(), dim)
    // precompute vector values + norm once
    val v = new Array[Double](n)
    var vn = 0.0
    var i = 0
    while (i < n) { v(i) = elem(vec, i, isFloat); vn += v(i) * v(i); i += 1 }
    val topIdx = new Array[Int](math.min(nProbe, k))
    val topSim = new Array[Double](topIdx.length)
    java.util.Arrays.fill(topSim, Double.NegativeInfinity)
    var c = 0
    while (c < k) {
      var dotAcc = 0.0; var cn = 0.0
      var j = 0
      val base = c * dim
      while (j < n) {
        val x = centroids(base + j)
        dotAcc += v(j) * x; cn += x * x
        j += 1
      }
      val denom = math.sqrt(vn) * math.sqrt(cn)
      val sim = if (denom == 0.0) 0.0 else dotAcc / denom
      // insertion into the descending top list
      var pos = topIdx.length - 1
      if (sim > topSim(pos)) {
        while (pos > 0 && sim > topSim(pos - 1)) {
          topSim(pos) = topSim(pos - 1); topIdx(pos) = topIdx(pos - 1); pos -= 1
        }
        topSim(pos) = sim; topIdx(pos) = c
      }
      c += 1
    }
    ArrayData.toArrayData(topIdx)
  }

  /** One sign-bucket per LSH table (seed_t = t*7919 + baseSeed). */
  def signBuckets(vec: ArrayData, isFloat: Boolean, planes: Int, tables: Int, baseSeed: Long): ArrayData = {
    val out = new Array[Long](tables)
    var t = 0
    while (t < tables) { out(t) = signBucket(vec, isFloat, planes, t * 7919L + baseSeed); t += 1 }
    ArrayData.toArrayData(out)
  }

  /** Sliding character n-grams of lower(text), order-preserving (NOT
    * deduplicated — LM scoring weighs repeats); empty when the text is
    * shorter than n. One fused loop over UTF8String character indices
    * — the equivalent sequence/transform/substr chain evaluates its
    * lambda interpreted per element, measured several times slower at
    * corpus scale.
    */
  def charNgrams(text: UTF8String, n: Int): ArrayData = {
    val lowered = text.toLowerCase
    val len = lowered.numChars()
    if (len < n)
      return new org.apache.spark.sql.catalyst.util.GenericArrayData(Array.empty[Any])
    val out = new Array[Any](len - n + 1)
    var i = 0
    while (i + n <= len) {
      out(i) = lowered.substring(i, i + n)
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  /** Z-value for multi-column clustering: each value maps to its
    * quantile bucket (binary search over the per-column boundary
    * table), then the bucket bits interleave LSB-first across columns
    * — the Morton curve over RANK space, which is what makes it
    * skew-robust (linear min/max scaling would collapse under a heavy
    * hitter). Null values map to bucket 0, clustering together.
    * `boundaries(i)` holds the sorted interior cut points of column i;
    * bucket count is boundaries(i).length + 1.
    */
  def zValue(vals: ArrayData, boundaries: Array[Array[Double]]): Long = {
    val ncols = boundaries.length
    var z = 0L
    var i = 0
    while (i < ncols) {
      val bucket =
        if (vals.isNullAt(i)) 0
        else {
          val v = vals.getDouble(i)
          val b = boundaries(i)
          // first index with b(idx) > v == count of cut points <= v
          var lo = 0
          var hi = b.length
          while (lo < hi) {
            val mid = (lo + hi) >>> 1
            if (b(mid) <= v) lo = mid + 1 else hi = mid
          }
          lo
        }
      // interleave this column's bucket bits at stride ncols
      var bit = 0
      var rem = bucket
      while (rem != 0) {
        z |= (rem & 1L) << (bit * ncols + i)
        rem >>>= 1
        bit += 1
      }
      i += 1
    }
    z
  }

  private val controlChars =
    java.util.regex.Pattern.compile("[\\x00-\\x1F\\x7F-\\x9F]")
  private val asciiWsRuns = java.util.regex.Pattern.compile("\\s+")

  /** Corpus text normalization: Unicode NFC → C0/C1 control chars to
    * spaces → ASCII-whitespace runs collapsed to one space → trim.
    * The three steps are ordered so both regex passes see only ASCII
    * whitespace (controls, incl. \t\n\r, became plain spaces first),
    * which keeps Java-regex and RE2 semantics identical — the DuckDB
    * oracle replays the exact chain with nfc_normalize +
    * regexp_replace. Unicode spaces (NBSP etc.) are deliberately
    * preserved: neither engine's `\s` matches them, and stripping
    * them is a tokenizer decision, not a hygiene one.
    */
  def normalizeText(text: UTF8String): UTF8String = {
    val nfc = java.text.Normalizer.normalize(
      text.toString, java.text.Normalizer.Form.NFC)
    val despaced = asciiWsRuns
      .matcher(controlChars.matcher(nfc).replaceAll(" "))
      .replaceAll(" ")
      .trim
    UTF8String.fromString(despaced)
  }

  /** Bloom probe dispatch for [[BloomMightContainExpr]]'s interpreted
    * path (codegen calls the sketch directly).
    */
  def bloomMightContain(
      v: Any, bloom: org.apache.spark.util.sketch.BloomFilter): Boolean =
    v match {
      case s: UTF8String => bloom.mightContainBinary(s.getBytes)
      case n: java.lang.Number => bloom.mightContainLong(n.longValue())
      case other => throw new IllegalArgumentException(
        s"unsupported bloom key ${other.getClass}")
    }

  /** Sum of per-language model counts over an n-gram array — the
    * NgramLm scoring numerator. O(1) HASH lookups against the
    * plan-constant nested map; contrast `element_at` on a Spark map
    * VALUE, which is a linear scan per lookup (array-based map), and
    * array HOF lambdas, which evaluate interpreted — both measured 2×+
    * slower end-to-end on this kernel's query. Unknown language or
    * n-gram contributes 0.
    */
  def ngramModelSum(
      tgs: ArrayData,
      lang: UTF8String,
      model: java.util.HashMap[UTF8String, java.util.HashMap[UTF8String, java.lang.Long]]
  ): Long = {
    val m = model.get(lang)
    if (m == null) return 0L
    var sum = 0L
    val n = tgs.numElements()
    var i = 0
    while (i < n) {
      val c = m.get(tgs.getUTF8String(i))
      if (c != null) sum += c.longValue()
      i += 1
    }
    sum
  }
}

// ---------------------------------------------------------------------
// Expression nodes
// ---------------------------------------------------------------------

private[functions] trait ArrayElemTypes { self: Expression =>
  protected def isFloatArray(e: Expression): Boolean = e.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }
  protected def checkNumericArray(e: Expression, side: String): TypeCheckResult =
    e.dataType match {
      case ArrayType(FloatType | DoubleType, _) => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"$side must be array<float|double>, got ${other.catalogString}")
    }
  protected def checkStringArray(e: Expression, side: String): TypeCheckResult =
    e.dataType match {
      case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"$side must be array<string>, got ${other.catalogString}")
    }
  protected def checkLongArray(e: Expression, side: String): TypeCheckResult =
    e.dataType match {
      case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"$side must be array<bigint>, got ${other.catalogString}")
    }
}

/** Fixed-size token windows with stride — see [[Kernels.chunkTokens]]
  * for the emission rule (last chunk covers the tail; no redundant
  * trailing sub-chunks).
  */
case class ChunkTokensExpr(child: Expression, size: Int, stride: Int)
    extends UnaryExpression {
  require(size > 0, s"chunk size must be positive, got $size")
  require(stride > 0, s"stride must be positive, got $stride")
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"text must be string, got ${other.catalogString}")
  }
  override protected def nullSafeEval(input: Any): Any =
    Kernels.chunkTokens(input.asInstanceOf[UTF8String], size, stride)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.Kernels.chunkTokens($c, $size, $stride)")
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

case class ShinglesExpr(child: Expression, n: Int) extends UnaryExpression {
  // n=0 would yield [""] per doc — one giant LSH bucket, silently
  require(n > 0, s"shingle size n must be positive, got $n")
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"text must be string, got ${other.catalogString}")
  }
  override protected def nullSafeEval(input: Any): Any =
    Kernels.shingles(input.asInstanceOf[UTF8String], n)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.Kernels.shingles($c, $n)")
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Bloom membership probe with the filter as a plan-constant reference
  * object — keeps bloom pruning inside whole-stage codegen (no UDF).
  * Long keys probe `mightContainLong` (the sketch's native path);
  * strings probe their UTF-8 bytes, matching what
  * `DataFrameStatFunctions.bloomFilter` inserted. Null-propagating
  * like every kernel here; the Column wrapper coalesces null → false
  * (a null key is definitely absent — correct for join pruning, where
  * null never matches).
  */
case class BloomMightContainExpr(
    child: Expression,
    bloom: org.apache.spark.util.sketch.BloomFilter)
    extends UnaryExpression {
  override def dataType: DataType = BooleanType
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case LongType | IntegerType | ShortType | ByteType | StringType =>
      TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"bloom key must be an integral or string type, got ${other.catalogString}")
  }
  override protected def nullSafeEval(input: Any): Any =
    Kernels.bloomMightContain(input, bloom)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("bloom", bloom,
      "org.apache.spark.util.sketch.BloomFilter")
    child.dataType match {
      case StringType =>
        defineCodeGen(ctx, ev, c => s"$ref.mightContainBinary($c.getBytes())")
      case _ =>
        defineCodeGen(ctx, ev, c => s"$ref.mightContainLong((long) $c)")
    }
  }
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Corpus text normalization (see [[Kernels.normalizeText]]). */
case class NormalizeTextExpr(child: Expression) extends UnaryExpression {
  override def dataType: DataType = StringType
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"text must be string, got ${other.catalogString}")
  }
  override protected def nullSafeEval(input: Any): Any =
    Kernels.normalizeText(input.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.Kernels.normalizeText($c)")
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Morton z-value over quantile-bucketed columns (see
  * [[Kernels.zValue]]); the per-column boundary table ships as a
  * plan-constant reference object.
  */
case class ZValueExpr(child: Expression, boundaries: Array[Array[Double]])
    extends UnaryExpression with ArrayElemTypes {
  require(boundaries.nonEmpty && boundaries.length <= 8,
    s"z-order supports 1-8 columns, got ${boundaries.length}")
  // each column's bucket index must fit its interleaved bit budget:
  // Long `<<` takes shift mod 64, so a bucket needing > 64/ncols bits
  // would silently wrap into other columns' bit positions and corrupt
  // the interleaving (clustering quality, not correctness — __z is
  // dropped after the sort — but corrupt clustering defeats the layout)
  require(64 / boundaries.length >= 62 ||
      boundaries.forall(_.length < (1L << (64 / boundaries.length))),
    s"per-column bucket count must be <= 2^(64/${boundaries.length}) " +
      s"= ${1L << (64 / boundaries.length)} (cut points strictly below); got counts " +
      boundaries.map(_.length + 1).mkString(","))
  override def dataType: DataType = LongType
  override def checkInputDataTypes(): TypeCheckResult =
    checkNumericArray(child, "values") match {
      case TypeCheckResult.TypeCheckSuccess => child.dataType match {
        case ArrayType(DoubleType, _) => TypeCheckResult.TypeCheckSuccess
        case other => TypeCheckResult.TypeCheckFailure(
          s"values must be array<double>, got ${other.catalogString}")
      }
      case f => f
    }
  override protected def nullSafeEval(input: Any): Any =
    Kernels.zValue(input.asInstanceOf[ArrayData], boundaries)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("zBoundaries", boundaries, "double[][]")
    defineCodeGen(ctx, ev, c => s"graft.functions.Kernels.zValue($c, $ref)")
  }
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Sliding character n-grams of lower(text) (see [[Kernels.charNgrams]]). */
case class CharNgramsExpr(child: Expression, n: Int) extends UnaryExpression {
  require(n > 0, s"n-gram size must be positive, got $n")
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"text must be string, got ${other.catalogString}")
  }
  override protected def nullSafeEval(input: Any): Any =
    Kernels.charNgrams(input.asInstanceOf[UTF8String], n)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.Kernels.charNgrams($c, $n)")
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Count of array elements contained in a fixed literal word set —
  * replaces `size(filter(toks, _.isin(words)))`, whose per-element
  * interpreted lambda evaluation is the slowest construct in the
  * engine's text path.
  */
case class TokenSetCountExpr(child: Expression, words: Seq[String])
    extends UnaryExpression with ArrayElemTypes {
  @transient private lazy val set: java.util.HashSet[UTF8String] = {
    val s = new java.util.HashSet[UTF8String](words.size * 2)
    words.foreach(w => s.add(UTF8String.fromString(w)))
    s
  }
  override def dataType: DataType = LongType
  override def checkInputDataTypes(): TypeCheckResult =
    checkStringArray(child, "tokens")
  override protected def nullSafeEval(input: Any): Any =
    Kernels.tokenSetCount(input.asInstanceOf[ArrayData], set)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val setRef = ctx.addReferenceObj("wordSet", set, "java.util.HashSet")
    defineCodeGen(ctx, ev, c => s"graft.functions.Kernels.tokenSetCount($c, $setRef)")
  }
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Per-word-set token counts in a single pass — `out(k)` is the number
  * of tokens contained in `wordSets(k)`. Keeps multi-language marker
  * scoring to ONE expression evaluation per row.
  */
case class MultiTokenSetCountExpr(child: Expression, wordSets: Seq[Seq[String]])
    extends UnaryExpression with ArrayElemTypes {
  override def checkInputDataTypes(): TypeCheckResult =
    checkStringArray(child, "tokens")
  @transient private lazy val sets: Array[java.util.HashSet[UTF8String]] =
    wordSets.map { ws =>
      val s = new java.util.HashSet[UTF8String](ws.size * 2)
      ws.foreach(w => s.add(UTF8String.fromString(w)))
      s
    }.toArray
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override protected def nullSafeEval(input: Any): Any =
    Kernels.multiTokenSetCount(input.asInstanceOf[ArrayData], sets)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val setsRef = ctx.addReferenceObj("wordSets", sets, "java.util.HashSet[]")
    defineCodeGen(ctx, ev, c => s"graft.functions.Kernels.multiTokenSetCount($c, $setsRef)")
  }
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Exact Jaccard similarity of two string arrays — see
  * [[Kernels.jaccard]] for the set semantics (nulls ignored).
  */
/** NgramLm scoring numerator: the per-language model ships as a
  * plan-constant nested HashMap reference object (like
  * [[NearestCentroidsExpr]]'s centroid table), so each row is one fused
  * kernel call with O(1) lookups — no join, no map-value linear scans,
  * no interpreted HOF lambdas.
  */
case class NgramModelSumExpr(
    left: Expression, // array<string> n-grams
    right: Expression, // string language key
    model: java.util.HashMap[UTF8String, java.util.HashMap[UTF8String, java.lang.Long]])
    extends BinaryExpression with ArrayElemTypes {
  override def dataType: DataType = LongType
  override def checkInputDataTypes(): TypeCheckResult =
    checkStringArray(left, "ngrams") match {
      case TypeCheckResult.TypeCheckSuccess => right.dataType match {
        case StringType => TypeCheckResult.TypeCheckSuccess
        case other => TypeCheckResult.TypeCheckFailure(
          s"lang must be string, got ${other.catalogString}")
      }
      case f => f
    }
  override protected def nullSafeEval(tgs: Any, lang: Any): Any =
    Kernels.ngramModelSum(tgs.asInstanceOf[ArrayData],
      lang.asInstanceOf[UTF8String], model)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("ngramModel", model, "java.util.HashMap")
    defineCodeGen(ctx, ev, (a, l) =>
      s"graft.functions.Kernels.ngramModelSum($a, $l, $ref)")
  }
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

case class JaccardExpr(left: Expression, right: Expression)
    extends BinaryExpression with ArrayElemTypes {
  override def dataType: DataType = DoubleType
  override def checkInputDataTypes(): TypeCheckResult =
    checkStringArray(left, "left") match {
      case TypeCheckResult.TypeCheckSuccess => checkStringArray(right, "right")
      case f => f
    }
  override protected def nullSafeEval(a: Any, b: Any): Any =
    Kernels.jaccard(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.Kernels.jaccard($a, $b)")
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

case class MinHashSignatureExpr(child: Expression, numHashes: Int)
    extends UnaryExpression with ArrayElemTypes {
  require(numHashes > 0, "numHashes must be positive")
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def checkInputDataTypes(): TypeCheckResult =
    checkStringArray(child, "shingles")
  override protected def nullSafeEval(input: Any): Any =
    Kernels.minHashSignature(input.asInstanceOf[ArrayData], numHashes)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.Kernels.minHashSignature($c, $numHashes)")
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

case class MinHashBandsExpr(child: Expression, numHashes: Int, bands: Int)
    extends UnaryExpression with ArrayElemTypes {
  require(bands > 0 && numHashes % bands == 0, "numHashes must be divisible by bands")
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def checkInputDataTypes(): TypeCheckResult =
    checkStringArray(child, "shingles")
  override protected def nullSafeEval(input: Any): Any =
    Kernels.minHashBands(input.asInstanceOf[ArrayData], numHashes, bands)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.Kernels.minHashBands($c, $numHashes, $bands)")
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

case class SimHash64Expr(child: Expression) extends UnaryExpression with ArrayElemTypes {
  override def dataType: DataType = LongType
  override def checkInputDataTypes(): TypeCheckResult =
    checkStringArray(child, "tokens")
  override protected def nullSafeEval(input: Any): Any =
    Kernels.simHash64(input.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.Kernels.simHash64($c)")
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

case class TokenCharSumExpr(child: Expression) extends UnaryExpression with ArrayElemTypes {
  override def dataType: DataType = LongType
  override def checkInputDataTypes(): TypeCheckResult =
    checkStringArray(child, "tokens")
  override protected def nullSafeEval(input: Any): Any =
    Kernels.tokenCharSum(input.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.Kernels.tokenCharSum($c)")
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

case class TopNgramFractionExpr(child: Expression, n: Int)
    extends UnaryExpression with ArrayElemTypes {
  require(n > 0, s"n-gram size must be positive, got $n")
  override def dataType: DataType = DoubleType
  override def checkInputDataTypes(): TypeCheckResult =
    checkStringArray(child, "tokens")
  override protected def nullSafeEval(input: Any): Any =
    Kernels.topNgramFraction(input.asInstanceOf[ArrayData], n)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.Kernels.topNgramFraction($c, $n)")
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

case class DupNgramFractionExpr(child: Expression, n: Int)
    extends UnaryExpression with ArrayElemTypes {
  require(n > 0, s"n-gram size must be positive, got $n")
  override def dataType: DataType = DoubleType
  override def checkInputDataTypes(): TypeCheckResult =
    checkStringArray(child, "tokens")
  override protected def nullSafeEval(input: Any): Any =
    Kernels.dupNgramFraction(input.asInstanceOf[ArrayData], n)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.Kernels.dupNgramFraction($c, $n)")
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

case class Fingerprint64Expr(child: Expression) extends UnaryExpression with ArrayElemTypes {
  override def dataType: DataType = LongType
  override def checkInputDataTypes(): TypeCheckResult =
    checkStringArray(child, "tokens")
  override protected def nullSafeEval(input: Any): Any =
    Kernels.fingerprint64(input.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.Kernels.fingerprint64($c)")
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

case class DotLongExpr(left: Expression, right: Expression)
    extends BinaryExpression with ArrayElemTypes {
  override def dataType: DataType = LongType
  override def checkInputDataTypes(): TypeCheckResult =
    checkLongArray(left, "left") match {
      case TypeCheckResult.TypeCheckSuccess => checkLongArray(right, "right")
      case f => f
    }
  override protected def nullSafeEval(a: Any, b: Any): Any =
    Kernels.dotLong(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.Kernels.dotLong($a, $b)")
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

case class AdcLongExpr(left: Expression, right: Expression, nc: Int)
    extends BinaryExpression with ArrayElemTypes {
  require(nc >= 1, s"nc must be >= 1, got $nc")
  override def dataType: DataType = LongType
  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType match {
      case ArrayType(IntegerType, _) => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"codes must be array<int>, got ${other.catalogString}")
    }) match {
      case TypeCheckResult.TypeCheckSuccess => checkLongArray(right, "lut")
      case f => f
    }
  override protected def nullSafeEval(a: Any, b: Any): Any =
    Kernels.adcLong(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData], nc)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      (a, b) => s"graft.functions.Kernels.adcLong($a, $b, $nc)")
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

case class SignWordsExpr(child: Expression)
    extends UnaryExpression with ArrayElemTypes {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def checkInputDataTypes(): TypeCheckResult =
    checkNumericArray(child, "vector")
  override protected def nullSafeEval(input: Any): Any =
    Kernels.signWords(input.asInstanceOf[ArrayData], isFloatArray(child))
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.Kernels.signWords($c, ${isFloatArray(child)})")
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

case class HammingLongExpr(left: Expression, right: Expression)
    extends BinaryExpression with ArrayElemTypes {
  override def dataType: DataType = LongType
  override def checkInputDataTypes(): TypeCheckResult =
    checkLongArray(left, "left") match {
      case TypeCheckResult.TypeCheckSuccess => checkLongArray(right, "right")
      case f => f
    }
  override protected def nullSafeEval(a: Any, b: Any): Any =
    Kernels.hammingLong(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.Kernels.hammingLong($a, $b)")
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** A PQ kernel over int8 codes and a plan-constant flat grid (the
  * [[NearestCentroidsExpr]] reference-object pattern): codegen emits
  * `Kernels.<kernelName>(codes, grid, shape...)`.
  */
private[functions] sealed trait FlatGridExpr extends UnaryExpression with ArrayElemTypes {
  def grid: Array[Long]
  /** The kernel's int parameters after (codes, grid), in call order. */
  protected def shape: Seq[Int]
  protected def kernelName: String
  override def checkInputDataTypes(): TypeCheckResult = checkLongArray(child, "codes")
  protected def kernelCall(ctx: CodegenContext, codes: String): String = {
    val ref = ctx.addReferenceObj("grid", grid, "long[]")
    s"graft.functions.Kernels.$kernelName($codes, $ref, ${shape.mkString(", ")})"
  }
  // a JVM array's equals/hashCode are reference-based, which would
  // make canonicalization/semanticEquals (and common-subexpression
  // elimination) never match two structurally identical expressions —
  // compare the grid by content instead
  override def equals(other: Any): Boolean = other match {
    case that: FlatGridExpr =>
      getClass == that.getClass && child == that.child && shape == that.shape &&
        java.util.Arrays.equals(grid, that.grid)
    case _ => false
  }
  override def hashCode(): Int =
    java.util.Objects.hash(getClass, child, shape, Int.box(java.util.Arrays.hashCode(grid)))
}

/** A [[FlatGridExpr]] whose kernel defines the result of a null query
  * (so the expression is never null): the query-side PQ kernels.
  */
private[functions] sealed trait QueryGridExpr extends FlatGridExpr {
  protected def kernel(q: ArrayData): ArrayData
  override def nullable: Boolean = false
  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any =
    kernel(child.eval(input).asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    import org.apache.spark.sql.catalyst.expressions.codegen.Block._
    val q = child.genCode(ctx)
    val call = kernelCall(ctx, s"${q.isNull} ? null : ${q.value}")
    ev.copy(code = code"""
      ${q.code}
      ${CodeGenerator.javaType(dataType)} ${ev.value} = $call;""", isNull = FalseLiteral)
  }
}

/** [[Kernels.pqEncodeCodes]] over a flat codebook. */
case class PqEncodeExpr(
    child: Expression, grid: Array[Long], m: Int, nc: Int, sub: Int)
    extends FlatGridExpr {
  require(m >= 1 && nc >= 1 && sub >= 1, s"bad pq shape m=$m nc=$nc sub=$sub")
  require(grid.length == m * nc * sub,
    s"codebook length ${grid.length} != m*nc*sub (${m * nc * sub})")
  override protected def shape: Seq[Int] = Seq(m, nc, sub)
  override protected def kernelName: String = "pqEncodeCodes"
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override protected def nullSafeEval(input: Any): Any =
    Kernels.pqEncodeCodes(input.asInstanceOf[ArrayData], grid, m, nc, sub)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => kernelCall(ctx, c))
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** [[Kernels.pqQueryLut]] over a flat codebook. */
case class PqLutExpr(
    child: Expression, grid: Array[Long], m: Int, nc: Int, sub: Int)
    extends QueryGridExpr {
  require(m >= 1 && nc >= 1 && sub >= 1, s"bad pq shape m=$m nc=$nc sub=$sub")
  require(grid.length == m * nc * sub,
    s"codebook length ${grid.length} != m*nc*sub (${m * nc * sub})")
  override protected def shape: Seq[Int] = Seq(m, nc, sub)
  override protected def kernelName: String = "pqQueryLut"
  override protected def kernel(q: ArrayData): ArrayData =
    Kernels.pqQueryLut(q, grid, m, nc, sub)
  override def dataType: DataType = ArrayType(LongType, containsNull = true)
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** [[Kernels.pqRouteCells]] over flat coarse centroids. */
case class PqRouteExpr(
    child: Expression, grid: Array[Long], dim: Int, nProbe: Int)
    extends QueryGridExpr {
  require(dim >= 1 && nProbe >= 1, s"bad routing shape dim=$dim nProbe=$nProbe")
  require(grid.nonEmpty && grid.length % dim == 0,
    s"centroids length ${grid.length} is not a positive multiple of dim $dim")
  override protected def shape: Seq[Int] = Seq(dim, nProbe)
  override protected def kernelName: String = "pqRouteCells"
  override protected def kernel(q: ArrayData): ArrayData =
    Kernels.pqRouteCells(q, grid, dim, nProbe)
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

case class DotProductExpr(left: Expression, right: Expression)
    extends BinaryExpression with ArrayElemTypes {
  override def dataType: DataType = DoubleType
  override def checkInputDataTypes(): TypeCheckResult =
    checkNumericArray(left, "left") match {
      case TypeCheckResult.TypeCheckSuccess => checkNumericArray(right, "right")
      case f => f
    }
  override protected def nullSafeEval(a: Any, b: Any): Any =
    Kernels.dot(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData],
      isFloatArray(left), isFloatArray(right))
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) =>
      s"graft.functions.Kernels.dot($a, $b, ${isFloatArray(left)}, ${isFloatArray(right)})")
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

case class CosineSimilarityExpr(left: Expression, right: Expression)
    extends BinaryExpression with ArrayElemTypes {
  override def dataType: DataType = DoubleType
  override def checkInputDataTypes(): TypeCheckResult =
    checkNumericArray(left, "left") match {
      case TypeCheckResult.TypeCheckSuccess => checkNumericArray(right, "right")
      case f => f
    }
  override protected def nullSafeEval(a: Any, b: Any): Any =
    Kernels.cosine(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData],
      isFloatArray(left), isFloatArray(right))
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) =>
      s"graft.functions.Kernels.cosine($a, $b, ${isFloatArray(left)}, ${isFloatArray(right)})")
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

case class SignBucketExpr(child: Expression, planes: Int, seed: Long)
    extends UnaryExpression with ArrayElemTypes {
  override def dataType: DataType = LongType
  override def checkInputDataTypes(): TypeCheckResult =
    checkNumericArray(child, "vector")
  override protected def nullSafeEval(input: Any): Any =
    Kernels.signBucket(input.asInstanceOf[ArrayData], isFloatArray(child), planes, seed)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.Kernels.signBucket($c, ${isFloatArray(child)}, $planes, ${seed}L)")
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

case class SignBucketsExpr(child: Expression, planes: Int, tables: Int, baseSeed: Long)
    extends UnaryExpression with ArrayElemTypes {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def checkInputDataTypes(): TypeCheckResult =
    checkNumericArray(child, "vector")
  override protected def nullSafeEval(input: Any): Any =
    Kernels.signBuckets(input.asInstanceOf[ArrayData], isFloatArray(child),
      planes, tables, baseSeed)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.Kernels.signBuckets($c, ${isFloatArray(child)}, $planes, $tables, ${baseSeed}L)")
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Top-nProbe nearest-centroid indices for IVF cell assignment/probing.
  * The centroid table ships as a plan-constant reference object (k x dim
  * row-major doubles), so assignment is a single fused kernel call per
  * row — no join against a centroid table.
  */
case class NearestCentroidsExpr(
    child: Expression, centroids: Array[Double], dim: Int, nProbe: Int)
    extends UnaryExpression with ArrayElemTypes {
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def checkInputDataTypes(): TypeCheckResult =
    checkNumericArray(child, "vector")
  override protected def nullSafeEval(input: Any): Any =
    Kernels.nearestCentroids(input.asInstanceOf[ArrayData], isFloatArray(child),
      centroids, dim, nProbe)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("centroids", centroids, "double[]")
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.Kernels.nearestCentroids($c, ${isFloatArray(child)}, $ref, $dim, $nProbe)")
  }
  // content-compare the centroid array (the FlatGridExpr rationale):
  // reference equality would defeat semanticEquals/CSE between
  // structurally identical assignment expressions
  override def equals(other: Any): Boolean = other match {
    case that: NearestCentroidsExpr =>
      child == that.child && dim == that.dim && nProbe == that.nProbe &&
        java.util.Arrays.equals(centroids, that.centroids)
    case _ => false
  }
  override def hashCode(): Int =
    java.util.Objects.hash(child, Int.box(dim), Int.box(nProbe),
      Int.box(java.util.Arrays.hashCode(centroids)))
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Column-level API over the kernel expressions. */
object VectorFunctions {
  private def c(e: Expression): Column = GraftColumnBridge.column(e)
  private def e(col: Column): Expression = GraftColumnBridge.expression(col)

  def shingles(text: Column, n: Int): Column = c(ShinglesExpr(e(text), n))
  def chunkTokens(text: Column, size: Int, stride: Int): Column =
    c(ChunkTokensExpr(e(text), size, stride))
  def charNgrams(text: Column, n: Int): Column = c(CharNgramsExpr(e(text), n))
  def tokenSetCount(tokens: Column, words: Seq[String]): Column =
    c(TokenSetCountExpr(e(tokens), words))
  def multiTokenSetCount(tokens: Column, wordSets: Seq[Seq[String]]): Column =
    c(MultiTokenSetCountExpr(e(tokens), wordSets))
  def jaccard(a: Column, b: Column): Column = c(JaccardExpr(e(a), e(b)))
  def ngramModelSum(tgs: Column, lang: Column,
      model: java.util.HashMap[UTF8String, java.util.HashMap[UTF8String, java.lang.Long]]): Column =
    c(NgramModelSumExpr(e(tgs), e(lang), model))
  def bloomMightContain(key: Column,
      bloom: org.apache.spark.util.sketch.BloomFilter): Column =
    org.apache.spark.sql.functions.coalesce(
      c(BloomMightContainExpr(e(key), bloom)),
      org.apache.spark.sql.functions.lit(false))
  def zValue(vals: Column, boundaries: Array[Array[Double]]): Column =
    c(ZValueExpr(e(vals), boundaries))
  def normalizeText(text: Column): Column = c(NormalizeTextExpr(e(text)))
  def minHashSignature(shingles: Column, numHashes: Int): Column =
    c(MinHashSignatureExpr(e(shingles), numHashes))
  def minHashBands(shingles: Column, numHashes: Int, bands: Int): Column =
    c(MinHashBandsExpr(e(shingles), numHashes, bands))
  def simHash64(tokens: Column): Column = c(SimHash64Expr(e(tokens)))
  def tokenCharSum(tokens: Column): Column = c(TokenCharSumExpr(e(tokens)))
  def fingerprint64(tokens: Column): Column = c(Fingerprint64Expr(e(tokens)))
  def topNgramFraction(tokens: Column, n: Int): Column =
    c(TopNgramFractionExpr(e(tokens), n))
  def dupNgramFraction(tokens: Column, n: Int): Column =
    c(DupNgramFractionExpr(e(tokens), n))
  def dot(a: Column, b: Column): Column = c(DotProductExpr(e(a), e(b)))
  def dotLong(a: Column, b: Column): Column = c(DotLongExpr(e(a), e(b)))

  def adcLong(codes: Column, lut: Column, nc: Int): Column =
    c(AdcLongExpr(e(codes), e(lut), nc))
  def signWords(vec: Column): Column = c(SignWordsExpr(e(vec)))
  def hammingLong(a: Column, b: Column): Column =
    c(HammingLongExpr(e(a), e(b)))
  def pqEncodeCodes(codes: Column, codebook: Array[Long],
      m: Int, nc: Int, sub: Int): Column =
    c(PqEncodeExpr(e(codes), codebook, m, nc, sub))
  def pqQueryLut(codes: Column, codebook: Array[Long],
      m: Int, nc: Int, sub: Int): Column =
    c(PqLutExpr(e(codes), codebook, m, nc, sub))
  def pqRouteCells(codes: Column, centroids: Array[Long], dim: Int, nProbe: Int): Column =
    c(PqRouteExpr(e(codes), centroids, dim, nProbe))
  def cosine(a: Column, b: Column): Column = c(CosineSimilarityExpr(e(a), e(b)))
  def signBucket(vec: Column, planes: Int, seed: Long): Column =
    c(SignBucketExpr(e(vec), planes, seed))
  def signBuckets(vec: Column, planes: Int, tables: Int, baseSeed: Long): Column =
    c(SignBucketsExpr(e(vec), planes, tables, baseSeed))
  def nearestCentroids(vec: Column, centroids: Array[Double], dim: Int, nProbe: Int): Column =
    c(NearestCentroidsExpr(e(vec), centroids, dim, nProbe))
}
