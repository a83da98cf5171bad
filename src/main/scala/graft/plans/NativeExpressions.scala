package graft.plans

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.{FunctionIdentifier, InternalRow}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, BloomFilterMightContain, Expression, ExpressionInfo, GenericInternalRow, ImplicitCastInputTypes, QuaternaryExpression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType, IntegerType, LongType, StringType, StructField, StructType}
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.array.ByteArrayMethods
import org.apache.spark.unsafe.hash.Murmur3_x86_32
import org.apache.spark.unsafe.types.UTF8String

import graft.dedup.TextHashing

/** Static helpers the generated code calls (one virtual-free static call
  * per row — the reason these beat Scala UDFs: no encoder round-trip, no
  * closure dispatch, and they stay inside the WholeStageCodegen stage).
  */
object ExprHelpers {
  def simhash64(s: UTF8String): Long = TextHashing.simHash64(s.toString)

  /** Exact cosine similarity over two vectors in ONE fused loop.
    * Bit-identical to the declarative
    * `aggregate(zip_with(a,b,_*_),0.0,_+_) / (sqrt(aggregate(a,..)) *
    * sqrt(aggregate(b,..)))` formulation: each accumulator folds in
    * ascending index order in double, sqrt/divide are IEEE-exact, float
    * elements widen exactly. Null contract matches too: length mismatch
    * or any null element -> null (zip_with pads the shorter side with
    * nulls, which nullifies the fold). `aFloat`/`bFloat` select the
    * element accessor — loop-invariant, so the JIT hoists the branch.
    */
  def cosineSim(a: ArrayData, b: ArrayData,
      aFloat: Boolean, bFloat: Boolean): java.lang.Double = {
    val n = a.numElements()
    if (b.numElements() != n) return null
    var dot = 0.0; var na2 = 0.0; var nb2 = 0.0; var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      val x = if (aFloat) a.getFloat(i).toDouble else a.getDouble(i)
      val y = if (bFloat) b.getFloat(i).toDouble else b.getDouble(i)
      dot += x * y; na2 += x * x; nb2 += y * y; i += 1
    }
    java.lang.Double.valueOf(
      dot / (java.lang.Math.sqrt(na2) * java.lang.Math.sqrt(nb2)))
  }

  def minhashBands(s: UTF8String, shingleSize: Int, numPerms: Int,
      numBands: Int, seed: Int): ArrayData = {
    val sig = TextHashing.minHashSignature(
      TextHashing.shingleHashes(s.toString, shingleSize), numPerms, seed)
    new GenericArrayData(TextHashing.bandHashes(sig, numBands, numPerms / numBands))
  }

  def shingleHashes(s: UTF8String, k: Int): ArrayData =
    new GenericArrayData(TextHashing.shingleHashes(s.toString, k))

  def rollingHash(s: UTF8String): Long = {
    // Rabin-Karp polynomial rolling hash over the raw bytes, base 257 mod 2^64.
    val bytes = s.getBytes
    var h = 0L
    var i = 0
    while (i < bytes.length) { h = h * 257L + (bytes(i) & 0xff); i += 1 }
    h
  }

  /** Exact Jaccard over two sorted-distinct long arrays, reading the
    * ArrayData in place — no `toLongArray` copies. The verify joins call
    * this once per candidate pair with multi-KB shingle arrays; per-call
    * copying measurably turns into GC pressure at 10x scale. Falls back
    * to the copying canonicalization path only for unsorted inputs.
    */
  def jaccardLong(a: ArrayData, b: ArrayData): Double = {
    val na = a.numElements()
    val nb = b.numElements()
    if (na == 0 && nb == 0) return 1.0
    if (na == 0 || nb == 0) return 0.0
    if (!isSortedDistinct(a, na) || !isSortedDistinct(b, nb))
      return TextHashing.jaccard(a.toLongArray(), b.toLongArray())
    var i = 0; var j = 0; var inter = 0
    var av = a.getLong(0); var bv = b.getLong(0)
    while (i < na && j < nb) {
      if (av == bv) {
        inter += 1; i += 1; j += 1
        if (i < na) av = a.getLong(i)
        if (j < nb) bv = b.getLong(j)
      } else if (av < bv) {
        i += 1; if (i < na) av = a.getLong(i)
      } else {
        j += 1; if (j < nb) bv = b.getLong(j)
      }
    }
    inter.toDouble / (na + nb - inter)
  }

  private def isSortedDistinct(a: ArrayData, n: Int): Boolean = {
    var i = 1
    var prev = if (n > 0) a.getLong(0) else Long.MinValue
    while (i < n) {
      val v = a.getLong(i)
      if (v <= prev) return false
      prev = v
      i += 1
    }
    true
  }

  /** Ordered (non-distinct) per-token 64-bit hashes — the token-level view
    * substring dedup extends matches over.
    */
  def tokenHashes(s: UTF8String): ArrayData = {
    val toks = TextHashing.tokenize(s.toString)
    val out = new Array[Long](toks.length)
    var i = 0
    while (i < toks.length) { out(i) = TextHashing.hash64(toks(i)); i += 1 }
    new GenericArrayData(out)
  }

  /** The `take` nearest centroid indexes of `v` by L2 distance —
    * the IVF coarse-quantizer assignment, evaluated per row over a small
    * constant centroid table (nLists x dim floats).
    */
  def nearestCentroids(v: ArrayData, centroids: Array[Array[Double]], take: Int): ArrayData = {
    val k = math.min(take, centroids.length)
    val bestIdx = new Array[Int](k)
    val bestDist = new Array[Double](k)
    var filled = 0
    var i = 0
    while (i < centroids.length) {
      val c = centroids(i)
      var d = 0.0
      var j = 0
      val n = math.min(c.length, v.numElements())
      while (j < n) { val t = c(j) - v.getFloat(j); d += t * t; j += 1 }
      // insertion into the running top-k (k is tiny: nProbe)
      if (filled < k) {
        var p = filled
        while (p > 0 && bestDist(p - 1) > d) {
          bestDist(p) = bestDist(p - 1); bestIdx(p) = bestIdx(p - 1); p -= 1
        }
        bestDist(p) = d; bestIdx(p) = i
        filled += 1
      } else if (d < bestDist(k - 1)) {
        var p = k - 1
        while (p > 0 && bestDist(p - 1) > d) {
          bestDist(p) = bestDist(p - 1); bestIdx(p) = bestIdx(p - 1); p -= 1
        }
        bestDist(p) = d; bestIdx(p) = i
      }
      i += 1
    }
    new GenericArrayData(java.util.Arrays.copyOf(bestIdx, filled))
  }

  /** [[nearestCentroids]] over a DOUBLE-typed vector (residual-PQ encode
    * works on double residuals — rounding them through float would put a
    * second rounding layer between the engine and its oracle).
    */
  def nearestCentroidsDouble(v: ArrayData, centroids: Array[Array[Double]],
      take: Int): ArrayData = {
    val k = math.min(take, centroids.length)
    val bestIdx = new Array[Int](k)
    val bestDist = new Array[Double](k)
    var filled = 0
    var i = 0
    while (i < centroids.length) {
      val c = centroids(i)
      var d = 0.0
      var j = 0
      val n = math.min(c.length, v.numElements())
      while (j < n) { val t = c(j) - v.getDouble(j); d += t * t; j += 1 }
      if (filled < k) {
        var p = filled
        while (p > 0 && bestDist(p - 1) > d) {
          bestDist(p) = bestDist(p - 1); bestIdx(p) = bestIdx(p - 1); p -= 1
        }
        bestDist(p) = d; bestIdx(p) = i
        filled += 1
      } else if (d < bestDist(k - 1)) {
        var p = k - 1
        while (p > 0 && bestDist(p - 1) > d) {
          bestDist(p) = bestDist(p - 1); bestIdx(p) = bestIdx(p - 1); p -= 1
        }
        bestDist(p) = d; bestIdx(p) = i
      }
      i += 1
    }
    new GenericArrayData(java.util.Arrays.copyOf(bestIdx, filled))
  }

  /** Winnowing fingerprints (Schleimer, Wilkerson, Aiken 2003 §4 "robust
    * winnowing"): k-token gram hashes, min per sliding window of `w`
    * (rightmost tie-break), deduplicated. Any substring of at least
    * w + k - 1 tokens shared by two documents yields at least one common
    * (hash, gram) fingerprint in both — selection depends only on content,
    * so it survives arbitrary alignment shifts. Returns
    * array<struct<pos:int, hash:bigint>>.
    */
  def winnowAnchors(s: UTF8String, k: Int, w: Int): ArrayData = {
    val th = TextHashing.tokenize(s.toString).map(TextHashing.hash64)
    val n = th.length - k + 1
    if (n <= 0) return new GenericArrayData(Array.empty[Any])
    // order-sensitive polynomial combine of the k token hashes per gram
    val g = new Array[Long](n)
    var i = 0
    while (i < n) {
      var acc = 0xcbf29ce484222325L
      var j = 0
      while (j < k) { acc = (acc ^ th(i + j)) * 0x100000001b3L; j += 1 }
      g(i) = acc
      i += 1
    }
    // sliding-window min via monotone deque — O(n); popping on unsigned >=
    // keeps the RIGHTMOST of equal hashes, the robust-winnowing tie-break
    val sel = scala.collection.mutable.LinkedHashSet.empty[Int]
    val dq = new java.util.ArrayDeque[Int]
    var p = 0
    while (p < n) {
      while (!dq.isEmpty && java.lang.Long.compareUnsigned(g(dq.peekLast), g(p)) >= 0)
        dq.pollLast()
      dq.addLast(p)
      if (p >= w - 1) {
        while (dq.peekFirst < p - w + 1) dq.pollFirst()
        sel += dq.peekFirst
      }
      p += 1
    }
    if (n < w) sel += dq.peekFirst // short doc: one window over all grams
    new GenericArrayData(sel.toArray.sorted.map(q =>
      org.apache.spark.sql.catalyst.InternalRow(q, g(q)): Any))
  }

  /** Maximal common token run around an anchor match: tokens
    * a[pa, pa+k) == b[pb, pb+k) (same gram hash); extend left and right
    * while token hashes agree. Returns [start, len] in a's coordinates.
    */
  def extendMatch(a: ArrayData, pa: Int, b: ArrayData, pb: Int, k: Int): ArrayData = {
    var la = pa; var lb = pb
    while (la > 0 && lb > 0 && a.getLong(la - 1) == b.getLong(lb - 1)) { la -= 1; lb -= 1 }
    var ra = pa + k; var rb = pb + k
    while (ra < a.numElements() && rb < b.numElements() && a.getLong(ra) == b.getLong(rb)) {
      ra += 1; rb += 1
    }
    new GenericArrayData(Array(la, ra - la))
  }

  // Seeded Rademacher (+-1) hyperplanes, built once per (dim, bits, seed)
  // per JVM. Sign-random-projection needs only a symmetric entry
  // distribution (Achlioptas 2003 showed +-1 entries match gaussians for
  // JL-style projections), and +-1 from fmix64((seed<<32) + b*dim + i) is
  // exactly recomputable outside the JVM — the former
  // scala.util.Random.nextGaussian planes forced every LSH driver query
  // to a weaker rows-only check.
  private val planeCache =
    new java.util.concurrent.ConcurrentHashMap[(Int, Int, Int), Array[Array[Double]]]
  private def planes(dim: Int, bits: Int, seed: Int): Array[Array[Double]] =
    planeCache.computeIfAbsent((dim, bits, seed), _ => {
      Array.tabulate(bits, dim) { (b, i) =>
        if (TextHashing.fmix64((seed.toLong << 32) + (b.toLong * dim + i)) >= 0L) 1.0 else -1.0
      }
    })

  /** Hashing-trick bag-of-words embedding (signed feature buckets,
    * L2-normalized) — the deterministic local embedder, as a static
    * helper so the fallback path stays inside WholeStageCodegen too
    * (VERDICT r6 #7: this was the last ScalaUDF reachable from a driver
    * query).
    */
  def hashEmbed(s: UTF8String, dim: Int): ArrayData = {
    val v = new Array[Float](dim)
    if (s != null) {
      val tokens = s.toString.toLowerCase.split("\\W+")
      var i = 0
      while (i < tokens.length) {
        val t = tokens(i)
        if (t.nonEmpty) {
          // poly-257+fmix64 like the rest of the text-hash family: the
          // DuckDB oracle recomputes buckets and signs exactly (the
          // former 32-bit murmur was JVM-only -> rows-only check)
          val h = TextHashing.hash64(t)
          val idx = java.lang.Long.remainderUnsigned(h, dim.toLong).toInt
          v(idx) += (if (h >= 0L) 1.0f else -1.0f)
        }
        i += 1
      }
      var norm = 0.0
      i = 0
      while (i < dim) { norm += v(i).toDouble * v(i); i += 1 }
      if (norm > 0) {
        val inv = (1.0 / math.sqrt(norm)).toFloat
        i = 0
        while (i < dim) { v(i) *= inv; i += 1 }
      }
    }
    new GenericArrayData(v)
  }

  def planeSig(v: ArrayData, dim: Int, bits: Int, seed: Int): Int = {
    val p = planes(dim, bits, seed)
    val n = math.min(v.numElements(), dim)
    var sig = 0
    var b = 0
    while (b < bits) {
      var dot = 0.0
      var i = 0
      val row = p(b)
      while (i < n) { dot += row(i) * v.getFloat(i); i += 1 }
      if (dot > 0) sig |= (1 << b)
      b += 1
    }
    sig
  }

  // The text-feature kernels below scan UTF-8 bytes. They reproduce Java
  // regex semantics without a regex or a String: `\s` is the six ASCII
  // bytes ` \t\n\x0B\f\r` and `\p{Punct}` the 32 ASCII punctuation bytes,
  // and no byte of a multi-byte UTF-8 sequence is ASCII. On invalid UTF-8,
  // where a String would hold U+FFFD, the kernels see the raw bytes.

  private def isSpace(b: Byte): Boolean = b == ' ' || (b >= '\t' && b <= '\r')

  private def isPunct(b: Byte): Boolean =
    (b >= '!' && b <= '/') || (b >= ':' && b <= '@') || (b >= '[' && b <= '`') ||
      (b >= '{' && b <= '~')

  private def isAsciiLetter(b: Byte): Boolean = (b >= 'A' && b <= 'Z') || (b >= 'a' && b <= 'z')

  private val slices = ThreadLocal.withInitial[ByteSlices](() => new ByteSlices)

  /** Adds to `out` the tokens of `split(trim(s), "\\s+")`: `trim` strips
    * 0x20 only, and the split keeps a leading empty token after a leading
    * whitespace run and a trailing one before a trailing run (limit -1),
    * so "" is one token.
    */
  private def splitWords(s: UTF8String, out: ByteSlices): Unit = {
    val base = s.getBaseObject; val off = s.getBaseOffset
    def at(i: Int): Byte = Platform.getByte(base, off + i)
    var from = 0; var to = s.numBytes
    while (from < to && at(from) == ' ') from += 1
    while (to > from && at(to - 1) == ' ') to -= 1
    var start = from; var i = from
    while (i < to) {
      if (isSpace(at(i))) {
        out.add(start, i)
        while (i < to && isSpace(at(i))) i += 1
        start = i
      } else i += 1
    }
    out.add(start, to)
  }

  /** `qualityFeatures`' counts of one text, as a row of ints: code points
    * and `\p{Punct}` chars of `text`, then the tokens of
    * `split(trim(lower), "\\s+")` (`lower` is `lower(text)`), those equal
    * to one of `stopwords`, and the distinct ones.
    */
  def qualityCounts(text: UTF8String, lower: UTF8String,
      stopwords: Array[Array[Byte]]): InternalRow = {
    val base = text.getBaseObject; val off = text.getBaseOffset
    var punct = 0; var i = 0
    while (i < text.numBytes) {
      if (isPunct(Platform.getByte(base, off + i))) punct += 1
      i += 1
    }
    val words = slices.get.reset(lower)
    splitWords(lower, words)
    var stop = 0; var w = 0
    while (w < words.size) {
      var k = 0
      while (k < stopwords.length && !words.equalTo(w, stopwords(k))) k += 1
      if (k < stopwords.length) stop += 1
      w += 1
    }
    val row = new GenericInternalRow(Array[Any](
      text.numChars, punct, words.size, stop, words.distinct()))
    words.release()
    row
  }

  /** `gopherFlags`' counts of one text, as a row of ints: the tokens of
    * `split(trim(text), "\\s+")`, the code points outside `\s`, the
    * left-to-right matches of `#|\.\.\.|…`, the tokens holding an ASCII
    * letter, and the lines of `split(text, "\n")` and the distinct ones.
    */
  def gopherCounts(text: UTF8String): InternalRow = {
    val base = text.getBaseObject; val off = text.getBaseOffset; val n = text.numBytes
    def at(i: Int): Byte = Platform.getByte(base, off + i)
    val parts = slices.get.reset(text)
    splitWords(text, parts)
    val words = parts.size
    var alpha = 0; var w = 0
    while (w < words) {
      var i = parts.start(w)
      while (i < parts.end(w) && !isAsciiLetter(at(i))) i += 1
      if (i < parts.end(w)) alpha += 1
      w += 1
    }
    parts.reset(text) // from here on, the lines
    var spaces = 0; var symbols = 0; var lineStart = 0; var i = 0
    while (i < n) {
      val b = at(i)
      if (b == '#') symbols += 1
      else if (b == '.' && i + 2 < n && at(i + 1) == '.' && at(i + 2) == '.') {
        symbols += 1; i += 2
      } else if (b == 0xE2.toByte && i + 2 < n && at(i + 1) == 0x80.toByte &&
          at(i + 2) == 0xA6.toByte) { // U+2026
        symbols += 1; i += 2
      } else if (isSpace(b)) {
        spaces += 1
        if (b == '\n') { parts.add(lineStart, i); lineStart = i + 1 }
      }
      i += 1
    }
    parts.add(lineStart, n)
    val row = new GenericInternalRow(Array[Any](words, text.numChars - spaces, symbols, alpha,
      parts.size, parts.distinct()))
    parts.release()
    row
  }
}

/** Byte slices [start, end) of one string and their distinct count,
  * without a copy per slice: an open-addressing table of slice indexes,
  * hashed with Murmur3 and compared byte for byte. One instance per thread
  * serves row after row; arrays grown past 64k slices are dropped after
  * the row that needed them.
  */
private[plans] final class ByteSlices {
  private val small = 64
  private var base: AnyRef = _
  private var offset = 0L
  private var starts = new Array[Int](small)
  private var ends = new Array[Int](small)
  private var table = new Array[Int](2 * small)
  private var n = 0

  def size: Int = n
  def start(i: Int): Int = starts(i)
  def end(i: Int): Int = ends(i)

  /** Starts over on the bytes of `s`. */
  def reset(s: UTF8String): ByteSlices = {
    base = s.getBaseObject; offset = s.getBaseOffset; n = 0
    this
  }

  def add(start: Int, end: Int): Unit = {
    if (n == starts.length) {
      starts = java.util.Arrays.copyOf(starts, 2 * n)
      ends = java.util.Arrays.copyOf(ends, 2 * n)
    }
    starts(n) = start; ends(n) = end; n += 1
  }

  def equalTo(i: Int, bytes: Array[Byte]): Boolean =
    ends(i) - starts(i) == bytes.length && ByteArrayMethods.arrayEquals(
      base, offset + starts(i), bytes, Platform.BYTE_ARRAY_OFFSET, bytes.length)

  private def equal(i: Int, j: Int): Boolean = {
    val len = ends(i) - starts(i)
    len == ends(j) - starts(j) &&
      ByteArrayMethods.arrayEquals(base, offset + starts(i), base, offset + starts(j), len)
  }

  /** The number of distinct byte strings among the slices. */
  def distinct(): Int = {
    val cap = Integer.highestOneBit(math.max(n, 1)) << 2
    if (table.length < cap) table = new Array[Int](cap)
    else java.util.Arrays.fill(table, 0, cap, 0)
    val mask = cap - 1
    var count = 0; var i = 0
    while (i < n) {
      var h = Murmur3_x86_32.hashUnsafeBytes2(base, offset + starts(i), ends(i) - starts(i), 42) & mask
      // slots hold slice index + 1; 0 is empty
      while (table(h) != 0 && !equal(table(h) - 1, i)) h = (h + 1) & mask
      if (table(h) == 0) { table(h) = i + 1; count += 1 }
      i += 1
    }
    count
  }

  /** Forgets the row's bytes, and drops arrays grown past 64k slices. */
  def release(): Unit = {
    base = null
    if (starts.length > (1 << 16)) {
      starts = new Array[Int](small); ends = new Array[Int](small); table = new Array[Int](2 * small)
    }
  }
}

/** 64-bit SimHash as a native Catalyst expression (SURVEY §2.6 scale path:
  * the signature computation is the per-row hot loop of simhash dedup over
  * 100 TB, so it runs inside codegen rather than as a UDF).
  */
case class SimHash64Expr(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def prettyName: String = "simhash64"
  override protected def nullSafeEval(input: Any): Any =
    ExprHelpers.simhash64(input.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.plans.ExprHelpers.simhash64($c)")
  override protected def withNewChildInternal(newChild: Expression): SimHash64Expr =
    copy(child = newChild)
}

/** Whole-string poly-257+fmix64 hash (TextHashing.hash64) — the engine's
  * recomputable-in-SQL item hash, exposed for sketch/bucketing callers
  * (count-min rows key on it).
  */
case class Hash64Expr(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_hash64"
  override protected def nullSafeEval(input: Any): Any =
    graft.dedup.TextHashing.hash64(input.asInstanceOf[UTF8String].toString)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.dedup.TextHashing.hash64($c.toString())")
  override protected def withNewChildInternal(newChild: Expression): Hash64Expr =
    copy(child = newChild)
}

/** MinHash LSH band hashes as a native expression: text -> array<long> of
  * band bucket keys, one pass, codegen'd.
  */
case class MinHashBandsExpr(child: Expression, shingleSize: Int = 3,
    numPerms: Int = 64, numBands: Int = 16, seed: Int = 42)
  extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "minhash_bands"
  override protected def nullSafeEval(input: Any): Any =
    ExprHelpers.minhashBands(input.asInstanceOf[UTF8String], shingleSize, numPerms, numBands, seed)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.plans.ExprHelpers.minhashBands($c, $shingleSize, $numPerms, $numBands, $seed)")
  override protected def withNewChildInternal(newChild: Expression): MinHashBandsExpr =
    copy(child = newChild)
}

/** Distinct word-k-shingle hashes as a native expression: text ->
  * array<long>. One pass per document, codegen'd; feeds minhash
  * verification (the shingle table is computed once and joined to
  * candidate pairs, so document text never enters the band shuffle).
  */
case class ShingleHashesExpr(child: Expression, shingleSize: Int = 3)
  extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "shingle_hashes"
  override protected def nullSafeEval(input: Any): Any =
    ExprHelpers.shingleHashes(input.asInstanceOf[UTF8String], shingleSize)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.plans.ExprHelpers.shingleHashes($c, $shingleSize)")
  override protected def withNewChildInternal(newChild: Expression): ShingleHashesExpr =
    copy(child = newChild)
}

/** `qualityFeatures`' counts as one codegen'd pass over (text,
  * lower(text)): struct<chars, punct, words, stop, distinct> of non-null
  * ints (see [[ExprHelpers.qualityCounts]]); null for a null text.
  * Lower-casing stays Catalyst's own `lower`, the second child. A
  * non-string text is cast to string, as the string builtins cast it.
  */
case class QualityCountsExpr(left: Expression, right: Expression, stopwords: Seq[String])
  extends BinaryExpression with ImplicitCastInputTypes {
  override def inputTypes = Seq(StringType, StringType)
  @transient private lazy val stopBytes: Array[Array[Byte]] =
    stopwords.filter(_ != null).map(_.getBytes("UTF-8")).toArray
  override def dataType: DataType = StructType(
    Seq("chars", "punct", "words", "stop", "distinct").map(StructField(_, IntegerType, nullable = false)))
  override def prettyName: String = "quality_counts"
  override protected def nullSafeEval(text: Any, lower: Any): Any =
    ExprHelpers.qualityCounts(text.asInstanceOf[UTF8String], lower.asInstanceOf[UTF8String], stopBytes)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("stopwords", stopBytes, "byte[][]")
    defineCodeGen(ctx, ev, (t, l) => s"graft.plans.ExprHelpers.qualityCounts($t, $l, $ref)")
  }
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): QualityCountsExpr =
    copy(left = newLeft, right = newRight)
}

/** `gopherFlags`' counts as one codegen'd pass over a text: struct<words,
  * nonspace, symbols, alpha_words, lines, distinct_lines> of non-null ints
  * (see [[ExprHelpers.gopherCounts]]); null for a null text.
  */
case class GopherCountsExpr(child: Expression) extends UnaryExpression
  with ImplicitCastInputTypes {
  override def inputTypes = Seq(StringType)
  override def dataType: DataType = StructType(
    Seq("words", "nonspace", "symbols", "alpha_words", "lines", "distinct_lines")
      .map(StructField(_, IntegerType, nullable = false)))
  override def prettyName: String = "gopher_counts"
  override protected def nullSafeEval(input: Any): Any =
    ExprHelpers.gopherCounts(input.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.plans.ExprHelpers.gopherCounts($c)")
  override protected def withNewChildInternal(newChild: Expression): GopherCountsExpr =
    copy(child = newChild)
}

/** Rabin-Karp rolling hash fingerprint (content-defined chunking / dedup
  * pre-pass primitive).
  */
case class RollingHashExpr(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def prettyName: String = "rolling_hash"
  override protected def nullSafeEval(input: Any): Any =
    ExprHelpers.rollingHash(input.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.plans.ExprHelpers.rollingHash($c)")
  override protected def withNewChildInternal(newChild: Expression): RollingHashExpr =
    copy(child = newChild)
}

/** Exact Jaccard over two long-hash set columns (array<long>, array<long>)
  * -> double. The per-candidate-pair verify step of minhash/ngram dedup —
  * codegen'd so the verify join stays inside WholeStageCodegen.
  */
/** Codegen'd exact cosine over two vector columns (array<float> or
  * array<double> per side, resolved at plan time). Replaces the
  * interpreted zip_with/aggregate triple on verification hot paths —
  * per-element Catalyst lambda eval over 10^8 candidate pairs was the
  * dominant cost of embedding near-dup at 100x scale — with one JIT'd
  * loop per pair, bit-identical by [[ExprHelpers.cosineSim]]'s contract.
  */
case class CosineSimExpr(left: Expression, right: Expression)
  extends BinaryExpression {
  private def isFloat(e: Expression): Boolean = e.dataType match {
    case ArrayType(FloatType, _) => true
    case ArrayType(DoubleType, _) => false
    case other => throw new IllegalArgumentException(
      s"cosine_sim expects array<float|double>, got $other")
  }
  // Reject non float/double element types at ANALYSIS time (clean error
  // instead of an IllegalArgumentException out of eval/codegen). Callers
  // with array<int>/array<long> inputs must cast to array<double> first —
  // an explicit cast keeps the no-copy float/double fast paths intact.
  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    def ok(dt: DataType): Boolean = dt match {
      case ArrayType(FloatType, _) | ArrayType(DoubleType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType))
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        "cosine_sim expects array<float> or array<double> per side, got " +
          s"${left.dataType.catalogString} and ${right.dataType.catalogString}; " +
          "cast integral arrays to array<double> first")
  }
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "cosine_sim"
  override protected def nullSafeEval(a: Any, b: Any): Any =
    ExprHelpers.cosineSim(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData],
      isFloat(left), isFloat(right))
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val af = isFloat(left); val bf = isFloat(right)
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val tmp = ctx.freshName("cos")
      s"""
         |java.lang.Double $tmp = graft.plans.ExprHelpers.cosineSim($a, $b, $af, $bf);
         |if ($tmp == null) { ${ev.isNull} = true; } else { ${ev.value} = $tmp.doubleValue(); }
       """.stripMargin
    })
  }
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CosineSimExpr =
    copy(left = newLeft, right = newRight)
}

case class JaccardLongExpr(left: Expression, right: Expression)
  extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def prettyName: String = "jaccard_long"
  override protected def nullSafeEval(a: Any, b: Any): Any =
    ExprHelpers.jaccardLong(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.plans.ExprHelpers.jaccardLong($a, $b)")
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): JaccardLongExpr =
    copy(left = newLeft, right = newRight)
}

/** Random-hyperplane LSH signature: array<float> -> int sign-bit pattern
  * against `bits` seeded gaussian planes. The corpus-wide projection of
  * embedding near-dup / LSH top-k — native so the full-corpus scan stays
  * in codegen (the same reason simhash64/minhash_bands are native).
  */
/** Hashing-trick text embedding as a native expression: the fallback
  * embedder runs in the same codegen stage as the rest of the projection
  * (no encoder round-trip), matching `EmbeddingOp.embedText` bit-for-bit.
  */
case class HashEmbedExpr(child: Expression, dim: Int) extends UnaryExpression {
  override def dataType: DataType = ArrayType(FloatType, containsNull = false)
  override def prettyName: String = "hash_embed"
  override protected def nullSafeEval(input: Any): Any =
    ExprHelpers.hashEmbed(input.asInstanceOf[UTF8String], dim)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.plans.ExprHelpers.hashEmbed($c, $dim)")
  override protected def withNewChildInternal(newChild: Expression): HashEmbedExpr =
    copy(child = newChild)
}

case class PlaneSigExpr(child: Expression, dim: Int, bits: Int, seed: Int)
  extends UnaryExpression {
  override def dataType: DataType = IntegerType
  override def prettyName: String = "plane_sig"
  override protected def nullSafeEval(input: Any): Any =
    ExprHelpers.planeSig(input.asInstanceOf[ArrayData], dim, bits, seed)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.plans.ExprHelpers.planeSig($c, $dim, $bits, $seed)")
  override protected def withNewChildInternal(newChild: Expression): PlaneSigExpr =
    copy(child = newChild)
}

/** The constant centroid matrix (one row per centroid) of the
  * nearest-centroid expressions, compared and hashed by content: two
  * expressions over equal centroids are equal, and the plan prints the
  * matrix's shape and a content hash rather than a JVM identity.
  */
final class Centroids(val rows: Array[Array[Double]]) extends Serializable {
  override def equals(o: Any): Boolean = o match {
    case c: Centroids => java.util.Arrays.deepEquals(
      rows.asInstanceOf[Array[AnyRef]], c.rows.asInstanceOf[Array[AnyRef]])
    case _ => false
  }
  override def hashCode: Int = java.util.Arrays.deepHashCode(rows.asInstanceOf[Array[AnyRef]])
  override def toString: String =
    f"centroids[${rows.length}x${rows.headOption.fold(0)(_.length)}:$hashCode%08x]"
}

object Centroids {
  def apply(rows: Array[Array[Double]]): Centroids = new Centroids(rows)
}

/** IVF coarse-quantizer assignment: array<float> -> array<int> of the
  * `take` nearest centroid indexes by L2. Centroids are a CONSTANT
  * (nLists x dim — trained driver-side on a bounded sample) embedded as
  * a codegen reference object, so the full-corpus assign scan stays in
  * WholeStageCodegen — the same reason plane_sig is native rather than a
  * closure UDF.
  */
case class NearestCentroidsExpr(child: Expression,
    centroids: Centroids, take: Int) extends UnaryExpression {
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def prettyName: String = "nearest_centroids"
  override protected def nullSafeEval(input: Any): Any =
    ExprHelpers.nearestCentroids(input.asInstanceOf[ArrayData], centroids.rows, take)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("centroids", centroids.rows, "double[][]")
    defineCodeGen(ctx, ev, c =>
      s"graft.plans.ExprHelpers.nearestCentroids($c, $ref, $take)")
  }
  override protected def withNewChildInternal(newChild: Expression): NearestCentroidsExpr =
    copy(child = newChild)
}

/** [[NearestCentroidsExpr]] over array<double> input (residual-PQ encode). */
case class NearestCentroidsDExpr(child: Expression,
    centroids: Centroids, take: Int) extends UnaryExpression {
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def prettyName: String = "nearest_centroids_d"
  override protected def nullSafeEval(input: Any): Any =
    ExprHelpers.nearestCentroidsDouble(input.asInstanceOf[ArrayData], centroids.rows, take)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("centroids", centroids.rows, "double[][]")
    defineCodeGen(ctx, ev, c =>
      s"graft.plans.ExprHelpers.nearestCentroidsDouble($c, $ref, $take)")
  }
  override protected def withNewChildInternal(newChild: Expression): NearestCentroidsDExpr =
    copy(child = newChild)
}

/** Ordered per-token hashes: text -> array<long> (NON-distinct, in token
  * order — unlike shingle_hashes — so positions index into it).
  */
case class TokenHashesExpr(child: Expression) extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "token_hashes"
  override protected def nullSafeEval(input: Any): Any =
    ExprHelpers.tokenHashes(input.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.plans.ExprHelpers.tokenHashes($c)")
  override protected def withNewChildInternal(newChild: Expression): TokenHashesExpr =
    copy(child = newChild)
}

/** Winnowing fingerprints: text -> array<struct<pos:int, hash:bigint>>
  * (see [[ExprHelpers.winnowAnchors]]). The candidate-generation pass of
  * substring dedup — one codegen'd scan per document.
  */
case class WinnowAnchorsExpr(child: Expression, k: Int, w: Int)
  extends UnaryExpression {
  override def dataType: DataType = ArrayType(
    StructType(Seq(StructField("pos", IntegerType, nullable = false),
      StructField("hash", LongType, nullable = false))), containsNull = false)
  override def prettyName: String = "winnow_anchors"
  override protected def nullSafeEval(input: Any): Any =
    ExprHelpers.winnowAnchors(input.asInstanceOf[UTF8String], k, w)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.plans.ExprHelpers.winnowAnchors($c, $k, $w)")
  override protected def withNewChildInternal(newChild: Expression): WinnowAnchorsExpr =
    copy(child = newChild)
}

/** Extension verify for substring dedup:
  * (tok_a, pos_a, tok_b, pos_b) -> [start, len] — the maximal common token
  * run around the anchor, in a's coordinates.
  */
case class ExtendMatchExpr(first: Expression, second: Expression,
    third: Expression, fourth: Expression, k: Int) extends QuaternaryExpression {
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def prettyName: String = "extend_match"
  override protected def nullSafeEval(a: Any, pa: Any, b: Any, pb: Any): Any =
    ExprHelpers.extendMatch(a.asInstanceOf[ArrayData], pa.asInstanceOf[Int],
      b.asInstanceOf[ArrayData], pb.asInstanceOf[Int], k)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, pa, b, pb) =>
      s"graft.plans.ExprHelpers.extendMatch($a, $pa, $b, $pb, $k)")
  override protected def withNewChildrenInternal(a: Expression, pa: Expression,
      b: Expression, pb: Expression): ExtendMatchExpr =
    copy(first = a, second = pa, third = b, fourth = pb)
}

/** Mergeable Bloom-filter aggregate with EXPLICIT sizing: unlike Spark's
  * BloomFilterAggregate there is no lazy Math.min clamp against session
  * confs (which executors re-read at execution time — raising then
  * restoring the confs around the build silently shrinks the filter).
  * Buffer and wire format are `org.apache.spark.util.sketch.BloomFilter`,
  * so `might_contain` (BloomFilterMightContain) probes the output bytes
  * unchanged. Reference capability: very-large-benchmark decontamination
  * (SURVEY §2.6); sizing contract in `Decontamination.contaminatedIdsBloom`.
  */
case class GraftBloomAggregate(
    child: Expression,
    numItems: Long,
    numBits: Long,
    override val mutableAggBufferOffset: Int = 0,
    override val inputAggBufferOffset: Int = 0)
  extends org.apache.spark.sql.catalyst.expressions.aggregate
    .TypedImperativeAggregate[org.apache.spark.util.sketch.BloomFilter] {
  import org.apache.spark.util.sketch.BloomFilter

  require(numItems > 0 && numBits > 0, "graft_bloom_agg: sizes must be positive")

  override def createAggregationBuffer(): BloomFilter =
    BloomFilter.create(numItems, numBits)
  override def update(buffer: BloomFilter,
      input: org.apache.spark.sql.catalyst.InternalRow): BloomFilter = {
    val v = child.eval(input)
    if (v != null) buffer.putLong(v.asInstanceOf[Long])
    buffer
  }
  override def merge(buffer: BloomFilter, other: BloomFilter): BloomFilter = {
    buffer.mergeInPlace(other); buffer
  }
  override def eval(buffer: BloomFilter): Any = serialize(buffer)
  override def serialize(buffer: BloomFilter): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    buffer.writeTo(out)
    out.toByteArray
  }
  override def deserialize(bytes: Array[Byte]): BloomFilter =
    BloomFilter.readFrom(new java.io.ByteArrayInputStream(bytes))
  override def dataType: DataType = org.apache.spark.sql.types.BinaryType
  override def nullable: Boolean = false
  override def children: Seq[Expression] = Seq(child)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(child = newChildren.head)
  override def withNewMutableAggBufferOffset(newOffset: Int): GraftBloomAggregate =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): GraftBloomAggregate =
    copy(inputAggBufferOffset = newOffset)
  override def prettyName: String = "graft_bloom_agg"
}

/** The native expressions as typed Columns — how library operators put
  * them into plans. Each function builds the same case class as its
  * registry builder in [[NativeExpressions.all]], so the plan is the one
  * the SQL spelling gives, but it needs no function registry on the
  * session and no SQL text: a column name reaches the expression through
  * [[exactCol]], whatever characters it holds.
  */
object NativeColumns {
  private def e(c: Column): Expression = ColumnBridge.expression(c)
  private def c(e: Expression): Column = ColumnBridge.column(e)

  /** Reference to the column named exactly `name`: dots, spaces and
    * backticks are part of the name, never a path or SQL.
    */
  def exactCol(name: String): Column = col(s"`${name.replace("`", "``")}`")

  def simhash64(text: Column): Column = c(SimHash64Expr(e(text)))

  def minhashBands(text: Column, shingleSize: Int, numPerms: Int, numBands: Int,
      seed: Int): Column =
    c(MinHashBandsExpr(e(text), shingleSize, numPerms, numBands, seed))

  def shingleHashes(text: Column, shingleSize: Int): Column =
    c(ShingleHashesExpr(e(text), shingleSize))

  def jaccardLong(a: Column, b: Column): Column = c(JaccardLongExpr(e(a), e(b)))

  /** Exact cosine in double, one codegen'd loop per pair (see
    * [[ExprHelpers.cosineSim]]: bit-identical to the zip_with/aggregate
    * formulation).
    */
  def cosineSim(a: Column, b: Column): Column = c(CosineSimExpr(e(a), e(b)))

  def tokenHashes(text: Column): Column = c(TokenHashesExpr(e(text)))

  def winnowAnchors(text: Column, k: Int, w: Int): Column = c(WinnowAnchorsExpr(e(text), k, w))

  def extendMatch(tokA: Column, posA: Column, tokB: Column, posB: Column, k: Int): Column =
    c(ExtendMatchExpr(e(tokA), e(posA), e(tokB), e(posB), k))

  def planeSig(vec: Column, dim: Int, bits: Int, seed: Int): Column =
    c(PlaneSigExpr(e(vec), dim, bits, seed))

  def hashEmbed(text: Column, dim: Int): Column = c(HashEmbedExpr(e(text), dim))

  def graftBloomAgg(value: Column, numItems: Long, numBits: Long): Column =
    c(GraftBloomAggregate(e(value), numItems, numBits).toAggregateExpression())

  def mightContain(bloom: Column, value: Column): Column =
    c(new BloomFilterMightContain(e(bloom), e(value)))

  def nearestCentroids(vec: Column, centroids: Array[Array[Double]], take: Int): Column =
    c(NearestCentroidsExpr(e(vec), Centroids(centroids), take))

  def nearestCentroidsD(vec: Column, centroids: Array[Array[Double]], take: Int): Column =
    c(NearestCentroidsDExpr(e(vec), Centroids(centroids), take))

  def graftHash64(str: Column): Column = c(Hash64Expr(e(str)))

  def graftCmsAgg(hash: Column, width: Int, depth: Int, seed: Int): Column =
    c(GraftCmsAggregate(e(hash), width, depth, seed).toAggregateExpression())

  def graftCmsMergeAgg(sketch: Column): Column =
    c(GraftCmsMergeAggregate(e(sketch)).toAggregateExpression())

  def cmsEstimate(sketch: Column, hash: Column): Column = c(CmsEstimateExpr(e(sketch), e(hash)))

  // TextAnalysis' feature kernels: not in the function registry, so no SQL spelling.

  private[graft] def qualityCounts(text: Column, lowerText: Column, stopwords: Seq[String]): Column =
    c(QualityCountsExpr(e(text), e(lowerText), stopwords))

  private[graft] def gopherCounts(text: Column): Column = c(GopherCountsExpr(e(text)))
}

object NativeExpressions {

  val all: Seq[(String, Seq[Expression] => Expression)] = Seq(
    "simhash64" -> (args => SimHash64Expr(args.head)),
    "minhash_bands" -> { args =>
      def lit(i: Int): Int = args(i).eval().asInstanceOf[Number].intValue()
      args.length match {
        case 1 => MinHashBandsExpr(args.head)
        case 4 => MinHashBandsExpr(args.head, lit(1), lit(2), lit(3))
        case 5 => MinHashBandsExpr(args.head, lit(1), lit(2), lit(3), lit(4))
        case n => throw new IllegalArgumentException(s"minhash_bands: bad arg count $n")
      }
    },
    "shingle_hashes" -> { args =>
      args.length match {
        case 1 => ShingleHashesExpr(args.head)
        case 2 => ShingleHashesExpr(args.head,
          args(1).eval().asInstanceOf[Number].intValue())
        case n => throw new IllegalArgumentException(s"shingle_hashes: bad arg count $n")
      }
    },
    "rolling_hash" -> (args => RollingHashExpr(args.head)),
    "jaccard_long" -> (args => JaccardLongExpr(args(0), args(1))),
    "cosine_sim" -> (args => CosineSimExpr(args(0), args(1))),
    "plane_sig" -> { args =>
      def lit(i: Int): Int = args(i).eval().asInstanceOf[Number].intValue()
      require(args.length == 4, s"plane_sig(vec, dim, bits, seed): bad arg count ${args.length}")
      PlaneSigExpr(args.head, lit(1), lit(2), lit(3))
    },
    "token_hashes" -> (args => TokenHashesExpr(args.head)),
    "hash_embed" -> { args =>
      require(args.length == 2, s"hash_embed(text, dim): bad arg count ${args.length}")
      HashEmbedExpr(args.head, args(1).eval().asInstanceOf[Number].intValue())
    },
    "winnow_anchors" -> { args =>
      def lit(i: Int): Int = args(i).eval().asInstanceOf[Number].intValue()
      require(args.length == 3, s"winnow_anchors(text, k, w): bad arg count ${args.length}")
      WinnowAnchorsExpr(args.head, lit(1), lit(2))
    },
    "extend_match" -> { args =>
      require(args.length == 5, s"extend_match(tok_a, pos_a, tok_b, pos_b, k): bad arg count ${args.length}")
      ExtendMatchExpr(args(0), args(1), args(2), args(3),
        args(4).eval().asInstanceOf[Number].intValue())
    },
    // Spark ships BloomFilterAggregate/BloomFilterMightContain for its
    // runtime row-group filters but does not expose them in the public
    // registry; graft surfaces them for Bloom-based decontamination
    // (codegen'd probe, mergeable binary aggregate)
    "bloom_filter_agg" -> { args =>
      args.length match {
        case 1 => new org.apache.spark.sql.catalyst.expressions.aggregate
          .BloomFilterAggregate(args(0))
        case 2 => new org.apache.spark.sql.catalyst.expressions.aggregate
          .BloomFilterAggregate(args(0), args(1))
        case 3 => new org.apache.spark.sql.catalyst.expressions.aggregate
          .BloomFilterAggregate(args(0), args(1), args(2))
        case n => throw new IllegalArgumentException(s"bloom_filter_agg: bad arg count $n")
      }
    },
    // Spark's BloomFilterAggregate silently clamps numItems/numBits via
    // Math.min against session confs read lazily on the EXECUTORS — the
    // only way to size it honestly is mutating session-global confs
    // (ADVICE r6: that leaks into Spark's own runtime filters). This one
    // takes its sizes as literals, no conf reads anywhere; the output
    // bytes are the same org.apache.spark.util.sketch.BloomFilter wire
    // format BloomFilterMightContain probes.
    "graft_bloom_agg" -> { args =>
      require(args.length == 3, s"graft_bloom_agg(value, items, bits): bad arg count ${args.length}")
      def lit(i: Int): Long = args(i).eval().asInstanceOf[Number].longValue()
      GraftBloomAggregate(args.head, lit(1), lit(2))
    },
    "might_contain" -> { args =>
      require(args.length == 2, s"might_contain(bloom, value): bad arg count ${args.length}")
      new org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain(args(0), args(1))
    },
    "graft_hash64" -> { args =>
      require(args.length == 1, s"graft_hash64(str): bad arg count ${args.length}")
      Hash64Expr(args.head)
    },
    "graft_cms_agg" -> { args =>
      require(args.length == 4,
        s"graft_cms_agg(hash, width, depth, seed): bad arg count ${args.length}")
      def lit(i: Int): Int = args(i).eval().asInstanceOf[Number].intValue()
      GraftCmsAggregate(args.head, lit(1), lit(2), lit(3))
    },
    "graft_cms_merge_agg" -> { args =>
      require(args.length == 1, s"graft_cms_merge_agg(sketch): bad arg count ${args.length}")
      GraftCmsMergeAggregate(args.head)
    },
    "cms_estimate" -> { args =>
      require(args.length == 2, s"cms_estimate(sketch, hash): bad arg count ${args.length}")
      CmsEstimateExpr(args(0), args(1))
    })

  /** Register the native functions in the session registry — the SQL
    * surface for users and driver SQL; `GraftSession.create` calls it
    * once. Library operators never need it: they build the expressions
    * through [[NativeColumns]]. Idempotent: a name whose registered
    * builder is already this object's is skipped, so a repeat call
    * replaces (and logs) nothing.
    */
  def register(spark: SparkSession): Unit = {
    val registry = spark.sessionState.functionRegistry
    all.foreach { case (name, builder) =>
      if (!registry.lookupFunctionBuilder(FunctionIdentifier(name)).exists(_ eq builder))
        registry.createOrReplaceTempFunction(name, builder, "built-in")
    }
  }

  /** Append `rule` to the session's extra optimizer rules (idempotent). */
  private[plans] def addOptimizerRule(spark: SparkSession, rule: Rule[LogicalPlan]): Unit = {
    val cur = spark.experimental.extraOptimizations
    if (!cur.exists(_ eq rule))
      spark.experimental.extraOptimizations = cur :+ rule
  }
}

/** SparkSessionExtensions entry point: add
  * `spark.sql.extensions=graft.plans.GraftExtensions` and every session
  * gets the native functions, the ts predicate pushdown and the decimal
  * kernels without user code.
  */
class GraftExtensions extends (org.apache.spark.sql.SparkSessionExtensions => Unit) {
  override def apply(ext: org.apache.spark.sql.SparkSessionExtensions): Unit = {
    NativeExpressions.all.foreach { case (name, builder) =>
      ext.injectFunction((FunctionIdentifier(name),
        new ExpressionInfo("graft.plans.NativeExpressions", name), builder))
    }
    ext.injectOptimizerRule(_ => TsPushdown)
    ext.injectOptimizerRule(_ => DecimalKernels)
  }
}
