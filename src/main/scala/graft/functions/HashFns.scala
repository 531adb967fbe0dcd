package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression, XXH64}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.classic.GraftColumnBridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** Hash-signature kernels (SimHash) as custom Catalyst expressions.
  *
  * SimHash over a token array is a single pass: hash each token to 64
  * bits (xxhash64, seed 42 — identical to Spark's built-in `xxhash64`),
  * vote +1/-1 per bit position, emit the sign vector as a long. Doing
  * this in one generated-code loop replaces a 64-way nested
  * higher-order-function expression tree (64 array traversals per row)
  * with one traversal — the difference between O(tokens) and
  * O(64·tokens) per document at 100 TB.
  */
object HashFns {

  /** Static helper invoked from both interpreted eval and generated code. */
  def simhash64(arr: ArrayData): Long = {
    val n = arr.numElements()
    val votes = new Array[Int](64)
    var i = 0
    while (i < n) {
      if (!arr.isNullAt(i)) {
        val s = arr.getUTF8String(i)
        val h = XXH64.hashUnsafeBytes(s.getBaseObject, s.getBaseOffset, s.numBytes, 42L)
        var j = 0
        while (j < 64) {
          if (((h >>> j) & 1L) == 1L) votes(j) += 1 else votes(j) -= 1
          j += 1
        }
      }
      i += 1
    }
    var sig = 0L
    var j = 0
    while (j < 64) {
      if (votes(j) > 0) sig |= (1L << j)
      j += 1
    }
    sig
  }

  case class SimHash64(child: Expression) extends UnaryExpression {
    override def dataType: DataType = LongType
    override def nullIntolerant: Boolean = true
    override def prettyName: String = "simhash64"

    override def nullSafeEval(input: Any): Any =
      simhash64(input.asInstanceOf[ArrayData])

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, c => s"graft.functions.HashFns.simhash64($c)")

    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  def simhash(tokens: Column): Column =
    GraftColumnBridge.column(SimHash64(GraftColumnBridge.expression(tokens)))

  /** One-pass MinHash over byte n-gram shingles of a string.
    *
    * Per shingle window, two base hashes (xxhash64 with seeds 42/1337)
    * are combined Kirsch-Mitzenmacher-style (`h1 + i*h2`) into k virtual
    * hash functions; the k running minima form the signature. One pass,
    * zero allocation per shingle — replaces a 32-traversal
    * higher-order-function chain (the difference between ~20µs and
    * ~20ms per document).
    *
    * Shingling is over UTF-8 bytes (≡ chars for ASCII corpora); the
    * signature only drives LSH candidate generation, so this is an
    * algorithm definition, not an oracle-checked semantic.
    */
  def minhashShingles(s: UTF8String, n: Int, k: Int): ArrayData = {
    val bytes = s.getBytes // materialized once per row
    val mins = Array.fill(k)(Long.MaxValue)
    val nWin = math.max(bytes.length - n + 1, 1)
    val win = math.min(n, bytes.length)
    var i = 0
    while (i < nWin) {
      val h1 = XXH64.hashUnsafeBytes(bytes, Platform.BYTE_ARRAY_OFFSET + i, win, 42L)
      // force the KM stride odd (coprime to 2^64) so the k virtual hash
      // functions cover the full residue ring — an even stride would
      // confine them to a subgroup and correlate signature components
      val h2 = XXH64.hashUnsafeBytes(bytes, Platform.BYTE_ARRAY_OFFSET + i, win, 1337L) | 1L
      var j = 0
      var h = h1
      while (j < k) {
        if (h < mins(j)) mins(j) = h
        h += h2
        j += 1
      }
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(mins)
  }

  /** One-pass MinHash over word n-gram shingles of a token array: the
    * window hash mixes the n consecutive per-token hashes; same
    * Kirsch-Mitzenmacher amplification to k functions.
    */
  def minhashWordShingles(arr: ArrayData, n: Int, k: Int): ArrayData = {
    val nTok = arr.numElements()
    val tokH = new Array[Long](math.max(nTok, 1))
    var t = 0
    while (t < nTok) {
      if (!arr.isNullAt(t)) {
        val s = arr.getUTF8String(t)
        tokH(t) = XXH64.hashUnsafeBytes(s.getBaseObject, s.getBaseOffset, s.numBytes, 42L)
      }
      t += 1
    }
    val mins = Array.fill(k)(Long.MaxValue)
    val nWin = math.max(nTok - n + 1, 1)
    val win = math.min(n, math.max(nTok, 1))
    var i = 0
    while (i < nWin) {
      var h1 = 0L; var h2 = 1L
      var w = 0
      while (w < win) {
        val th = tokH(i + w)
        h1 = h1 * 31L + th
        h2 = h2 * 1099511628211L ^ th
        w += 1
      }
      var j = 0
      var h = h1
      while (j < k) {
        if (h < mins(j)) mins(j) = h
        h += h2 | 1L // force odd so the stride cycles all residues
        j += 1
      }
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(mins)
  }

  case class MinHashShingleSig(child: Expression, n: Int, k: Int)
      extends UnaryExpression {
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def nullIntolerant: Boolean = true
    override def prettyName: String = "minhash_shingle_sig"
    override def nullSafeEval(input: Any): Any =
      minhashShingles(input.asInstanceOf[UTF8String], n, k)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, c => s"graft.functions.HashFns.minhashShingles($c, $n, $k)")
    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  case class MinHashWordSig(child: Expression, n: Int, k: Int)
      extends UnaryExpression {
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def nullIntolerant: Boolean = true
    override def prettyName: String = "minhash_word_sig"
    override def nullSafeEval(input: Any): Any =
      minhashWordShingles(input.asInstanceOf[ArrayData], n, k)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, c => s"graft.functions.HashFns.minhashWordShingles($c, $n, $k)")
    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  /** Exact Jaccard over two SORTED, de-duplicated string arrays: one
    * merge pass with UTF8String comparisons — no hash sets, no per-call
    * allocation (vs array_intersect + array_union, which builds two
    * hash maps per row). Used for verifying LSH candidate pairs.
    */
  def sortedJaccard(a: ArrayData, b: ArrayData): Double = {
    val na = a.numElements(); val nb = b.numElements()
    var i = 0; var j = 0; var inter = 0
    while (i < na && j < nb) {
      val cmp = a.getUTF8String(i).compareTo(b.getUTF8String(j))
      if (cmp == 0) { inter += 1; i += 1; j += 1 }
      else if (cmp < 0) i += 1
      else j += 1
    }
    val union = na + nb - inter
    if (union == 0) 0.0 else inter.toDouble / union
  }

  case class SortedJaccard(left: Expression, right: Expression)
      extends BinaryExpression {
    override def dataType: DataType = DoubleType
    override def nullIntolerant: Boolean = true
    override def prettyName: String = "sorted_jaccard"
    override def nullSafeEval(a: Any, b: Any): Any =
      sortedJaccard(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, (a, b) => s"graft.functions.HashFns.sortedJaccard($a, $b)")
    override protected def withNewChildrenInternal(
        newLeft: Expression, newRight: Expression): Expression =
      copy(left = newLeft, right = newRight)
  }

  def jaccardSorted(a: Column, b: Column): Column =
    GraftColumnBridge.column(SortedJaccard(GraftColumnBridge.expression(a),
                                           GraftColumnBridge.expression(b)))

  /** Winnowing document fingerprints (Schleimer/Wilkerson/Aiken's
    * public MOSS algorithm): Rabin-Karp ROLLING hash over byte k-grams
    * (O(1) per position — one multiply, one subtract, one add), then
    * the minimum hash of each window of `w` consecutive k-gram hashes
    * (rightmost minimum) is selected. The selected set is
    * position-shift-robust: edits only perturb fingerprints within ±w
    * positions, so shared-fingerprint counts localize duplication.
    */
  def winnow(s: UTF8String, k: Int, w: Int): ArrayData = {
    val bytes = s.getBytes
    val n = bytes.length
    if (n < k) return new org.apache.spark.sql.catalyst.util.GenericArrayData(Array.empty[Long])
    val B = 257L
    var pow = 1L // B^(k-1)
    var i = 1
    while (i < k) { pow *= B; i += 1 }
    val nGrams = n - k + 1
    val hs = new Array[Long](nGrams)
    var h = 0L
    i = 0
    while (i < k) { h = h * B + (bytes(i) & 0xff); i += 1 }
    hs(0) = h
    i = 1
    while (i < nGrams) {
      h = (h - (bytes(i - 1) & 0xff) * pow) * B + (bytes(i + k - 1) & 0xff)
      hs(i) = h
      i += 1
    }
    if (nGrams <= w)
      return new org.apache.spark.sql.catalyst.util.GenericArrayData(Array(hs.min))
    val out = scala.collection.mutable.LinkedHashSet.empty[Long]
    i = 0
    while (i + w <= nGrams) {
      var minIdx = i
      var j = i + 1
      while (j < i + w) { if (hs(j) <= hs(minIdx)) minIdx = j; j += 1 }
      out += hs(minIdx)
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out.toArray)
  }

  case class Winnow(child: Expression, k: Int, w: Int) extends UnaryExpression {
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def nullIntolerant: Boolean = true
    override def prettyName: String = "winnow"
    override def nullSafeEval(input: Any): Any =
      winnow(input.asInstanceOf[UTF8String], k, w)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, c => s"graft.functions.HashFns.winnow($c, $k, $w)")
    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  def winnowFingerprints(text: Column, k: Int = 8, w: Int = 4): Column =
    GraftColumnBridge.column(Winnow(GraftColumnBridge.expression(text), k, w))

  /** Feature-hashing TF vector: one pass over the token array, murmur-
    * free bucket assignment via xxhash64(token) mod dim, L2-normalized
    * float output — the classic hashing-trick text vectorizer, turning
    * any document into an `array<float>` the ANN/near-dup operators
    * consume directly.
    */
  def hashingTf(arr: ArrayData, dim: Int): ArrayData = {
    val v = new Array[Float](dim)
    val n = arr.numElements()
    var i = 0
    while (i < n) {
      if (!arr.isNullAt(i)) {
        val s = arr.getUTF8String(i)
        val h = XXH64.hashUnsafeBytes(s.getBaseObject, s.getBaseOffset, s.numBytes, 42L)
        v(java.lang.Math.floorMod(h, dim.toLong).toInt) += 1f
      }
      i += 1
    }
    var norm = 0.0
    var j = 0
    while (j < dim) { norm += v(j).toDouble * v(j); j += 1 }
    if (norm > 0) {
      val inv = (1.0 / math.sqrt(norm)).toFloat
      j = 0
      while (j < dim) { v(j) *= inv; j += 1 }
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(v)
  }

  case class HashingTfVec(child: Expression, dim: Int) extends UnaryExpression {
    override def dataType: DataType = ArrayType(FloatType, containsNull = false)
    override def nullIntolerant: Boolean = true
    override def prettyName: String = "hashing_tf"
    override def nullSafeEval(input: Any): Any =
      hashingTf(input.asInstanceOf[ArrayData], dim)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, c => s"graft.functions.HashFns.hashingTf($c, $dim)")
    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  def hashingTfVec(tokens: Column, dim: Int): Column =
    GraftColumnBridge.column(HashingTfVec(GraftColumnBridge.expression(tokens), dim))

  /** Sorted, de-duplicated char n-gram shingle set in one pass — the
    * fused form of `array_sort(array_distinct(transform(sequence(...),
    * substr)))`, which allocates an index array, one UTF8String per
    * window, a distinct hash table and a sort per row. Semantics are
    * identical to [[graft.functions.TextFns.charShingles]] + array_sort
    * (char windows, short-text degenerate window, UTF8String binary
    * order — equivalence spec in `TextFnsSpec`), so the exact-jaccard
    * oracle agreement is unchanged.
    */
  def sortedShingles(s: UTF8String, n: Int): ArrayData = {
    // windows over CODEPOINTS — the unit Spark's length()/substr() (and
    // the DuckDB oracle) count, so supplementary-plane chars shingle
    // identically to charShingles. Codepoint byte offsets are computed
    // ONCE and windows slice the byte array directly: O(len + windows),
    // not the O(len²) of per-window UTF8String.substring scans.
    val bytes = s.getBytes
    val offsets = new Array[Int](bytes.length + 1)
    var len = 0 // codepoint count
    var pos = 0
    while (pos < bytes.length) {
      offsets(len) = pos
      pos += UTF8String.numBytesForFirstByte(bytes(pos))
      len += 1
    }
    offsets(len) = bytes.length
    val nWin = math.max(len - n + 1, 1)
    val arr = new Array[UTF8String](nWin)
    var i = 0
    while (i < nWin) {
      val start = offsets(i)
      val end = offsets(math.min(i + n, len))
      arr(i) = UTF8String.fromBytes(bytes, start, end - start)
      i += 1
    }
    java.util.Arrays.sort(arr, (a: UTF8String, b: UTF8String) => a.compareTo(b))
    // adjacent dedup on the sorted array
    var w = 0
    i = 0
    while (i < nWin) {
      if (w == 0 || arr(i).compareTo(arr(w - 1)) != 0) { arr(w) = arr(i); w += 1 }
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      java.util.Arrays.copyOf(arr.asInstanceOf[Array[AnyRef]], w))
  }

  case class SortedCharShingles(child: Expression, n: Int) extends UnaryExpression {
    override def dataType: DataType = ArrayType(StringType, containsNull = false)
    override def nullIntolerant: Boolean = true
    override def prettyName: String = "sorted_char_shingles"
    override def nullSafeEval(input: Any): Any =
      sortedShingles(input.asInstanceOf[UTF8String], n)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, c => s"graft.functions.HashFns.sortedShingles($c, $n)")
    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  def sortedShingleSet(text: Column, n: Int): Column =
    GraftColumnBridge.column(
      SortedCharShingles(GraftColumnBridge.expression(text), n))

  /** Sorted HASHED shingle set: each codepoint n-gram window hashed to
    * a 64-bit value (XXH64 seed 42 — the [[minhashShingles]] base
    * hash), sorted, deduped. Jaccard over these long sets equals
    * jaccard over the string sets absent 64-bit collisions (P < 1e-11
    * for ~10³ shingles/doc), and the merge compares primitive longs
    * instead of UTF8Strings — the verify-stage payload drops to
    * 8 bytes/shingle and the comparator to one branch. Windows cover
    * CODEPOINTS via the same offsets walk as [[sortedShingles]] (one
    * O(len) pass, windows hash byte slices in place), so accented text
    * — the reference's French corpora keep é/è/ç through normalization
    * — shingles identically to the oracle-anchored string kernel; the
    * equivalence spec in `HashFnsSpec` pins an accented case.
    */
  def sortedShingleHashes(s: UTF8String, n: Int): ArrayData = {
    val bytes = s.getBytes
    val offsets = new Array[Int](bytes.length + 1)
    var len = 0 // codepoint count
    var pos = 0
    while (pos < bytes.length) {
      offsets(len) = pos
      pos += UTF8String.numBytesForFirstByte(bytes(pos))
      len += 1
    }
    offsets(len) = bytes.length
    val nWin = math.max(len - n + 1, 1)
    val arr = new Array[Long](nWin)
    var i = 0
    while (i < nWin) {
      val start = offsets(i)
      val end = offsets(math.min(i + n, len))
      arr(i) = XXH64.hashUnsafeBytes(bytes, Platform.BYTE_ARRAY_OFFSET + start, end - start, 42L)
      i += 1
    }
    java.util.Arrays.sort(arr)
    var w = 0
    i = 0
    while (i < nWin) {
      if (w == 0 || arr(i) != arr(w - 1)) { arr(w) = arr(i); w += 1 }
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      java.util.Arrays.copyOf(arr, w))
  }

  case class SortedShingleHashSet(child: Expression, n: Int) extends UnaryExpression {
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def nullIntolerant: Boolean = true
    override def prettyName: String = "sorted_shingle_hashes"
    override def nullSafeEval(input: Any): Any =
      sortedShingleHashes(input.asInstanceOf[UTF8String], n)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, c => s"graft.functions.HashFns.sortedShingleHashes($c, $n)")
    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  def sortedShingleHashSet(text: Column, n: Int): Column =
    GraftColumnBridge.column(
      SortedShingleHashSet(GraftColumnBridge.expression(text), n))

  /** Exact jaccard of two SORTED long arrays — one merge pass over
    * primitives (the [[sortedJaccard]] twin for hashed shingle sets).
    */
  def sortedJaccardLong(a: ArrayData, b: ArrayData): Double = {
    val na = a.numElements()
    val nb = b.numElements()
    if (na == 0 && nb == 0) return 0.0
    var i = 0
    var j = 0
    var inter = 0
    while (i < na && j < nb) {
      val x = a.getLong(i)
      val y = b.getLong(j)
      if (x == y) { inter += 1; i += 1; j += 1 }
      else if (x < y) i += 1
      else j += 1
    }
    inter.toDouble / (na + nb - inter)
  }

  case class SortedJaccardLong(left: Expression, right: Expression)
      extends BinaryExpression {
    override def dataType: DataType = DoubleType
    override def nullIntolerant: Boolean = true
    override def prettyName: String = "sorted_jaccard_long"
    override def nullSafeEval(a: Any, b: Any): Any =
      sortedJaccardLong(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, (a, b) => s"graft.functions.HashFns.sortedJaccardLong($a, $b)")
    override protected def withNewChildrenInternal(
        newLeft: Expression, newRight: Expression): Expression =
      copy(left = newLeft, right = newRight)
  }

  def jaccardSortedLong(a: Column, b: Column): Column =
    GraftColumnBridge.column(SortedJaccardLong(GraftColumnBridge.expression(a),
                                               GraftColumnBridge.expression(b)))

  /** [[sortedJaccardLong]] with an EARLY EXIT against a threshold: the
    * exact jaccard when the merge completes, or the sentinel -1.0 the
    * moment the pair is PROVABLY below `t`. Sound against the final
    * double semantics: the bail bound is the jaccard the pair would
    * reach if every remaining element intersected — the final value is
    * ≤ that rational, and IEEE rounding is monotone, so
    * fl(final) ≤ fl(bound) < t ⟹ the completed merge would fail the
    * same `>= t` filter. Use ONLY under a `>= t` filter (the sentinel
    * is not a jaccard); survivors carry the exact value, so a chain's
    * emitted rows are bit-identical to the plain kernel's. The size
    * screen (min/|max| < t) rejects nested-size mismatches with zero
    * merge work; the in-merge bound is checked every 32 steps so
    * surviving pairs pay ~3% over the plain merge while
    * mid-similarity candidates (the 16×2 d28 geometry's bulk) bail
    * partway.
    */
  def sortedJaccardLongAtLeast(a: ArrayData, b: ArrayData, t: Double): Double = {
    val na = a.numElements()
    val nb = b.numElements()
    if (na == 0 && nb == 0) return 0.0
    val lo = math.min(na, nb)
    val hi = math.max(na, nb)
    if (lo.toDouble / hi < t) return -1.0
    var i = 0
    var j = 0
    var inter = 0
    var steps = 0
    while (i < na && j < nb) {
      if ((steps & 31) == 31) {
        val maxI = inter + math.min(na - i, nb - j)
        if (maxI.toDouble / (na + nb - maxI) < t) return -1.0
      }
      steps += 1
      val x = a.getLong(i)
      val y = b.getLong(j)
      if (x == y) { inter += 1; i += 1; j += 1 }
      else if (x < y) i += 1
      else j += 1
    }
    inter.toDouble / (na + nb - inter)
  }

  case class SortedJaccardLongAtLeast(left: Expression, right: Expression,
                                      t: Double) extends BinaryExpression {
    override def dataType: DataType = DoubleType
    override def nullIntolerant: Boolean = true
    override def prettyName: String = "sorted_jaccard_long_at_least"
    override def nullSafeEval(a: Any, b: Any): Any =
      sortedJaccardLongAtLeast(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData], t)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev,
        (a, b) => s"graft.functions.HashFns.sortedJaccardLongAtLeast($a, $b, $t)")
    override protected def withNewChildrenInternal(
        newLeft: Expression, newRight: Expression): Expression =
      copy(left = newLeft, right = newRight)
  }

  def jaccardSortedLongAtLeast(a: Column, b: Column, t: Double): Column =
    GraftColumnBridge.column(SortedJaccardLongAtLeast(
      GraftColumnBridge.expression(a), GraftColumnBridge.expression(b), t))

  /** Exact |A∩B| of two SORTED long arrays — the same merge pass as
    * [[sortedJaccardLong]] returning the raw count (the containment
    * join divides by |A| only, which jaccard cannot express).
    */
  def sortedIntersectCountLong(a: ArrayData, b: ArrayData): Long = {
    val na = a.numElements()
    val nb = b.numElements()
    var i = 0
    var j = 0
    var inter = 0L
    while (i < na && j < nb) {
      val x = a.getLong(i)
      val y = b.getLong(j)
      if (x == y) { inter += 1; i += 1; j += 1 }
      else if (x < y) i += 1
      else j += 1
    }
    inter
  }

  case class SortedIntersectCountLong(left: Expression, right: Expression)
      extends BinaryExpression {
    override def dataType: DataType = LongType
    override def nullIntolerant: Boolean = true
    override def prettyName: String = "sorted_intersect_count_long"
    override def nullSafeEval(a: Any, b: Any): Any =
      sortedIntersectCountLong(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev,
        (a, b) => s"graft.functions.HashFns.sortedIntersectCountLong($a, $b)")
    override protected def withNewChildrenInternal(
        newLeft: Expression, newRight: Expression): Expression =
      copy(left = newLeft, right = newRight)
  }

  def intersectCountSortedLong(a: Column, b: Column): Column =
    GraftColumnBridge.column(
      SortedIntersectCountLong(GraftColumnBridge.expression(a),
                               GraftColumnBridge.expression(b)))

  /** Pack a MinHash signature (array<long>) into one byte per
    * component (low byte — minima are uniform). Component equality ⇒
    * byte equality; false byte-equality adds ~1/256·(1−j) to the
    * estimate, absorbed by the prefilter margin. The prefilter joins
    * then ship 32 bytes per side instead of a 32×8-byte array.
    */
  def packSigBytes(sig: ArrayData): Array[Byte] = {
    val n = sig.numElements()
    val out = new Array[Byte](n)
    var i = 0
    while (i < n) { out(i) = (sig.getLong(i) & 0xFFL).toByte; i += 1 }
    out
  }

  case class PackSigBytes(child: Expression) extends UnaryExpression {
    override def dataType: DataType = BinaryType
    override def nullIntolerant: Boolean = true
    override def prettyName: String = "pack_sig_bytes"
    override def nullSafeEval(input: Any): Any =
      packSigBytes(input.asInstanceOf[ArrayData])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, c => s"graft.functions.HashFns.packSigBytes($c)")
    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  def sigBytes(sig: Column): Column =
    GraftColumnBridge.column(PackSigBytes(GraftColumnBridge.expression(sig)))

  /** Fraction of matching components of two byte-packed signatures. */
  def sigMatchFracBytes(a: Array[Byte], b: Array[Byte]): Double = {
    val n = math.min(a.length, b.length)
    if (n == 0) return 0.0
    var same = 0
    var i = 0
    while (i < n) {
      if (a(i) == b(i)) same += 1
      i += 1
    }
    same.toDouble / n
  }

  case class SigMatchFracBytes(left: Expression, right: Expression)
      extends BinaryExpression {
    override def dataType: DataType = DoubleType
    override def nullIntolerant: Boolean = true
    override def prettyName: String = "sig_match_frac_bytes"
    override def nullSafeEval(a: Any, b: Any): Any =
      sigMatchFracBytes(a.asInstanceOf[Array[Byte]], b.asInstanceOf[Array[Byte]])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, (a, b) => s"graft.functions.HashFns.sigMatchFracBytes($a, $b)")
    override protected def withNewChildrenInternal(
        newLeft: Expression, newRight: Expression): Expression =
      copy(left = newLeft, right = newRight)
  }

  def signatureMatchFractionBytes(a: Column, b: Column): Column =
    GraftColumnBridge.column(SigMatchFracBytes(GraftColumnBridge.expression(a),
                                               GraftColumnBridge.expression(b)))

  /** MinHash signature (array<long> of k minima) over byte n-gram
    * shingles of a string column.
    */
  def minhashSig(text: Column, shingleLen: Int, numHashes: Int): Column =
    GraftColumnBridge.column(
      MinHashShingleSig(GraftColumnBridge.expression(text), shingleLen, numHashes))

  /** MinHash signature over word n-gram shingles of a token array column. */
  def minhashWordSig(tokens: Column, n: Int, numHashes: Int): Column =
    GraftColumnBridge.column(
      MinHashWordSig(GraftColumnBridge.expression(tokens), n, numHashes))

  // — engine-portable MinHash (the t08 move applied to d03/d05): gram
  //   hash = first 60 bits of MD5 (both engines compute MD5 of the
  //   same UTF-8 bytes; 60 bits = 15 hex chars, always positive in a
  //   signed 64-bit int on both sides), permutations = (a·h + b) mod
  //   M61 with 31-bit constants — exact on DuckDB as HUGEINT
  //   arithmetic, exact here as split-multiply long arithmetic (no
  //   BigInt, no Decimal). The whole LSH pipeline — signature,
  //   banding, candidate join, estimate prefilter, exact-jaccard
  //   verify — then produces IDENTICAL rows in Spark and DuckDB and
  //   the gate graduates from rows-only to hash-checked. —

  /** 2^61 − 1 (Mersenne): modulus of the portable permutation family. */
  val M61: Long = 2305843009213693951L

  /** 32 multipliers (odd, 31-bit) / offsets (31-bit) of the portable
    * permutation family. ONE source of truth: [[SparkEntry.oracleSql]]
    * interpolates these same arrays into the DuckDB literals.
    */
  val PortableA: Array[Long] = Array(
    1083260329L, 2100403129L, 486693445L, 682508699L, 1508920989L, 1125013669L,
    580460369L, 100390633L, 732745991L, 434255593L, 1840101537L, 297888149L,
    1892967029L, 1188936099L, 1508999011L, 818338013L, 745872241L, 2015402981L,
    866325075L, 1168600161L, 973972171L, 433196563L, 334387653L, 1026583727L,
    1561898831L, 1965667879L, 1424763935L, 661447465L, 915587883L, 8857115L,
    395361567L, 426115673L)
  val PortableB: Array[Long] = Array(
    111033653L, 1908583461L, 1796767331L, 429140786L, 1834908172L, 615918189L,
    1623535974L, 712786457L, 2140809552L, 1911756154L, 1012511371L, 1644249307L,
    44765227L, 873062139L, 588226228L, 970523419L, 1942642673L, 1550183666L,
    400268477L, 186477438L, 1603390405L, 322222631L, 1081041226L, 1412453142L,
    500668152L, 1775721109L, 948092453L, 2113453211L, 404213559L, 601844632L,
    96467830L, 1537843287L)

  /** (a·h + b) mod M61, exact, for 0 ≤ h < 2^60 and 31-bit a, b —
    * pure long arithmetic. Split h = hi·2^30 + lo; a·hi < 2^61 and
    * a·lo < 2^61 fit a long; a·hi·2^30 folds over the Mersenne
    * modulus as (a·hi div 2^31) + (a·hi mod 2^31)·2^30 (because
    * 2^61 ≡ 1 mod M61); the three-term sum stays < 2^63 and two
    * final folds reduce it below M61. `HashFnsSpec` property-tests
    * this against the BigInt formula — the same value DuckDB's
    * HUGEINT `%` produces.
    */
  def permuteM61(a: Long, b: Long, h: Long): Long = {
    val hi = h >>> 30
    val lo = h & 0x3FFFFFFFL
    val t = a * hi // < 2^61
    var x = (t >>> 31) + ((t & 0x7FFFFFFFL) << 30) + a * lo + b // < 2^63
    x = (x & M61) + (x >>> 61)
    if (x >= M61) x - M61 else x
  }

  /** First 60 bits of the MD5 of a UTF-8 byte slice — the value both
    * engines spell `('0x' || substr(md5(s), 1, 15))::bigint` /
    * `conv(substr(md5(s), 1, 15), 16, 10)`. The digest instance is
    * thread-local (MD5 `getInstance` allocates + provider-lookups;
    * this runs once per SHINGLE on the hot path) and reset by
    * `digest()` itself.
    */
  private val md5Local = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  def md5Gram60(bytes: Array[Byte], start: Int, len: Int): Long = {
    val md = md5Local.get()
    md.update(bytes, start, len)
    val d = md.digest()
    var v = 0L
    var i = 0
    while (i < 8) { v = (v << 8) | (d(i) & 0xFFL); i += 1 }
    v >>> 4
  }

  /** Sorted distinct md5-60-bit codepoint n-gram hashes — the
    * portable twin of [[sortedShingleHashes]] (same offsets walk and
    * window rule: max(len − n + 1, 1) windows, the short-text window
    * clipping at the end).
    */
  def sortedPortableShingleHashes(s: UTF8String, n: Int): ArrayData = {
    val bytes = s.getBytes
    val offsets = new Array[Int](bytes.length + 1)
    var len = 0
    var pos = 0
    while (pos < bytes.length) {
      offsets(len) = pos
      pos += UTF8String.numBytesForFirstByte(bytes(pos))
      len += 1
    }
    offsets(len) = bytes.length
    val nWin = math.max(len - n + 1, 1)
    val arr = new Array[Long](nWin)
    var i = 0
    while (i < nWin) {
      val start = offsets(i)
      val end = offsets(math.min(i + n, len))
      arr(i) = md5Gram60(bytes, start, end - start)
      i += 1
    }
    java.util.Arrays.sort(arr)
    var w = 0
    i = 0
    while (i < nWin) {
      if (w == 0 || arr(i) != arr(w - 1)) { arr(w) = arr(i); w += 1 }
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      java.util.Arrays.copyOf(arr, w))
  }

  case class SortedPortableShingleHashSet(child: Expression, n: Int)
      extends UnaryExpression {
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def nullIntolerant: Boolean = true
    override def prettyName: String = "sorted_portable_shingle_hashes"
    override def nullSafeEval(input: Any): Any =
      sortedPortableShingleHashes(input.asInstanceOf[UTF8String], n)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, c => s"graft.functions.HashFns.sortedPortableShingleHashes($c, $n)")
    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  def sortedPortableShingleHashSet(text: Column, n: Int): Column =
    GraftColumnBridge.column(
      SortedPortableShingleHashSet(GraftColumnBridge.expression(text), n))

  /** Portable MinHash signature from an array of 60-bit gram hashes:
    * component i = min over the array of permuteM61(A(i), B(i), h).
    * One pass, k running minima — O(k·|hs|) long ops, no hashing.
    */
  def portableMinhash(hs: ArrayData, k: Int): ArrayData = {
    val n = hs.numElements()
    val sig = new Array[Long](k)
    java.util.Arrays.fill(sig, Long.MaxValue)
    var i = 0
    while (i < n) {
      val h = hs.getLong(i)
      var j = 0
      while (j < k) {
        val v = permuteM61(PortableA(j), PortableB(j), h)
        if (v < sig(j)) sig(j) = v
        j += 1
      }
      i += 1
    }
    if (n == 0) java.util.Arrays.fill(sig, 0L) // defined empty-input value
    new org.apache.spark.sql.catalyst.util.GenericArrayData(sig)
  }

  case class PortableMinhashSig(child: Expression, k: Int) extends UnaryExpression {
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def nullIntolerant: Boolean = true
    override def prettyName: String = "portable_minhash_sig"
    override def nullSafeEval(input: Any): Any =
      portableMinhash(input.asInstanceOf[ArrayData], k)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, c => s"graft.functions.HashFns.portableMinhash($c, $k)")
    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  def portableMinhashSig(hashes: Column, k: Int): Column =
    GraftColumnBridge.column(
      PortableMinhashSig(GraftColumnBridge.expression(hashes), k))

  /** Count of positionally-equal components of two long-array
    * signatures — the integer form of the estimate prefilter (both
    * engines compare `nMatch >= ceil((thr − margin)·k)` with no
    * doubles involved).
    */
  def sigMatchCount(a: ArrayData, b: ArrayData): Int = {
    val n = math.min(a.numElements(), b.numElements())
    var same = 0
    var i = 0
    while (i < n) {
      if (a.getLong(i) == b.getLong(i)) same += 1
      i += 1
    }
    same
  }

  case class SigMatchCount(left: Expression, right: Expression)
      extends BinaryExpression {
    override def dataType: DataType = IntegerType
    override def nullIntolerant: Boolean = true
    override def prettyName: String = "sig_match_count"
    override def nullSafeEval(a: Any, b: Any): Any =
      sigMatchCount(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, (a, b) => s"graft.functions.HashFns.sigMatchCount($a, $b)")
    override protected def withNewChildrenInternal(
        newLeft: Expression, newRight: Expression): Expression =
      copy(left = newLeft, right = newRight)
  }

  def signatureMatchCount(a: Column, b: Column): Column =
    GraftColumnBridge.column(SigMatchCount(GraftColumnBridge.expression(a),
                                           GraftColumnBridge.expression(b)))

  /** Sorted distinct md5-60-bit WORD n-gram hashes — the portable twin
    * of `TextFns.wordShingles` + hashing: same window rule (starts
    * 0..max(nTok−n, 0), the short-doc all-tokens window included,
    * windows clip at the array end), tokens joined with single spaces,
    * then the joined string hashed like [[md5Gram60]]. DuckDB spells
    * the same value `('0x' || substr(md5(array_to_string(
    * toks[i : i+n−1], ' ')), 1, 15))::bigint`.
    */
  def sortedPortableWordShingleHashes(arr: ArrayData, n: Int): ArrayData = {
    val nTok = arr.numElements()
    val nWin = math.max(nTok - n + 1, 1)
    val buf = new Array[UTF8String](n)
    val sep = UTF8String.fromString(" ")
    val out = new Array[Long](nWin)
    var i = 0
    while (i < nWin) {
      val end = math.min(i + n, nTok)
      var w = 0
      while (w < end - i) {
        buf(w) = if (arr.isNullAt(i + w)) null else arr.getUTF8String(i + w)
        w += 1
      }
      while (w < n) { buf(w) = null; w += 1 } // concatWs skips nulls
      val joined = UTF8String.concatWs(sep, buf: _*).getBytes
      out(i) = md5Gram60(joined, 0, joined.length)
      i += 1
    }
    java.util.Arrays.sort(out)
    var w = 0
    i = 0
    while (i < nWin) {
      if (w == 0 || out(i) != out(w - 1)) { out(w) = out(i); w += 1 }
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      java.util.Arrays.copyOf(out, w))
  }

  case class SortedPortableWordShingleHashSet(child: Expression, n: Int)
      extends UnaryExpression {
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def nullIntolerant: Boolean = true
    override def prettyName: String = "sorted_portable_word_shingle_hashes"
    override def nullSafeEval(input: Any): Any =
      sortedPortableWordShingleHashes(input.asInstanceOf[ArrayData], n)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev,
        c => s"graft.functions.HashFns.sortedPortableWordShingleHashes($c, $n)")
    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  def sortedPortableWordShingleHashSet(toks: Column, n: Int): Column =
    GraftColumnBridge.column(
      SortedPortableWordShingleHashSet(GraftColumnBridge.expression(toks), n))

  /** md5-60-bit hash per token (multiset — duplicates kept: SimHash
    * weights by occurrence).
    */
  def md5TokenHashes(arr: ArrayData): ArrayData = {
    val n = arr.numElements()
    val out = new Array[Long](n)
    var i = 0
    while (i < n) {
      val b = if (arr.isNullAt(i)) Array.emptyByteArray else arr.getUTF8String(i).getBytes
      out(i) = md5Gram60(b, 0, b.length)
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  case class Md5TokenHashes(child: Expression) extends UnaryExpression {
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def nullIntolerant: Boolean = true
    override def prettyName: String = "md5_token_hashes"
    override def nullSafeEval(input: Any): Any =
      md5TokenHashes(input.asInstanceOf[ArrayData])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, c => s"graft.functions.HashFns.md5TokenHashes($c)")
    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  def md5TokenHashCol(toks: Column): Column =
    GraftColumnBridge.column(Md5TokenHashes(GraftColumnBridge.expression(toks)))

  /** 60-bit portable SimHash over md5-60-bit token hashes: bit j is
    * set iff strictly more tokens have bit j set than clear
    * (2·cnt_j > n — the integer form of sign(Σ±1) > 0, ties → 0).
    * One pass, 60 counters; DuckDB reproduces it as
    * `2·len(list_filter(hs, h -> (h >> j) & 1 = 1)) > len(hs)`.
    */
  def portableSimhash60(hs: ArrayData): Long = {
    val n = hs.numElements()
    val cnt = new Array[Int](60)
    var i = 0
    while (i < n) {
      val h = hs.getLong(i)
      var j = 0
      while (j < 60) {
        if (((h >>> j) & 1L) == 1L) cnt(j) += 1
        j += 1
      }
      i += 1
    }
    var sig = 0L
    var j = 0
    while (j < 60) {
      if (2 * cnt(j) > n) sig |= (1L << j)
      j += 1
    }
    sig
  }

  case class PortableSimHash60(child: Expression) extends UnaryExpression {
    override def dataType: DataType = LongType
    override def nullIntolerant: Boolean = true
    override def prettyName: String = "portable_simhash60"
    override def nullSafeEval(input: Any): Any =
      portableSimhash60(input.asInstanceOf[ArrayData])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, c => s"graft.functions.HashFns.portableSimhash60($c)")
    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  def portableSimhash(tokenHashes: Column): Column =
    GraftColumnBridge.column(
      PortableSimHash60(GraftColumnBridge.expression(tokenHashes)))

  /** Integer hashing-trick TF vector: per-token md5-60-bit hash masked
    * to `dim` buckets (dim a power of two; bucket = h & (dim−1)),
    * counts as longs — the engine-portable integer twin of
    * [[hashingTf]]. DuckDB: `len(list_filter(hs, h -> (h & (dim-1)) = b))`.
    */
  def md5TfCounts(arr: ArrayData, dim: Int): ArrayData = {
    val out = new Array[Long](dim)
    val mask = dim - 1
    val n = arr.numElements()
    var i = 0
    while (i < n) {
      val b = if (arr.isNullAt(i)) Array.emptyByteArray else arr.getUTF8String(i).getBytes
      out((md5Gram60(b, 0, b.length) & mask).toInt) += 1
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  case class Md5TfCounts(child: Expression, dim: Int) extends UnaryExpression {
    require((dim & (dim - 1)) == 0, "dim must be a power of two")
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def nullIntolerant: Boolean = true
    override def prettyName: String = "md5_tf_counts"
    override def nullSafeEval(input: Any): Any =
      md5TfCounts(input.asInstanceOf[ArrayData], dim)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, c => s"graft.functions.HashFns.md5TfCounts($c, $dim)")
    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  def md5TfVec(toks: Column, dim: Int): Column =
    GraftColumnBridge.column(Md5TfCounts(GraftColumnBridge.expression(toks), dim))

  /** Integer dot product of two long arrays (zip to the shorter). */
  def dotLongEval(a: ArrayData, b: ArrayData): Long = {
    val n = math.min(a.numElements(), b.numElements())
    var acc = 0L
    var i = 0
    while (i < n) { acc += a.getLong(i) * b.getLong(i); i += 1 }
    acc
  }

  case class DotLong(left: Expression, right: Expression) extends BinaryExpression {
    override def dataType: DataType = LongType
    override def nullIntolerant: Boolean = true
    override def prettyName: String = "dot_long"
    override def nullSafeEval(a: Any, b: Any): Any =
      dotLongEval(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, (a, b) => s"graft.functions.HashFns.dotLongEval($a, $b)")
    override protected def withNewChildrenInternal(
        newLeft: Expression, newRight: Expression): Expression =
      copy(left = newLeft, right = newRight)
  }

  def dotLong(a: Column, b: Column): Column =
    GraftColumnBridge.column(DotLong(GraftColumnBridge.expression(a),
                                     GraftColumnBridge.expression(b)))
}
