package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.classic.GraftColumnBridge
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Embedding-vector kernels over `array<float>` columns.
  *
  * Two implementations of each kernel:
  *  - a custom Catalyst `Expression` with `doGenCode` (a tight primitive
  *    loop inside WholeStageCodegen — no per-element boxing, no lambda
  *    dispatch). This is the hot path for 100 TB similarity scans.
  *  - a composed higher-order-function form (`zip_with` + `aggregate`)
  *    kept as the reference implementation for property tests.
  *
  * All accumulation is sequential in double precision so results are
  * bit-identical to a straightforward double-precision oracle.
  */
object VectorFns {

  /** dot(a, b) over array<float> → double; codegen'd primitive loop. */
  case class DotProductF32(left: Expression, right: Expression)
      extends BinaryExpression {
    override def dataType: DataType = DoubleType
    override def nullIntolerant: Boolean = true
    override def prettyName: String = "dot_f32"

    override def nullSafeEval(a: Any, b: Any): Any = {
      val x = a.asInstanceOf[ArrayData]
      val y = b.asInstanceOf[ArrayData]
      val n = math.min(x.numElements(), y.numElements())
      var s = 0.0
      var i = 0
      while (i < n) { s += x.getFloat(i).toDouble * y.getFloat(i).toDouble; i += 1 }
      s
    }

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, (a, b) => {
        val n = ctx.freshName("n")
        val s = ctx.freshName("s")
        val i = ctx.freshName("i")
        s"""
           |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
           |double $s = 0.0;
           |for (int $i = 0; $i < $n; $i++) {
           |  $s += ((double) $a.getFloat($i)) * ((double) $b.getFloat($i));
           |}
           |${ev.value} = $s;
         """.stripMargin
      })

    override protected def withNewChildrenInternal(
        newLeft: Expression, newRight: Expression): Expression =
      copy(left = newLeft, right = newRight)
  }

  /** cosine(a, b) over array<float> → double, single fused pass (dot and
    * both norms in one loop — one array traversal instead of three).
    * Returns 0.0 when either vector has zero norm.
    */
  case class CosineSimF32(left: Expression, right: Expression)
      extends BinaryExpression {
    override def dataType: DataType = DoubleType
    override def nullIntolerant: Boolean = true
    override def prettyName: String = "cosine_f32"

    override def nullSafeEval(a: Any, b: Any): Any = {
      val x = a.asInstanceOf[ArrayData]
      val y = b.asInstanceOf[ArrayData]
      val n = math.min(x.numElements(), y.numElements())
      var dot = 0.0; var na = 0.0; var nb = 0.0
      var i = 0
      while (i < n) {
        val xv = x.getFloat(i).toDouble
        val yv = y.getFloat(i).toDouble
        dot += xv * yv; na += xv * xv; nb += yv * yv
        i += 1
      }
      if (na == 0.0 || nb == 0.0) 0.0
      else dot / (math.sqrt(na) * math.sqrt(nb))
    }

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, (a, b) => {
        val n = ctx.freshName("n"); val i = ctx.freshName("i")
        val dot = ctx.freshName("dot"); val na = ctx.freshName("na"); val nb = ctx.freshName("nb")
        val xv = ctx.freshName("xv"); val yv = ctx.freshName("yv")
        s"""
           |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
           |double $dot = 0.0; double $na = 0.0; double $nb = 0.0;
           |for (int $i = 0; $i < $n; $i++) {
           |  double $xv = (double) $a.getFloat($i);
           |  double $yv = (double) $b.getFloat($i);
           |  $dot += $xv * $yv; $na += $xv * $xv; $nb += $yv * $yv;
           |}
           |${ev.value} = ($na == 0.0 || $nb == 0.0)
           |  ? 0.0 : $dot / (java.lang.Math.sqrt($na) * java.lang.Math.sqrt($nb));
         """.stripMargin
      })

    override protected def withNewChildrenInternal(
        newLeft: Expression, newRight: Expression): Expression =
      copy(left = newLeft, right = newRight)
  }

  /** dot(a, b) over array<long> int8-quantized codes → long; codegen'd
    * primitive loop. The hot kernel of the scalar-quantization ANN scan
    * (e09): all-integer arithmetic, so the score — unlike a float dot —
    * is bit-identical on any engine that multiplies the same codes,
    * which is what lets the quantized shortlist be oracle-checked.
    */
  case class DotProductI64(left: Expression, right: Expression)
      extends BinaryExpression {
    override def dataType: DataType = LongType
    override def nullIntolerant: Boolean = true
    override def prettyName: String = "dot_i64"

    override def nullSafeEval(a: Any, b: Any): Any = {
      val x = a.asInstanceOf[ArrayData]
      val y = b.asInstanceOf[ArrayData]
      val n = math.min(x.numElements(), y.numElements())
      var s = 0L
      var i = 0
      while (i < n) { s += x.getLong(i) * y.getLong(i); i += 1 }
      s
    }

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, (a, b) => {
        val n = ctx.freshName("n")
        val s = ctx.freshName("s")
        val i = ctx.freshName("i")
        s"""
           |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
           |long $s = 0L;
           |for (int $i = 0; $i < $n; $i++) {
           |  $s += $a.getLong($i) * $b.getLong($i);
           |}
           |${ev.value} = $s;
         """.stripMargin
      })

    override protected def withNewChildrenInternal(
        newLeft: Expression, newRight: Expression): Expression =
      copy(left = newLeft, right = newRight)
  }

  /** dot(a, b) over array<tinyint> int8 codes → long; codegen'd
    * primitive loop. Same contract as [[DotProductI64]] but over BYTE
    * arrays — 8× less storage per element (UnsafeArrayData packs
    * tinyint at 1 B/element vs 8 B for bigint), which is what lets the
    * e12 band shuffle carry quantized codes instead of float vectors.
    * Products fit int (127² · dim), accumulated in long — exact.
    */
  case class DotProductI8(left: Expression, right: Expression)
      extends BinaryExpression {
    override def dataType: DataType = LongType
    override def nullIntolerant: Boolean = true
    override def prettyName: String = "dot_i8"

    override def nullSafeEval(a: Any, b: Any): Any = {
      val x = a.asInstanceOf[ArrayData]
      val y = b.asInstanceOf[ArrayData]
      val n = math.min(x.numElements(), y.numElements())
      var s = 0L
      var i = 0
      while (i < n) { s += x.getByte(i).toLong * y.getByte(i).toLong; i += 1 }
      s
    }

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, (a, b) => {
        val n = ctx.freshName("n")
        val s = ctx.freshName("s")
        val i = ctx.freshName("i")
        s"""
           |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
           |long $s = 0L;
           |for (int $i = 0; $i < $n; $i++) {
           |  $s += ((long) $a.getByte($i)) * ((long) $b.getByte($i));
           |}
           |${ev.value} = $s;
         """.stripMargin
      })

    override protected def withNewChildrenInternal(
        newLeft: Expression, newRight: Expression): Expression =
      copy(left = newLeft, right = newRight)
  }

  def dot(a: Column, b: Column): Column =
    GraftColumnBridge.column(DotProductF32(GraftColumnBridge.expression(a),
                                           GraftColumnBridge.expression(b)))

  def dotI64(a: Column, b: Column): Column =
    GraftColumnBridge.column(DotProductI64(GraftColumnBridge.expression(a),
                                           GraftColumnBridge.expression(b)))

  def dotI8(a: Column, b: Column): Column =
    GraftColumnBridge.column(DotProductI8(GraftColumnBridge.expression(a),
                                          GraftColumnBridge.expression(b)))

  /** Reference HOF implementation of [[dotI64]] (for property tests). */
  def dotI64Hof(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0L), (acc, v) => acc + v)

  def cosineSim(a: Column, b: Column): Column =
    GraftColumnBridge.column(CosineSimF32(GraftColumnBridge.expression(a),
                                          GraftColumnBridge.expression(b)))

  /** The seeded hyperplane set of the float LSH banding (e12
    * `knnJoin` and its spec reconstruction): band-major flat fill, one
    * `Random(seed)` stream. ONE definition — a change to the generation
    * order must hit every signature producer at once or their buckets
    * silently desynchronize.
    */
  def hyperplanes(bands: Int, bitsPerBand: Int, dim: Int,
                  seed: Long): Array[Array[Float]] = {
    val rnd = new scala.util.Random(seed)
    Array.fill(bands * bitsPerBand)(
      Array.fill(dim)((rnd.nextDouble() * 2 - 1).toFloat))
  }

  /** Scalar cosine over plain float arrays — the SAME accumulation
    * order and zero-norm convention as [[CosineSimF32]], for code that
    * works on collected arrays (driver-side references of the exact
    * re-rank). One definition: a reference and the expression it checks
    * must never disagree.
    */
  def cosineScalar(a: Array[Float], b: Array[Float]): Double = {
    var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    val n = math.min(a.length, b.length)
    while (i < n) {
      val x = a(i).toDouble; val y = b(i).toDouble
      d += x * y; na += x * x; nb += y * y; i += 1
    }
    if (na == 0.0 || nb == 0.0) 0.0 else d / (math.sqrt(na) * math.sqrt(nb))
  }

  /** Reference implementation via higher-order functions (for tests). */
  def dotHof(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, v) => acc + v)

  /** Random-hyperplane signature bit: sign of dot(v, plane) — building
    * block for SimHash-style LSH over embeddings. Planes are generated
    * deterministically from a seed on the driver and inlined as literals
    * (tiny; no broadcast needed).
    */
  def hyperplaneBit(v: Column, plane: Array[Float]): Column =
    (dot(v, array(plane.map(lit(_)): _*).cast(ArrayType(FloatType))) >= 0.0).cast("int")

  /** ALL hyperplane band keys in one fused pass: `planes` is the flat
    * band-major plane list (bands·bits rows); key_b = Σ_j [dot(v,
    * plane_{b·bits+j}) ≥ 0] << j — bit-for-bit the composition of
    * [[hyperplaneBit]] · (1 << j) sums, but one generated call instead
    * of bands·bits separate dot-product expressions per row.
    */
  def hyperplaneBandKeys(v: ArrayData, planes: Array[Array[Float]], bits: Int): ArrayData = {
    val bands = planes.length / bits
    val keys = new Array[Int](bands)
    var b = 0
    while (b < bands) {
      var key = 0
      var j = 0
      while (j < bits) {
        val p = planes(b * bits + j)
        val n = math.min(v.numElements(), p.length)
        var dot = 0.0
        var i = 0
        while (i < n) { dot += v.getFloat(i).toDouble * p(i).toDouble; i += 1 }
        if (dot >= 0.0) key |= (1 << j)
        j += 1
      }
      keys(b) = key
      b += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(keys)
  }

  case class HyperplaneBands(child: Expression, planes: Seq[Seq[Float]], bits: Int)
      extends UnaryExpression {
    override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
    override def nullIntolerant: Boolean = true
    override def prettyName: String = "hyperplane_bands"
    @transient private lazy val planesArr: Array[Array[Float]] =
      planes.map(_.toArray).toArray
    override def nullSafeEval(input: Any): Any =
      hyperplaneBandKeys(input.asInstanceOf[ArrayData], planesArr, bits)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val ref = ctx.addReferenceObj("planes", planesArr, "float[][]")
      defineCodeGen(ctx, ev,
        c => s"graft.functions.VectorFns.hyperplaneBandKeys($c, $ref, $bits)")
    }
    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  def bandKeys(v: Column, planes: Array[Array[Float]], bits: Int): Column =
    GraftColumnBridge.column(HyperplaneBands(
      GraftColumnBridge.expression(v), planes.map(_.toSeq).toSeq, bits))

  /** Cosine similarity against EVERY centroid in one fused pass (the
    * IVF assignment/probe kernel): per centroid the same
    * dot-and-norms accumulation as [[CosineSimF32]], one generated call
    * instead of |centroids| expressions each re-traversing the vector.
    * Accumulation order matches CosineSimF32 exactly → identical
    * doubles, identical cell assignments.
    */
  def centroidCosines(v: ArrayData, centroids: Array[Array[Float]]): ArrayData = {
    val out = new Array[Double](centroids.length)
    var c = 0
    while (c < centroids.length) {
      val cen = centroids(c)
      val n = math.min(v.numElements(), cen.length)
      var dot = 0.0; var na = 0.0; var nb = 0.0
      var i = 0
      while (i < n) {
        val xv = v.getFloat(i).toDouble
        val yv = cen(i).toDouble
        dot += xv * yv; na += xv * xv; nb += yv * yv
        i += 1
      }
      out(c) = if (na == 0.0 || nb == 0.0) 0.0
        else dot / (math.sqrt(na) * math.sqrt(nb))
      c += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  case class CentroidCosines(child: Expression, centroids: Seq[Seq[Float]])
      extends UnaryExpression {
    override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
    override def nullIntolerant: Boolean = true
    override def prettyName: String = "centroid_cosines"
    @transient private lazy val centroidsArr: Array[Array[Float]] =
      centroids.map(_.toArray).toArray
    override def nullSafeEval(input: Any): Any =
      centroidCosines(input.asInstanceOf[ArrayData], centroidsArr)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val ref = ctx.addReferenceObj("centroids", centroidsArr, "float[][]")
      defineCodeGen(ctx, ev,
        c => s"graft.functions.VectorFns.centroidCosines($c, $ref)")
    }
    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  def centroidSimsCol(v: Column, centroids: Array[Array[Float]]): Column =
    GraftColumnBridge.column(CentroidCosines(
      GraftColumnBridge.expression(v), centroids.map(_.toSeq).toSeq))

  // — FIXED-POINT integer kernels (the e06 trained-IVF oracle path):
  //   quantize float components to floor(x * 2^20) longs, then run
  //   every Lloyd-training comparison and update in INTEGER arithmetic.
  //   Integer sums are associative — partition order cannot perturb
  //   them — and truncating long division matches DuckDB's `//`
  //   exactly, so the TRAINED index (not just its query pass) is
  //   bit-reproducible in another engine. Scale 2^20: a float widened
  //   to double then multiplied by a power of two is exact, and
  //   floor() agrees in both engines on exact doubles. —

  /** floor(x · scale) per component, array<float> → array<long>. */
  def quantizeFixedPointEval(v: ArrayData, scale: Long): ArrayData = {
    val n = v.numElements()
    val out = new Array[Long](n)
    var i = 0
    while (i < n) {
      out(i) = math.floor(v.getFloat(i).toDouble * scale).toLong
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  case class QuantizeFixedPoint(child: Expression, scale: Long)
      extends UnaryExpression {
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def nullIntolerant: Boolean = true
    override def prettyName: String = "quantize_fixed_point"
    override def nullSafeEval(input: Any): Any =
      quantizeFixedPointEval(input.asInstanceOf[ArrayData], scale)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev,
        c => s"graft.functions.VectorFns.quantizeFixedPointEval($c, ${scale}L)")
    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  def quantizeFixedPoint(v: Column, scale: Long): Column =
    GraftColumnBridge.column(QuantizeFixedPoint(
      GraftColumnBridge.expression(v), scale))

  /** Squared euclidean distance to EVERY centroid in one fused pass,
    * array<long> × long[][] → array<long>. All-integer: diffs ≤ 2·2^20
    * per component, squares ≤ 2^42, 64-dim sums ≤ 2^48 — exact in
    * long, no overflow headroom concerns below ~2^21 dims.
    */
  def centroidSqDistsI64Eval(v: ArrayData, cents: Array[Array[Long]]): ArrayData = {
    val out = new Array[Long](cents.length)
    var c = 0
    while (c < cents.length) {
      val cen = cents(c)
      val n = math.min(v.numElements(), cen.length)
      var s = 0L
      var i = 0
      while (i < n) {
        val d = v.getLong(i) - cen(i)
        s += d * d
        i += 1
      }
      out(c) = s
      c += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  case class CentroidSqDistsI64(child: Expression, centroids: Seq[Seq[Long]])
      extends UnaryExpression {
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def nullIntolerant: Boolean = true
    override def prettyName: String = "centroid_sq_dists_i64"
    @transient private lazy val centroidsArr: Array[Array[Long]] =
      centroids.map(_.toArray).toArray
    override def nullSafeEval(input: Any): Any =
      centroidSqDistsI64Eval(input.asInstanceOf[ArrayData], centroidsArr)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val ref = ctx.addReferenceObj("centroids", centroidsArr, "long[][]")
      defineCodeGen(ctx, ev,
        c => s"graft.functions.VectorFns.centroidSqDistsI64Eval($c, $ref)")
    }
    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  def centroidSqDistsI64(v: Column, centroids: Array[Array[Long]]): Column =
    GraftColumnBridge.column(CentroidSqDistsI64(
      GraftColumnBridge.expression(v), centroids.map(_.toSeq).toSeq))

  // — ENGINE-PORTABLE hyperplane LSH (the d06 gate): Rademacher (±1)
  //   hyperplanes derived from md5 — sign(b,j,i) = +1 iff the low bit
  //   of md5Gram60("b-j-i") is set — instead of a seeded Gaussian RNG
  //   DuckDB cannot reproduce. ±1 components make the projection a
  //   signed SUM of the vector's own values: each product is exact
  //   (multiplying a float-widened double by ±1.0), and both engines
  //   accumulate sequentially in doubles, so the sign bits — and hence
  //   bucket keys — are bit-identical. Rademacher projections are a
  //   standard LSH/JL family (Achlioptas 2001), so recall behavior
  //   matches the Gaussian kernel it replaces. —

  private val rademacherCache =
    new java.util.concurrent.ConcurrentHashMap[String, Array[Double]]()

  /** ±1 sign table for (bands × bits × dim), flattened band-major —
    * derived from the same md5-60-bit hash DuckDB computes from the
    * literal string "b-j-i" (i 1-based, matching `range(1, dim+1)`).
    */
  def rademacherSigns(bands: Int, bits: Int, dim: Int): Array[Double] =
    rademacherCache.computeIfAbsent(s"$bands-$bits-$dim", _ => {
      val out = new Array[Double](bands * bits * dim)
      var idx = 0
      var b = 0
      while (b < bands) {
        var j = 0
        while (j < bits) {
          var i = 1
          while (i <= dim) {
            val key = s"$b-$j-$i".getBytes(java.nio.charset.StandardCharsets.UTF_8)
            out(idx) = if ((HashFns.md5Gram60(key, 0, key.length) & 1L) == 1L) 1.0 else -1.0
            idx += 1
            i += 1
          }
          j += 1
        }
        b += 1
      }
      out
    })

  /** Band keys from md5-derived Rademacher hyperplanes: key_b =
    * Σ_j (Σ_i sign(b,j,i)·v_i ≥ 0) << j. One pass per (band, bit),
    * sequential double accumulation.
    */
  def rademacherBandKeysEval(v: ArrayData, bands: Int, bits: Int, dim: Int): ArrayData = {
    val signs = rademacherSigns(bands, bits, dim)
    val n = math.min(dim, v.numElements())
    val keys = new Array[Long](bands)
    var b = 0
    while (b < bands) {
      var key = 0L
      var j = 0
      while (j < bits) {
        val off = (b * bits + j) * dim
        var acc = 0.0
        var i = 0
        while (i < n) { acc += signs(off + i) * v.getFloat(i); i += 1 }
        if (acc >= 0.0) key |= (1L << j)
        j += 1
      }
      keys(b) = key
      b += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(keys)
  }

  case class RademacherBandKeys(child: Expression, bands: Int, bits: Int, dim: Int)
      extends UnaryExpression {
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def nullIntolerant: Boolean = true
    override def prettyName: String = "rademacher_band_keys"
    override def nullSafeEval(input: Any): Any =
      rademacherBandKeysEval(input.asInstanceOf[ArrayData], bands, bits, dim)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev,
        c => s"graft.functions.VectorFns.rademacherBandKeysEval($c, $bands, $bits, $dim)")
    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  def rademacherBandKeys(v: Column, bands: Int, bits: Int, dim: Int): Column =
    GraftColumnBridge.column(RademacherBandKeys(
      GraftColumnBridge.expression(v), bands, bits, dim))

  // — ENGINE-PORTABLE integer JL random projection (Achlioptas 2001,
  //   the ±1 Johnson–Lindenstrauss family — same public construction
  //   as the Rademacher LSH planes above, kept as SUMS instead of sign
  //   bits): proj_j = Σ_i sign(j,i)·q_i over the fixed-point quantized
  //   components q_i = floor(x_i·scale + 0.5). The quantize is one
  //   correctly-rounded double multiply + floor (bit-identical in
  //   DuckDB), and everything after is integer arithmetic — order-free
  //   and exactly reproducible at ANY parallelism, so a 16-dim sketch
  //   of a 64-float embedding is hash-checkable cross-engine.
  //   sign(j,i) = +1 iff the low bit of md5Gram60("p-j-i") is set
  //   (i 1-based) — in SQL:
  //   ('0x' || substr(md5('p-'||j||'-'||i), 1, 15))::BIGINT & 1. —

  private val jlCache =
    new java.util.concurrent.ConcurrentHashMap[String, Array[Long]]()

  /** ±1 sign matrix for (dims × dim), row-major, md5-derived. */
  def jlSigns(dims: Int, dim: Int): Array[Long] =
    jlCache.computeIfAbsent(s"$dims-$dim", _ => {
      val out = new Array[Long](dims * dim)
      var idx = 0
      var j = 0
      while (j < dims) {
        var i = 1
        while (i <= dim) {
          val key = s"p-$j-$i".getBytes(java.nio.charset.StandardCharsets.UTF_8)
          out(idx) = if ((HashFns.md5Gram60(key, 0, key.length) & 1L) == 1L) 1L else -1L
          idx += 1
          i += 1
        }
        j += 1
      }
      out
    })

  /** The fused projection: quantize each component once, then `dims`
    * signed integer sums. One pass over the vector per output dim.
    */
  def jlProjectEval(v: ArrayData, dims: Int, dim: Int, scale: Long): ArrayData = {
    val signs = jlSigns(dims, dim)
    val n = math.min(dim, v.numElements())
    val qs = new Array[Long](n)
    var i = 0
    while (i < n) {
      qs(i) = math.floor(v.getFloat(i).toDouble * scale + 0.5).toLong
      i += 1
    }
    val out = new Array[Long](dims)
    var j = 0
    while (j < dims) {
      val off = j * dim
      var acc = 0L
      i = 0
      while (i < n) { acc += signs(off + i) * qs(i); i += 1 }
      out(j) = acc
      j += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  case class JlProject(child: Expression, dims: Int, dim: Int, scale: Long)
      extends UnaryExpression {
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def nullIntolerant: Boolean = true
    override def prettyName: String = "jl_project"
    override def nullSafeEval(input: Any): Any =
      jlProjectEval(input.asInstanceOf[ArrayData], dims, dim, scale)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev,
        c => s"graft.functions.VectorFns.jlProjectEval($c, $dims, $dim, ${scale}L)")
    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  def jlProject(v: Column, dims: Int, dim: Int, scale: Long): Column =
    GraftColumnBridge.column(JlProject(
      GraftColumnBridge.expression(v), dims, dim, scale))
}
