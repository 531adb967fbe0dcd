package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.classic.GraftColumnBridge
import org.apache.spark.sql.types._

/** Product quantization — the vector-compression path of ANN at scale:
  * a D-dim float vector (D·4 bytes) becomes `m` small codebook indices
  * (m bytes at k ≤ 256), a 32× memory/scan reduction at D=64, m=8.
  * The index pipeline is the standard PQ shape, in FIXED-POINT integer
  * arithmetic over floor(nv·2^20)-quantized NORMALIZED components, so
  * training, codes and ADC scores are bit-reproducible in another
  * engine (the e07/e15 oracle path — the e06 integer-Lloyd discipline
  * applied per subspace):
  *
  *  - TRAIN ([[trainFixedPoint]]): per-subspace integer Lloyd on a
  *    bounded sample, driver-side (the codebook is m·k·(D/m) longs —
  *    a few KB).
  *  - ENCODE ([[PqEncodeI64]]): per corpus row, argmin-distance subcode
  *    per subspace — a fused map-only expression with the codebooks as
  *    codegen reference objects; the corpus's vector payload never
  *    travels again, only the codes.
  *  - SCORE ([[PqAdcTableI64]] + [[PqAdcLookupI64]]): asymmetric
  *    distance. The per-query m·k distance table is fused once on the
  *    (broadcast) query side; the hot corpus-×-queries path then costs
  *    m table lookups per code, not m·subDim ops.
  *
  * PQ distances are approximations; like the LSH/IVF operators the
  * end-to-end query re-ranks a shortlist exactly, so approximation
  * costs recall (asserted in spec), never correctness of the final
  * ordering criterion.
  */
object Pq {

  /** Per-subspace integer Lloyd over a (md5-ordered, bounded,
    * driver-side) quantized sample. Seeds = the first k sample rows'
    * subvectors; assignment = integer argmin with first-min ties;
    * update = truncating integer division; empty cells keep their
    * center. Returns codebooks(m)(k)(subDim) as longs.
    */
  def trainFixedPoint(sample: Array[Array[Long]], m: Int = 8, k: Int = 16,
                      iters: Int = 3): Array[Array[Array[Long]]] = {
    require(sample.nonEmpty, "PQ training needs a non-empty sample")
    val d = sample.head.length
    require(d % m == 0, s"dim $d not divisible into $m subspaces")
    val sub = d / m
    Array.tabulate(m) { j =>
      val vecs = sample.map(v => java.util.Arrays.copyOfRange(v, j * sub, (j + 1) * sub))
      var centers = vecs.take(math.min(k, vecs.length)).map(_.clone)
      var it = 0
      while (it < iters) {
        val sums = Array.fill(centers.length)(new Array[Long](sub))
        val counts = new Array[Long](centers.length)
        vecs.foreach { v =>
          val c = nearestI64(v, centers)
          counts(c) += 1
          var i = 0
          while (i < sub) { sums(c)(i) += v(i); i += 1 }
        }
        centers = centers.indices.map { c =>
          if (counts(c) == 0) centers(c)
          else Array.tabulate(sub)(i => sums(c)(i) / counts(c))
        }.toArray
        it += 1
      }
      centers
    }
  }

  private def nearestI64(v: Array[Long], centers: Array[Array[Long]]): Int = {
    var best = 0; var bestD = Long.MaxValue
    var c = 0
    while (c < centers.length) {
      var dist = 0L; var i = 0
      while (i < v.length) {
        val diff = v(i) - centers(c)(i)
        dist += diff * diff; i += 1
      }
      if (dist < bestD) { bestD = dist; best = c }
      c += 1
    }
    best
  }

  /** Row kernel: encode one quantized vector to m byte subcodes by
    * integer argmin (first-min ties — the rule the oracle's
    * row_number ORDER BY dist, cn reproduces).
    */
  def encodeI64(v: ArrayData, cb: Array[Array[Array[Long]]]): Array[Byte] = {
    val m = cb.length
    val sub = cb(0)(0).length
    val out = new Array[Byte](m)
    var j = 0
    while (j < m) {
      val centers = cb(j)
      var best = 0; var bestD = Long.MaxValue
      var c = 0
      while (c < centers.length) {
        var dist = 0L; var i = 0
        while (i < sub) {
          val diff = v.getLong(j * sub + i) - centers(c)(i)
          dist += diff * diff; i += 1
        }
        if (dist < bestD) { bestD = dist; best = c }
        c += 1
      }
      out(j) = best.toByte
      j += 1
    }
    out
  }

  /** Per-query INTEGER lookup table: table[j·k + c] = integer ‖q_j −
    * C_j[c]‖² — fused once per (broadcast) query row.
    */
  def adcTableI64(q: ArrayData, cb: Array[Array[Array[Long]]]): ArrayData = {
    val m = cb.length
    val k = cb(0).length
    val sub = cb(0)(0).length
    val out = new Array[Long](m * k)
    var j = 0
    while (j < m) {
      var c = 0
      while (c < k) {
        val cen = cb(j)(c)
        var dist = 0L; var i = 0
        while (i < sub) {
          val diff = q.getLong(j * sub + i) - cen(i)
          dist += diff * diff; i += 1
        }
        out(j * k + c) = dist
        c += 1
      }
      j += 1
    }
    new GenericArrayData(out)
  }

  /** Integer ADC score: m table lookups, exact long sum. Codes are
    * unsigned bytes: the `& 0xFF` mask keeps codebooks with k > 128
    * from sign-extending into negative indices.
    */
  def adcLookupI64(table: ArrayData, code: Array[Byte], k: Int): Long = {
    var total = 0L
    var j = 0
    while (j < code.length) {
      total += table.getLong(j * k + (code(j) & 0xFF))
      j += 1
    }
    total
  }

  case class PqEncodeI64(child: Expression, codebooks: Seq[Seq[Seq[Long]]])
      extends UnaryExpression {
    override def dataType: DataType = BinaryType
    override def nullIntolerant: Boolean = true
    override def prettyName: String = "pq_encode_i64"
    @transient private lazy val cb: Array[Array[Array[Long]]] =
      codebooks.map(_.map(_.toArray).toArray).toArray
    override def nullSafeEval(input: Any): Any =
      encodeI64(input.asInstanceOf[ArrayData], cb)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val ref = ctx.addReferenceObj("pqCodebooksI64", cb, "long[][][]")
      defineCodeGen(ctx, ev, c => s"graft.functions.Pq.encodeI64($c, $ref)")
    }
    override def toString: String =
      s"pq_encode_i64($child, <${codebooks.length}x${codebooks.head.length} codebook>)"
    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  case class PqAdcTableI64(child: Expression, codebooks: Seq[Seq[Seq[Long]]])
      extends UnaryExpression {
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def nullIntolerant: Boolean = true
    override def prettyName: String = "pq_adc_table_i64"
    @transient private lazy val cb: Array[Array[Array[Long]]] =
      codebooks.map(_.map(_.toArray).toArray).toArray
    override def nullSafeEval(input: Any): Any =
      adcTableI64(input.asInstanceOf[ArrayData], cb)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val ref = ctx.addReferenceObj("pqCodebooksI64", cb, "long[][][]")
      defineCodeGen(ctx, ev, c => s"graft.functions.Pq.adcTableI64($c, $ref)")
    }
    override def toString: String =
      s"pq_adc_table_i64($child, <${codebooks.length}x${codebooks.head.length} codebook>)"
    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  case class PqAdcLookupI64(left: Expression, right: Expression, k: Int)
      extends BinaryExpression {
    override def dataType: DataType = LongType
    override def nullIntolerant: Boolean = true
    override def prettyName: String = "pq_adc_lookup_i64"
    override def nullSafeEval(a: Any, b: Any): Any =
      adcLookupI64(a.asInstanceOf[ArrayData], b.asInstanceOf[Array[Byte]], k)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, (a, b) => s"graft.functions.Pq.adcLookupI64($a, $b, $k)")
    override protected def withNewChildrenInternal(
        newLeft: Expression, newRight: Expression): Expression =
      copy(left = newLeft, right = newRight)
  }

  def encodeI64Col(v: Column, cb: Array[Array[Array[Long]]]): Column =
    GraftColumnBridge.column(PqEncodeI64(GraftColumnBridge.expression(v),
      cb.map(_.map(_.toSeq).toSeq).toSeq))

  def adcTableI64Col(q: Column, cb: Array[Array[Array[Long]]]): Column =
    GraftColumnBridge.column(PqAdcTableI64(GraftColumnBridge.expression(q),
      cb.map(_.map(_.toSeq).toSeq).toSeq))

  def adcLookupI64Col(table: Column, code: Column, k: Int): Column =
    GraftColumnBridge.column(PqAdcLookupI64(GraftColumnBridge.expression(table),
      GraftColumnBridge.expression(code), k))
}
