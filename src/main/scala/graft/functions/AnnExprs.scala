package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, CodegenFallback, ExprCode,
  FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types._

/** Native ANN-index expressions for the embedding-scan hot path.
  *
  * The §16 full-surface 10× run showed the ANN family carrying the
  * highest scaling ratios on 10× data (vs_ivfpq_residual 6.9×,
  * dedup_embed 5.8×, vs_ivf_ann 5.5×): the per-row cost is a nest of
  * `aggregate`/`transform` HOFs — CodegenFallback, one interpreted
  * lambda dispatch per centroid/codeword, plus a `slice` allocation
  * per subspace per codeword. These expressions run the same argmin
  * folds as ONE tight JVM loop per row with zero allocation
  * (DupStatsExpr precedent, TextExprs.scala). The two PQ encoders run
  * where an index is built or appended to; a query scores the stored
  * codes through its ADC table (`PqIndex.codeSum`) instead.
  *
  * The index metadata (centroids k×dim, PQ codebooks NumSub×NumCodes×
  * SubDim) is baked into the
  * expression as plain primitive arrays — the thing a native ANN engine
  * keeps in registers during the scan. Floats are widened to double at
  * construction; elementwise float→double is exact, so the math is
  * bitwise the HOF formulation's (which casts per element).
  *
  * Codegen (r8): each expression implements `doGenCode` as a single
  * static call with the metadata in the references array
  * (`ctx.addReferenceObj`), so an ANN scan stays inside whole-stage
  * codegen instead of crossing the interpreted-eval boundary per row
  * (the prior CodegenFallback shape). The static helpers are the SAME
  * code interpreted eval uses — one implementation, two entry points —
  * so the bitwise parity specs gate both paths.
  *
  * Semantics twins (what the DuckDB oracle mirrors, and what the parity
  * specs pin bitwise — including the degenerate inputs):
  *  - [[NearestCentroidExpr]] ≡ `graft.PqHof.nearestHof` (`array_min` over
  *    struct(dist2(emb, cvec), cluster_id)), [[ProbeExpr]] ≡ the relational
  *    probes of `graft.InMemoryAnn` (`ORDER BY dist2(cvec, qvec), cluster_id`):
  *    [[nearestRow]] at n = 1 and at n = nprobe.
  *  - [[PqCodesExpr]] ≡ the PQ encode: per subspace s, argmin over
  *    codewords of dist2(slice(emb, s·SubDim+1, SubDim), cvec)
  *    (tiebreak smaller code). A window that runs past the embedding
  *    (or covers a null element) yields NULL d² for every codeword →
  *    code 0 (the smallest). Scored through the per-query ADC table
  *    (`PqIndex.codeSum`), this is the `graft.PqHof` ADC fold.
  *  - [[ResidualCodesExpr]] ≡ the residual-IVFPQ encode: nearest
  *    centroid, rvec = emb − centroid (double), then the PQ argmin over
  *    residual codebooks. `zip_with` pads the shorter side with NULL,
  *    so a residual window is valid iff it lies within BOTH the
  *    embedding and the centroid dim and covers no null element.
  *    Scored through `codeSum`, this is the `graft.PqHof` residual
  *    chain.
  */
object AnnExprs {

  private val nearestType = StructType(Seq(
    StructField("d2", DoubleType, nullable = true),
    StructField("cluster_id", LongType, nullable = false)))

  private val residualCodesType = StructType(Seq(
    StructField("cluster_id", LongType, nullable = false),
    StructField("codes", ArrayType(LongType, containsNull = false), nullable = false)))

  private def isFloatArr(e: Expression): Boolean = e.dataType match {
    case ArrayType(FloatType, _) => true
    case ArrayType(DoubleType, _) => false
    case t => throw new IllegalArgumentException(s"expected float/double array, got $t")
  }

  /** emb[i] as double; callers verify `!emb.isNullAt(i)` first. */
  @inline private def elem(emb: ArrayData, i: Int, isF: Boolean): Double =
    if (isF) emb.getFloat(i).toDouble else emb.getDouble(i)

  /** True iff the window [off, off+len) lies inside emb and covers no
    * null element — i.e. the HOF dist2 over that slice is non-NULL.
    */
  private def windowValid(emb: ArrayData, off: Int, len: Int): Boolean = {
    if (off + len > emb.numElements()) return false
    var i = off
    while (i < off + len) {
      if (emb.isNullAt(i)) return false
      i += 1
    }
    true
  }

  /** Argmin_{c} Σ_j (w[off+j] − cb(c)(j))², tiebreak smaller index;
    * codewords are dense (index == code). Returns 0 when the window is
    * invalid (every d² NULL → min struct is (NULL, code 0)).
    *
    * Comparison is `java.lang.Double.compare` — Spark's total ordering
    * (NaN == NaN, NaN after +Inf) — seeded from codeword 0, so a NaN
    * embedding element reproduces the HOF `array_min` exactly instead
    * of silently keeping the seed (ADVICE r7).
    */
  private def argminCode(emb: ArrayData, isF: Boolean, off: Int,
      cb: Array[Array[Double]]): Int = {
    val len = cb(0).length
    if (!windowValid(emb, off, len)) return 0
    var best = 0
    var bestD2 = 0.0
    var c = 0
    while (c < cb.length) {
      val cw = cb(c)
      var d2 = 0.0
      var j = 0
      while (j < len) {
        val d = elem(emb, off + j, isF) - cw(j)
        d2 += d * d
        j += 1
      }
      if (c == 0 || java.lang.Double.compare(d2, bestD2) < 0) { bestD2 = d2; best = c }
      c += 1
    }
    best
  }

  // ---- static entry points shared by eval() and generated code ----
  // (an `object`'s public methods get Java static forwarders, so the
  // generated Java calls graft.functions.AnnExprs.<name> directly)

  /** (d2, id) strictly before (d2b, idb) under the (d², cluster_id) order. */
  @inline private def before(d2: Double, id: Long, d2b: Double, idb: Long): Boolean = {
    val cmp = java.lang.Double.compare(d2, d2b)
    cmp < 0 || (cmp == 0 && id < idb)
  }

  /** The one nearest-centroid rule: fills `best` with the indexes of the
    * `best.length` centroids nearest `emb`, nearest first, and `bestD2`
    * with their d², under (d² by `java.lang.Double.compare` — Spark's
    * total ordering, so a NaN element makes every d² NaN — then the
    * smaller id). A malformed `emb` (null, wrong length, a null element)
    * has every d² NULL: it ranks by id alone and the result is false.
    * A bounded insertion, O(nlist · best.length) per row.
    */
  def nearestRow(emb: ArrayData, ids: Array[Long], cents: Array[Array[Double]],
      isF: Boolean, best: Array[Int], bestD2: Array[Double]): Boolean = {
    val dim = cents(0).length
    val valid = emb != null && emb.numElements() == dim && windowValid(emb, 0, dim)
    val m = best.length
    var size = 0
    var k = 0
    while (k < cents.length) {
      var d2 = 0.0
      if (valid) {
        val cw = cents(k)
        var j = 0
        while (j < dim) {
          val d = elem(emb, j, isF) - cw(j)
          d2 += d * d
          j += 1
        }
      }
      val id = ids(k)
      if (size < m || (m > 0 && before(d2, id, bestD2(m - 1), ids(best(m - 1))))) {
        var p = if (size < m) { size += 1; size - 1 } else m - 1
        while (p > 0 && before(d2, id, bestD2(p - 1), ids(best(p - 1)))) {
          best(p) = best(p - 1); bestD2(p) = bestD2(p - 1); p -= 1
        }
        best(p) = k; bestD2(p) = d2
      }
      k += 1
    }
    valid
  }

  /** [[NearestCentroidExpr]] per-row work. `emb` may be null. */
  def nearestStruct(emb: ArrayData, ids: Array[Long],
      cents: Array[Array[Double]], isF: Boolean): InternalRow = {
    val best = new Array[Int](1)
    val d2 = new Array[Double](1)
    val valid = nearestRow(emb, ids, cents, isF, best, d2)
    new GenericInternalRow(Array[Any](if (valid) d2(0) else null, ids(best(0))))
  }

  /** [[PqCodesExpr]] per-row work. `emb` may be null. */
  def pqCodesArr(emb: ArrayData, cb: Array[Array[Array[Double]]],
      isF: Boolean): ArrayData = {
    val subDim = cb(0)(0).length
    val out = new Array[Any](cb.length)
    var s = 0
    while (s < cb.length) {
      out(s) =
        if (emb == null) 0L
        else argminCode(emb, isF, s * subDim, cb(s)).toLong
      s += 1
    }
    new GenericArrayData(out)
  }

  /** Residual codeword of window `s` against the assigned centroid's
    * slice — window valid iff it lies inside BOTH the embedding and the
    * centroid dim (zip_with pads the shorter side with NULL) and covers
    * no null element; 0 otherwise.
    */
  private def residualCode(emb: ArrayData, cvec: Array[Double],
      sub: Array[Array[Double]], off: Int, subDim: Int, usable: Int,
      isF: Boolean): Int = {
    if (off + subDim > usable || !windowValid(emb, off, subDim)) return 0
    var best = 0
    var bestD2 = 0.0
    var c = 0
    while (c < sub.length) {
      val cw = sub(c)
      var d2 = 0.0
      var j = 0
      while (j < subDim) {
        val d = (elem(emb, off + j, isF) - cvec(off + j)) - cw(j)
        d2 += d * d
        j += 1
      }
      if (c == 0 || java.lang.Double.compare(d2, bestD2) < 0) { bestD2 = d2; best = c }
      c += 1
    }
    best
  }

  /** [[ResidualCodesExpr]] per-row work: struct(cluster_id, codes) —
    * the assigned centroid and the residual codeword of every window,
    * stored so a query-time LUT can score off the codes alone. `emb`
    * may be null (assigned, like any malformed row, to the min-id
    * centroid).
    */
  def residualCodesRow(emb: ArrayData, ids: Array[Long],
      cents: Array[Array[Double]], rcb: Array[Array[Array[Double]]],
      isF: Boolean): InternalRow = {
    val dim = cents(0).length
    val subDim = rcb(0)(0).length
    val best = new Array[Int](1)
    nearestRow(emb, ids, cents, isF, best, new Array[Double](1))
    val bestK = best(0)
    val cvec = cents(bestK)
    val embLen = if (emb == null) 0 else emb.numElements()
    val usable = math.min(embLen, dim)
    val codes = new Array[Any](rcb.length)
    var s = 0
    while (s < rcb.length) {
      codes(s) = residualCode(emb, cvec, rcb(s), s * subDim, subDim, usable, isF).toLong
      s += 1
    }
    new GenericInternalRow(Array[Any](ids(bestK), new GenericArrayData(codes)))
  }

  /** Shared doGenCode shape: the child is evaluated by the surrounding
    * generated code, then ONE static call produces the (never-null)
    * result with the metadata read from the references array — the
    * whole scan stays inside whole-stage codegen.
    */
  private def staticCallGen(ctx: CodegenContext, ev: ExprCode,
      child: Expression, javaType: String, call: String => String): ExprCode = {
    val c = child.genCode(ctx)
    val arg = s"(${c.isNull} ? null : (org.apache.spark.sql.catalyst.util.ArrayData) ${c.value})"
    ev.copy(
      code = c.code + code"\n$javaType ${ev.value} = ${call(arg)};",
      isNull = FalseLiteral)
  }

  /** struct(d2, cluster_id): nearest centroid by squared euclidean
    * distance, tiebreak smaller cluster_id. `ids`/`cents` are parallel
    * arrays in the same order the HOF literal array was built in
    * (ordering does not affect the result — the tiebreak is total).
    */
  case class NearestCentroidExpr(child: Expression, ids: Array[Long],
      cents: Array[Array[Double]]) extends UnaryExpression {
    require(ids.length == cents.length && ids.nonEmpty, "empty centroid table")
    require(cents.forall(_.length == cents(0).length), "ragged centroid dims")

    override def dataType: DataType = nearestType
    // a malformed embedding still yields (NULL d2, min id) — the struct
    // itself is null only for an empty centroid table, excluded above
    override def nullable: Boolean = false

    @transient private lazy val isF = isFloatArr(child)

    override def eval(input: InternalRow): Any = {
      val v = child.eval(input)
      nearestStruct(if (v == null) null else v.asInstanceOf[ArrayData], ids, cents, isF)
    }

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val idsRef = ctx.addReferenceObj("ids", ids, "long[]")
      val centsRef = ctx.addReferenceObj("cents", cents, "double[][]")
      staticCallGen(ctx, ev, child, "org.apache.spark.sql.catalyst.InternalRow",
        arg => s"graft.functions.AnnExprs.nearestStruct($arg, $idsRef, $centsRef, $isF)")
    }

    override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  }

  /** array<bigint>: the ids of the min(n, nlist) centroids nearest the
    * child vector, nearest first — the IVF probe of a query row.
    */
  case class ProbeExpr(child: Expression, ids: Array[Long],
      cents: Array[Array[Double]], n: Int) extends UnaryExpression with CodegenFallback {
    require(ids.length == cents.length && ids.nonEmpty, "empty centroid table")
    require(cents.forall(_.length == cents(0).length), "ragged centroid dims")

    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def nullable: Boolean = false

    @transient private lazy val isF = isFloatArr(child)

    // one call per query row, never per corpus row: interpreted eval
    override def eval(input: InternalRow): Any = {
      val v = child.eval(input)
      val best = new Array[Int](math.max(0, math.min(n, ids.length)))
      nearestRow(if (v == null) null else v.asInstanceOf[ArrayData], ids, cents, isF,
        best, new Array[Double](best.length))
      ArrayData.toArrayData(best.map(ids(_)))
    }

    override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  }

  /** PQ code per subspace in one pass: array<long> of length NumSub,
    * codes(s) = argmin codeword of subspace s (0 on an invalid window).
    */
  case class PqCodesExpr(child: Expression, cb: Array[Array[Array[Double]]])
      extends UnaryExpression {
    require(cb.nonEmpty && cb.forall(_.nonEmpty))

    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def nullable: Boolean = false

    @transient private lazy val isF = isFloatArr(child)

    override def eval(input: InternalRow): Any = {
      val v = child.eval(input)
      pqCodesArr(if (v == null) null else v.asInstanceOf[ArrayData], cb, isF)
    }

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val cbRef = ctx.addReferenceObj("cb", cb, "double[][][]")
      staticCallGen(ctx, ev, child, "org.apache.spark.sql.catalyst.util.ArrayData",
        arg => s"graft.functions.AnnExprs.pqCodesArr($arg, $cbRef, $isF)")
    }

    override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  }

  /** Residual IVFPQ encode in one expression:
    * struct(cluster_id, codes) with the residual codeword per subspace —
    * what `PqIndex.writeResidualIndex` stores so a query-time LUT can
    * score candidates off the code columns alone.
    */
  case class ResidualCodesExpr(child: Expression, ids: Array[Long],
      cents: Array[Array[Double]], rcb: Array[Array[Array[Double]]])
      extends UnaryExpression {
    require(ids.length == cents.length && ids.nonEmpty)
    require(rcb.nonEmpty && rcb.forall(_.nonEmpty))

    override def dataType: DataType = residualCodesType
    override def nullable: Boolean = false

    @transient private lazy val isF = isFloatArr(child)

    override def eval(input: InternalRow): Any = {
      val v = child.eval(input)
      residualCodesRow(if (v == null) null else v.asInstanceOf[ArrayData],
        ids, cents, rcb, isF)
    }

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val idsRef = ctx.addReferenceObj("ids", ids, "long[]")
      val centsRef = ctx.addReferenceObj("cents", cents, "double[][]")
      val rcbRef = ctx.addReferenceObj("rcb", rcb, "double[][][]")
      staticCallGen(ctx, ev, child, "org.apache.spark.sql.catalyst.InternalRow",
        arg => s"graft.functions.AnnExprs.residualCodesRow($arg, $idsRef, $centsRef, " +
          s"$rcbRef, $isF)")
    }

    override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  }

  def nearestCentroid(emb: Column, ids: Array[Long], cents: Array[Array[Double]]): Column =
    ColumnBridge.column(NearestCentroidExpr(ColumnBridge.expression(emb), ids, cents))

  def probe(emb: Column, ids: Array[Long], cents: Array[Array[Double]], n: Int): Column =
    ColumnBridge.column(ProbeExpr(ColumnBridge.expression(emb), ids, cents, n))

  def pqCodes(emb: Column, cb: Array[Array[Array[Double]]]): Column =
    ColumnBridge.column(PqCodesExpr(ColumnBridge.expression(emb), cb))

  def residualCodes(emb: Column, ids: Array[Long], cents: Array[Array[Double]],
      rcb: Array[Array[Array[Double]]]): Column =
    ColumnBridge.column(ResidualCodesExpr(ColumnBridge.expression(emb), ids, cents, rcb))
}
