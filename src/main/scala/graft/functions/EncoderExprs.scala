package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** The hashing text encoder as one native Catalyst expression.
  *
  * Its semantic definition is a `transform`/`aggregate` tree over
  * `split(trim(text), "\\s+")` (the parity reference in the test tree;
  * the DuckDB oracle mirrors it in SQL). Spark evaluates such a tree
  * interpreted and shares nothing across its lambdas, so a row costs
  * ~2·dim²·tokens md5 calls — on the driver, inside the optimizer, when
  * `ConvertToLocalRelation` folds a query frame. Here each token is
  * hashed once, and `doGenCode` is ONE static call (the [[TextExprs]]
  * pattern), so corpus encodes stay inside whole-stage codegen.
  */
object EncoderExprs {

  private val Ws = UTF8String.fromString("\\s+")

  private val digest = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  /** The hashing kernel — the only one in the engine. Tokens are
    * Spark's own `trim` (0x20 only) and regex `split` with trailing
    * empties kept, i.e. exactly `split(trim(text), "\\s+")`. Per token:
    * bucket = first 4 md5 hex nibbles mod `dim`, sign + for an even 5th
    * nibble. Buckets sum signed ±1.0 in token order; the vector is
    * divided by the square root of the in-order sum of squares and cast
    * to float (a plain cast when that norm is 0).
    */
  def embed(text: UTF8String, dim: Int): Array[Float] = {
    val md = digest.get()
    val raw = new Array[Double](dim)
    val toks = text.trim().split(Ws, -1)
    var i = 0
    while (i < toks.length) {
      md.reset()
      val d = md.digest(toks(i).getBytes)
      val b = (((d(0) & 0xff) << 8) | (d(1) & 0xff)) % dim
      raw(b) += (if ((((d(2) & 0xff) >> 4) & 1) == 0) 1.0 else -1.0)
      i += 1
    }
    var nrm2 = 0.0
    i = 0
    while (i < dim) { nrm2 += raw(i) * raw(i); i += 1 }
    val nrm = math.sqrt(nrm2)
    val out = new Array[Float](dim)
    i = 0
    while (i < dim) {
      out(i) = if (nrm > 0) (raw(i) / nrm).toFloat else raw(i).toFloat
      i += 1
    }
    out
  }

  /** [[EmbedTextExpr]] per-row work. A NULL text yields `dim` null
    * elements, as the HOF formulation does (its per-bucket folds over a
    * NULL token array are NULL).
    */
  def embedArr(text: UTF8String, dim: Int): ArrayData =
    if (text == null) new GenericArrayData(new Array[Any](dim))
    else UnsafeArrayData.fromPrimitiveArray(embed(text, dim))

  /** `array<float>` (containsNull = true, never NULL itself): the
    * schema of the HOF formulation it replaces. `child` is a string
    * ([[embedText]] casts, as `trim` does in the HOF formulation).
    */
  case class EmbedTextExpr(child: Expression, dim: Int) extends UnaryExpression {
    require(dim >= 1)
    override def dataType: DataType = ArrayType(FloatType, containsNull = true)
    override def nullable: Boolean = false

    override def eval(input: InternalRow): Any =
      embedArr(child.eval(input).asInstanceOf[UTF8String], dim)

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val c = child.genCode(ctx)
      ev.copy(
        code = c.code + code"""
          |org.apache.spark.sql.catalyst.util.ArrayData ${ev.value} =
          |  graft.functions.EncoderExprs.embedArr(${c.isNull} ? null : ${c.value}, $dim);""".stripMargin,
        isNull = FalseLiteral)
    }

    override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  }

  def embedText(text: Column, dim: Int): Column =
    ColumnBridge.column(EmbedTextExpr(ColumnBridge.expression(text.cast(StringType)), dim))
}
