package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import graft.functions.TextFunctions.tokens

/** The hashing encoder's semantic definition as a Spark
  * `transform`/`aggregate` tree — the parity reference for the native
  * [[graft.functions.EncoderExprs.EmbedTextExpr]] (EncoderSeamSpec).
  * Interpreted and ~2·dim² md5 calls per token: spec-only.
  */
object EncoderHof {
  def embedTextHof(text: Column, dim: Int = 64): Column = {
    val toks = tokens(text)
    // bucket = first 4 md5 nibbles mod dim; sign from nibble 5
    val contrib = transform(toks, t => {
      val h = conv(substring(md5(t), 1, 4), 16, 10).cast("int")
      val sgn = when(conv(substring(md5(t), 5, 1), 16, 10).cast("int") % 2 === 0, 1.0)
        .otherwise(-1.0)
      struct((h % dim).as("b"), sgn.as("v"))
    })
    val raw = transform(sequence(lit(0), lit(dim - 1)), i =>
      aggregate(contrib, lit(0.0),
        (acc, c) => acc + when(c.getField("b") === i, c.getField("v")).otherwise(0.0)))
    val nrm = sqrt(aggregate(raw, lit(0.0), (acc, x) => acc + x * x))
    when(nrm > 0, transform(raw, x => (x / nrm).cast("float")))
      .otherwise(transform(raw, x => x.cast("float")))
  }
}
