package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.expressions.{HigherOrderFunction, LambdaFunction}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.execution.{ProjectExec, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, FloatType}
import graft.functions.EncoderExprs.EmbedTextExpr
import graft.operators.{BatchedEncoder, HashingEncoder, SearchApi}

/** The encoder seam: SearchApi.search must be IDENTICAL under the
  * column-expression stub and the batched-inference slot, and the
  * batched slot's plumbing (schema append, batch shape, normalization)
  * must be real — so a deployment swaps in a model by constructor
  * argument only.
  */
class EncoderSeamSpec extends AnyFunSuite {
  import SparkSuite._

  // tokenizer edges: empty and all-space text, inner runs, tabs and
  // newlines, a leading non-0x20 whitespace (Spark's trim keeps it, so
  // split yields a leading ""), repeated tokens, non-ASCII text
  private val edgeTexts: Seq[String] = Seq("", " ", "  a  b ", "a\tb\nc\r\nd",
    "\tlead tab", "\nlead newline ", "dup dup dup dup", "x y x y x",
    "héllo wörld", "日本語 テキスト", "emoji \uD83D\uDE00 \u00A0nbsp", "a\u2003b")

  /** (id, text) rows: the sf corpus, the edges above, and one NULL. */
  private lazy val inputs: Seq[(Long, String)] = {
    val corpus = Tables.documents(spark, Sf).select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    val base = corpus.map(_._1).max + 1
    corpus ++ (edgeTexts :+ null.asInstanceOf[String]).zipWithIndex
      .map { case (t, i) => (base + i, t) }
  }
  private lazy val nullId = inputs.last._1

  /** Vector elements as raw float bits (None for a null element). */
  private def bits(r: Row, i: Int): Seq[Option[Int]] =
    r.getSeq[Any](i).map(x =>
      Option(x).map(f => java.lang.Float.floatToRawIntBits(f.asInstanceOf[Float])))

  test("batched corpus encode is bit-identical to the column expression") {
    // the sf corpus plus the tokenizer edges above; NULL text is the one
    // documented divergence (TextEncoder scaladoc)
    import spark.implicits._
    val df = inputs.toDF("id", "text")
    def enc(e: graft.operators.TextEncoder) =
      e.encode(df, "text", "vec").select("id", "vec").collect()
        .map(r => r.getLong(0) -> bits(r, 1)).toMap
    val hash = enc(new HashingEncoder())
    val batched = enc(new BatchedEncoder(batchSize = 7))
    assert(hash.size === inputs.length && batched.size === inputs.length)
    inputs.map(_._1).filter(_ != nullId).foreach(id => assert(hash(id) === batched(id), s"id $id"))
    // HashingEncoder: dim null elements; BatchedEncoder: the encoding of ""
    assert(hash(nullId) === Seq.fill(SearchApi.Dim)(None))
    assert(batched(nullId) === hash(inputs.find(_._2 == "").get._1))
  }

  test("encoded vectors honor the contract: fixed dim, L2-normalized") {
    val docs = Tables.documents(spark, Sf).select("text").limit(50)
    val enc = new BatchedEncoder().encode(docs, "text", "vec").collect()
    enc.foreach { r =>
      val v = r.getSeq[Float](1)
      assert(v.length === SearchApi.Dim)
      val n = math.sqrt(v.map(x => x.toDouble * x).sum)
      assert(math.abs(n - 1.0) < 1e-5 || n == 0.0)
    }
  }

  test("SearchApi.search runs UNCHANGED under either encoder") {
    val a = SearchApi.search(spark, Sf, "vector search data pipelines",
      encoder = new HashingEncoder()).collect().toSeq
    val b = SearchApi.search(spark, Sf, "vector search data pipelines",
      encoder = new BatchedEncoder(batchSize = 3)).collect().toSeq
    assert(a.nonEmpty)
    assert(a === b)
    // and a filtered query too (payload filters compose with the seam)
    val c = SearchApi.search(spark, Sf, "distributed joins", minLogit = Some(-5.0),
      lang = Some("en"), encoder = new BatchedEncoder()).collect().toSeq
    val d = SearchApi.search(spark, Sf, "distributed joins", minLogit = Some(-5.0),
      lang = Some("en")).collect().toSeq
    assert(c === d)
  }

  test("a different model changes vectors but not the plumbing") {
    // a toy 'real model': constant direction per text length — proves
    // the slot accepts arbitrary model fns with the same contract
    val toy = (texts: Seq[String], dim: Int) => texts.map { t =>
      val v = Array.tabulate(dim)(i => if (i == t.length % dim) 1.0f else 0.0f)
      v
    }
    val docs = Tables.documents(spark, Sf).select("doc_id", "text").limit(20)
    val out = new BatchedEncoder(model = toy).encode(docs, "text", "vec")
      .select("doc_id", "vec").collect()
    assert(out.length === 20)
    out.foreach { r =>
      val v = r.getSeq[Float](1)
      assert(v.count(_ != 0.0f) === 1 && v.sum === 1.0f)
    }
  }

  private def assertNativeEqualsHof(df: DataFrame): Unit = {
    val out = df.select(col("id"),
      SearchApi.embedText(col("text")).as("n"), EncoderHof.embedTextHof(col("text")).as("h"))
    val fn = out.schema("n"); val fh = out.schema("h")
    assert(fn.dataType === ArrayType(FloatType, containsNull = true))
    assert(fn.dataType === fh.dataType && fn.nullable === fh.nullable && !fn.nullable)
    val rows = out.collect()
    assert(rows.length === inputs.length)
    rows.foreach(r => assert(bits(r, 1) === bits(r, 2), s"id ${r.getLong(0)}"))
    val nul = rows.filter(_.getLong(0) === nullId)
    assert(nul.length === 1 && bits(nul.head, 1) === Seq.fill(SearchApi.Dim)(None))
  }

  test("native embedText == HOF reference bitwise: interpreted LocalRelation path") {
    import spark.implicits._
    val df = inputs.toDF("id", "text")
    // the facade's query frame shape: the optimizer folds the encode
    // into the LocalRelation, i.e. EmbedTextExpr.eval runs
    assert(df.select(SearchApi.embedText(col("text")))
      .queryExecution.optimizedPlan.isInstanceOf[LocalRelation])
    assertNativeEqualsHof(df)
  }

  test("native embedText == HOF reference bitwise: parquet-backed codegen path") {
    import spark.implicits._
    val path = java.nio.file.Files.createTempDirectory("graft-enc-edge").toString + "/t"
    inputs.toDF("id", "text").write.parquet(path)
    assertNativeEqualsHof(spark.read.parquet(path))
  }

  test("HashingEncoder.encode is one native expression inside whole-stage codegen") {
    import spark.implicits._
    val path = java.nio.file.Files.createTempDirectory("graft-enc-plan").toString + "/t"
    Seq((1L, "fast hash table scan"), (2L, "")).toDF("id", "text").write.parquet(path)
    val df = new HashingEncoder().encode(spark.read.parquet(path), "text", "vec")
    // no interpreted lambda tree anywhere in the analyzed plan
    val hof = df.queryExecution.analyzed.find(_.expressions.exists(_.exists {
      case _: LambdaFunction | _: HigherOrderFunction => true
      case _ => false
    }))
    assert(hof.isEmpty, df.queryExecution.analyzed.toString)
    df.collect()
    // ... and the encoding projection sits inside a "*(n)" codegen stage
    val plan = df.queryExecution.executedPlan
    val stages = new AdaptiveSparkPlanHelper {}.collect(plan) { case w: WholeStageCodegenExec => w }
    assert(stages.exists(_.child.exists {
      case p: ProjectExec => p.projectList.exists(_.exists(_.isInstanceOf[EmbedTextExpr]))
      case _ => false
    }), plan.toString)
  }
}
