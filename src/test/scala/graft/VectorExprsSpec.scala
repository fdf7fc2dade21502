package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.functions.VectorFunctions

/** The native codegen expressions must be BITWISE identical to the HOF
  * numeric spec on every real vector pair — otherwise the DuckDB oracle
  * mirrors (which mirror the HOF fold order) would drift.
  */
class VectorExprsSpec extends AnyFunSuite {
  import SparkSuite._

  private lazy val pairs = {
    val e = Tables.embeddings(spark, Sf).select("vec_id", "embedding")
    val q = e.filter(col("vec_id") % 50 === 0)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    e.crossJoin(broadcast(q))
  }

  test("native dot == HOF dot bitwise on all query-corpus pairs") {
    val bad = pairs
      .select(VectorFunctions.dot(col("embedding"), col("qvec")).as("n"),
        VectorHof.dotHof(col("embedding"), col("qvec")).as("h"))
      .filter(col("n") =!= col("h")).count()
    assert(bad === 0)
  }

  test("native dist2 == HOF dist2 bitwise on all query-corpus pairs") {
    val bad = pairs
      .select(VectorFunctions.dist2(col("embedding"), col("qvec")).as("n"),
        VectorHof.dist2Hof(col("embedding"), col("qvec")).as("h"))
      .filter(col("n") =!= col("h")).count()
    assert(bad === 0)
  }

  test("NULL vector elements yield NULL, matching the HOF twin") {
    import spark.implicits._
    val df = Seq(
      (Seq(Option(1f), None, Option(2f)), Seq(Option(1f), Option(1f), Option(1f))),
      (Seq(Option(1f), Option(2f), Option(3f)), Seq(Option(1f), Option(1f), None)),
      (Seq(Option(1f), Option(2f), Option(3f)), Seq(Option(2f), Option(1f), Option(1f)))
    ).toDF("x", "y")
    val got = df.select(
      VectorFunctions.dot(col("x"), col("y")).as("nd"),
      VectorHof.dotHof(col("x"), col("y")).as("hd"),
      VectorFunctions.dist2(col("x"), col("y")).as("n2"),
      VectorHof.dist2Hof(col("x"), col("y")).as("h2"))
    // native == HOF including NULL propagation (null-safe compare)
    assert(got.filter(not(col("nd") <=> col("hd")) || not(col("n2") <=> col("h2")))
      .count() === 0)
    assert(got.filter(col("nd").isNull).count() === 2)
    assert(got.filter(col("nd").isNotNull).count() === 1)
  }

  test("native expressions stay inside whole-stage codegen") {
    val df = pairs.select(VectorFunctions.dot(col("embedding"), col("qvec")).as("d"))
    df.collect() // materialize the final adaptive plan
    val plan = df.queryExecution.executedPlan.toString
    // codegen'd stages carry the "*(n)" marker in the final plan
    assert(plan.contains("*("), plan)
  }
}
