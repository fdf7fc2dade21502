package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.operators.Dedup

class MinHashSpec extends AnyFunSuite {
  import SparkSuite._

  test("native minhash signatures equal the HOF formulation exactly") {
    val a = Dedup.minhashSignatures(spark, Sf).orderBy("doc_id").collect()
    val b = TextHof.minhashSignaturesHof(spark, Sf).orderBy("doc_id").collect()
    assert(a.length === b.length)
    a.zip(b).foreach { case (x, y) => assert(x === y) }
  }
}
