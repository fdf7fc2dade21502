package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{IvfIndex, PqIndex}

/** The native ANN expressions must agree EXACTLY with the HOF
  * formulations that define their semantics (and that the DuckDB
  * oracle mirrors) — on the whole sf0.001 corpus, on degenerate
  * embeddings (NULL, empty, short, long, null elements), and on seeded
  * random vectors: NearestCentroidExpr directly, and the PQ and
  * residual encoders the way a query serves them — the stored codes of
  * the layouts' row projections (`PqIndex.indexRows`,
  * `PqIndex.residualIndexRows`) summed through the ADC table
  * (`PqIndex.codeSum`) — against `PqHof.adcScoredHof` /
  * `PqHof.residualScoredHof`'s folds.
  */
class AnnParitySpec extends AnyFunSuite {
  import SparkSuite._

  private def q: DataFrame =
    Tables.embeddings(spark, Sf).filter(col("vec_id") === 0)
      .select(col("embedding").as("qvec"))

  // ---- full-corpus parity ------------------------------------------------

  test("nearest centroid: native == HOF on the whole corpus, bitwise") {
    val cents = IvfIndex.centroids(spark, Sf)
    val centsLit = IvfIndex.centroidLiteral(cents)
    val both = Tables.embeddings(spark, Sf).select(col("vec_id"), col("embedding"))
      .withColumn("n", IvfIndex.nearest(col("embedding"), cents))
      .withColumn("h", PqHof.nearestHof(col("embedding"), centsLit))
      .select(col("vec_id"), col("n.d2"), col("n.cluster_id"),
        col("h.d2"), col("h.cluster_id"))
      .collect()
    assert(both.nonEmpty)
    both.foreach { r =>
      assert(java.lang.Double.doubleToLongBits(r.getDouble(1)) ===
        java.lang.Double.doubleToLongBits(r.getDouble(3)), s"d2 mismatch: $r")
      assert(r.getLong(2) === r.getLong(4), s"cluster mismatch: $r")
    }
  }

  test("pq adc: native == HOF on the whole corpus") {
    val got = pqPair()
    assert(got.nonEmpty)
    got.foreach { case (id, n, h) => assert(n === h, s"vec $id adc: native $n hof $h") }
  }

  private def pqPair(): Seq[(Long, Long, Long)] = {
    val n = invokeAdc(native = true).withColumnRenamed("approx_e9", "n_e9")
    val h = invokeAdc(native = false).select(col("vec_id"), col("approx_e9").as("h_e9"))
    n.join(h, "vec_id").select("vec_id", "n_e9", "h_e9").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
  }

  private def invokeAdc(native: Boolean): DataFrame =
    if (native)
      pqServed(Tables.embeddings(spark, Sf).select(col("vec_id"), col("embedding")),
        cbMeta(), lutMeta()).select(col("vec_id"), col("n_e9").as("approx_e9"))
    else PqHof.adcScoredHof(spark, Sf, q).select("vec_id", "approx_e9")

  /** (vec_id, n_e9, codes): `df`'s stored PQ codes and their ADC score. */
  private def pqServed(df: DataFrame, cb: Array[Array[Array[Double]]],
      lut: Array[Array[Long]]): DataFrame =
    PqIndex.indexRows(df, IvfIndex.centroids(spark, Sf), cb)
      .select(col("vec_id"), PqIndex.codeSum(PqIndex.adcLiteral(lut), "code").as("n_e9"),
        array((0 until PqIndex.NumSub).map(s => col(s"code_$s").cast("long")): _*).as("codes"))

  /** (vec_id, n_cl, n_e9): `df`'s stored residual layout row — cluster
    * and residual codes — and the codes' residual ADC score.
    */
  private def residualServed(df: DataFrame, rcb: Array[Array[Array[Double]]],
      lut: Array[Array[Long]]): DataFrame =
    PqIndex.residualIndexRows(df, IvfIndex.centroids(spark, Sf), rcb)
      .select(col("vec_id"), col("cluster_id").as("n_cl"),
        PqIndex.codeSum(PqIndex.adcLiteral(lut), "rcode").as("n_e9"))

  // the metadata both folds run over, from the production quantized core
  private def cbMeta(): Array[Array[Array[Double]]] =
    PqIndex.codebookMetaOf(PqIndex.codebooks(spark, Sf), "cvec")

  private def lutMeta(): Array[Array[Long]] =
    PqIndex.adcTable(PqIndex.codebooks(spark, Sf), "cvec", q)

  test("pq encode: native == HOF row-for-row") {
    val n = PqHof.encode(spark, Sf).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    val h = PqHof.encodeHof(spark, Sf).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    assert(n.nonEmpty && n === h)
  }

  test("residual ivfpq: native == HOF on the whole corpus") {
    val n = PqHof.residualScoredHof(spark, Sf, q)
      .select(col("vec_id"), col("cluster_id").as("h_cl"), col("res_e9").as("h_e9"))
    val nat = residualServed(
      Tables.embeddings(spark, Sf).select(col("vec_id"), col("embedding")), rcbMeta(), rLutMeta())
    val both = nat.join(n, "vec_id").collect()
    assert(both.nonEmpty)
    both.foreach { r =>
      assert(r.getLong(1) === r.getLong(3), s"cluster: $r")
      assert(r.getLong(2) === r.getLong(4), s"res_e9: $r")
    }
  }

  private def rcbMeta(): Array[Array[Array[Double]]] =
    PqIndex.codebookMetaOf(PqHof.residualCodebooks(spark, Sf), "rcvec")

  private def rLutMeta(): Array[Array[Long]] =
    PqIndex.adcTable(PqHof.residualCodebooks(spark, Sf), "rcvec", q)

  // ---- degenerate embeddings --------------------------------------------

  /** NULL, empty, too-short, too-long, null-element, and valid rows —
    * every corner the HOF chain resolves through NULL-poisoned d² and
    * struct ordering.
    */
  private lazy val degenerate: DataFrame = {
    val dim = 64
    def vec(seed: Int, n: Int): Seq[Any] =
      (0 until n).map(i => ((seed * 31 + i * 7) % 13 - 6) / 3.0f)
    val rows = Seq(
      Row(1L, null),
      Row(2L, Seq.empty[Float]),
      Row(3L, vec(3, 5)),
      Row(4L, vec(4, dim + 6)),
      Row(5L, vec(5, dim).updated(2, null)),
      Row(6L, vec(6, dim)),
      Row(7L, vec(7, dim).updated(63, null)),
      Row(8L, vec(8, dim - 1)), // one short: windows 0-2 valid, 3 not
      // NaN elements pass the null-window check but poison every d² to
      // NaN — Spark total ordering (NaN == NaN, after +Inf) must give
      // (NaN, min id) / code 0, not the seed values (ADVICE r7)
      Row(9L, vec(9, dim).updated(10, Float.NaN)),
      Row(10L, (0 until dim).map(_ => Float.NaN)),
    )
    spark.createDataFrame(
      new java.util.ArrayList[Row](scala.jdk.CollectionConverters.SeqHasAsJava(rows).asJava),
      StructType(Seq(
        StructField("vec_id", LongType, nullable = false),
        StructField("embedding", ArrayType(FloatType, containsNull = true), nullable = true))))
  }

  test("degenerate embeddings: nearest native == HOF (NULL d2, min id)") {
    val cents = IvfIndex.centroids(spark, Sf)
    val centsLit = IvfIndex.centroidLiteral(cents)
    val got = degenerate
      .withColumn("n", IvfIndex.nearest(col("embedding"), cents))
      .withColumn("h", PqHof.nearestHof(col("embedding"), centsLit))
      .select(col("vec_id"), col("n.d2"), col("n.cluster_id"),
        col("h.d2"), col("h.cluster_id"))
      .collect()
    got.foreach { r =>
      assert(r.isNullAt(1) === r.isNullAt(3), s"d2 nullness: $r")
      if (!r.isNullAt(1))
        assert(java.lang.Double.doubleToLongBits(r.getDouble(1)) ===
          java.lang.Double.doubleToLongBits(r.getDouble(3)), s"d2: $r")
      assert(r.getLong(2) === r.getLong(4), s"cluster: $r")
    }
    // the malformed rows (1,2,3,4,5,7,8) must resolve to NULL d2 + min id
    val minId = IvfIndex.centroids(spark, Sf).agg(min(col("cluster_id"))).head().getLong(0)
    got.filter(r => !Set(6L, 9L, 10L).contains(r.getLong(0))).foreach { r =>
      assert(r.isNullAt(1) && r.getLong(2) === minId, s"malformed row: $r")
    }
    // NaN rows: d2 is NaN (not NULL) and the tiebreak still lands on
    // the min cluster_id — Spark total ordering, not seed leakage
    got.filter(r => Set(9L, 10L).contains(r.getLong(0))).foreach { r =>
      assert(!r.isNullAt(1) && r.getDouble(1).isNaN && r.getLong(2) === minId,
        s"NaN row: $r")
    }
  }

  test("degenerate embeddings: pq adc native == HOF (code 0 windows)") {
    val cb = cbMeta()
    val lut = lutMeta()
    val hofE9 = PqHof.adcE9(col("embedding"), PqHof.codebookLiteral(cb, "cvec"), "cvec",
      PqHof.lutLiteral(lut))
    val got = pqServed(degenerate, cb, lut)
      .join(degenerate.select(col("vec_id"), hofE9.as("h")), "vec_id")
      .select("vec_id", "n_e9", "h", "codes")
      .collect()
    got.foreach { r =>
      assert(r.getLong(1) === r.getLong(2), s"adc: $r")
      assert(r.getSeq[Long](3).length === PqIndex.NumSub)
    }
    // row 8 (one element short): windows 0..2 real codes, window 3 code 0
    val codes8 = got.find(_.getLong(0) == 8L).get.getSeq[Long](3)
    assert(codes8(3) === 0L)
  }

  test("degenerate embeddings: residual native == HOF chain") {
    val centsLit = IvfIndex.centroidLiteral(IvfIndex.centroids(spark, Sf))
    val rcb = rcbMeta()
    val lut = rLutMeta()
    val resE9 = PqHof.adcE9(col("rvec"), PqHof.codebookLiteral(rcb, "rcvec"), "rcvec",
      PqHof.lutLiteral(lut))
    val hof = PqHof.withResidual(degenerate, centsLit)
      .select(col("vec_id"), col("cluster_id").as("h_cl"), resE9.as("h_e9"))
    val nat = residualServed(degenerate, rcb, lut)
    val both = nat.join(hof, "vec_id").collect()
    assert(both.length === 10)
    both.foreach { r =>
      assert(r.getLong(1) === r.getLong(3), s"cluster: $r")
      assert(r.getLong(2) === r.getLong(4), s"res_e9: $r")
    }
  }

  // ---- vector-sum aggregator (VecAggParity) -----------------------------

  // ---- the probe ---------------------------------------------------------

  private val probeQSchema = StructType(Seq(
    StructField("query_id", LongType, nullable = false),
    StructField("qvec", ArrayType(FloatType, containsNull = true), nullable = true)))

  /** Each query's probe as (rank, cluster_id), nearest first: the native
    * `IvfIndex.probe` and the `InMemoryAnn` Window form over `qs`.
    */
  private def nativeProbe(cents: DataFrame, qs: DataFrame, n: Int): Map[Long, Seq[(Int, Long)]] =
    qs.select(col("query_id"), IvfIndex.probe(col("qvec"), IvfIndex.centroidMeta(cents), n)).collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1).zipWithIndex.map { case (c, i) => (i + 1, c) })
      .toMap

  private def windowProbe(cents: DataFrame, qs: DataFrame, n: Int): Map[Long, Seq[(Int, Long)]] =
    InMemoryAnn.probeClusters(qs.crossJoin(cents), n).collect()
      .groupBy(_.getLong(0))
      .map { case (q, rs) => q -> rs.map(r => (r.getInt(3), r.getLong(1))).toSeq.sorted }

  /** The native probe agrees with the Window form on the multi-row frame
    * `qrows` (a distributed scan, so codegen runs) and, query by query,
    * with both the Window and the TakeOrdered forms on one-row frames (a
    * local relation, evaluated interpreted). Returns the native probes.
    */
  private def probeParity(cents: DataFrame, qrows: Seq[Row],
      n: Int): Map[Long, Seq[(Int, Long)]] = {
    val multi = spark.createDataFrame(spark.sparkContext.parallelize(qrows, 2), probeQSchema)
    val got = nativeProbe(cents, multi, n)
    assert(got.keySet === qrows.map(_.getLong(0)).toSet)
    assert(windowProbe(cents, multi, n) === got, s"multi-row Window, nprobe $n")
    qrows.foreach { r =>
      val one = spark.createDataFrame(java.util.List.of(r), probeQSchema)
      val id = r.getLong(0)
      assert(nativeProbe(cents, one, n) === Map(id -> got(id)), s"one-row native, query $id")
      assert(windowProbe(cents, one, n) === Map(id -> got(id)), s"one-row Window, query $id")
      val taken = InMemoryAnn.nearestClusters(cents, one.select("qvec"), n).collect()
        .map(_.getLong(0)).toSeq.zipWithIndex.map { case (c, i) => (i + 1, c) }
      assert(taken === got(id), s"one-row TakeOrdered, query $id, nprobe $n")
    }
    got
  }

  test("probe: native == TakeOrdered and Window references, in order and rank") {
    val centSchema = StructType(Seq(
      StructField("cluster_id", LongType, nullable = false),
      StructField("cvec", ArrayType(FloatType, containsNull = true), nullable = true)))
    // 5 and 7 coincide (an exact d² tie everywhere); 3, 9 and 2 sit at
    // unit distance from the origin like 5 and 7
    val cents = spark.createDataFrame(java.util.List.of(
      Row(5L, Seq(1f, 0f, 0f, 0f)), Row(3L, Seq(-1f, 0f, 0f, 0f)),
      Row(9L, Seq(0f, 1f, 0f, 0f)), Row(1L, Seq(0f, 0f, 2f, 0f)),
      Row(7L, Seq(1f, 0f, 0f, 0f)), Row(2L, Seq(0f, 0f, 0f, -1f))), centSchema)
    val nlist = 6
    val qrows = Seq(
      Row(0L, Seq(0f, 0f, 0f, 0f)), // five centroids tie at d² 1
      Row(1L, Seq(0.5f, 0f, 0f, 0f)),
      Row(2L, Seq(0f, 0f, Float.NaN, 0f)), // every d² NaN
      Row(3L, null), // every d² NULL
      Row(4L, Seq(0f, 0f, 0f)), // short: every d² NULL
      Row(5L, Seq(0.3f, -0.7f, 1.1f, 0.2f)))
    val byId = Seq(1L, 2L, 3L, 5L, 7L, 9L)
    val full = Map(0L -> Seq(2L, 3L, 5L, 7L, 9L, 1L), 1L -> Seq(5L, 7L, 2L, 9L, 3L, 1L),
      2L -> byId, 3L -> byId, 4L -> byId)
    Seq(1, 2, nlist, nlist + 1, Int.MaxValue).foreach { n =>
      val got = probeParity(cents, qrows, n)
      full.foreach { case (q, ids) =>
        assert(got(q).map(_._2) === ids.take(math.min(n, nlist)), s"query $q, nprobe $n")
      }
      assert(got(5L).length === math.min(n, nlist))
    }
    // assignment is the same rule at n = 1
    val multi = spark.createDataFrame(spark.sparkContext.parallelize(qrows, 2), probeQSchema)
    multi.select(IvfIndex.nearest(col("qvec"), cents).getField("cluster_id"),
        element_at(IvfIndex.probe(col("qvec"), IvfIndex.centroidMeta(cents), 1), 1))
      .collect().foreach(r => assert(r.getLong(0) === r.getLong(1), s"assignment: $r"))
    // the corpus centroids against corpus vectors
    val corpusCents = IvfIndex.centroids(spark, Sf)
    val corpusNlist = corpusCents.count().toInt
    val corpusQs = Tables.embeddings(spark, Sf).orderBy("vec_id").limit(4)
      .select(col("vec_id").as("query_id"), col("embedding").as("qvec")).collect().toSeq
    assert(corpusQs.length === 4)
    Seq(1, 2, corpusNlist, corpusNlist + 1, Int.MaxValue).foreach { n =>
      val got = probeParity(corpusCents, corpusQs, n)
      assert(got.values.forall(_.length == math.min(n, corpusNlist)))
    }
  }

  test("meanVectors == posexplode twin on the corpus, bitwise") {
    val assigned = IvfIndex.assignedEmbeddings(spark, Sf)
      .select(col("cluster_id"), col("embedding"))
    val a = IvfIndex.meanVectors(assigned).collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    val b = InMemoryAnn.meanVectorsExploded(assigned).collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    assert(a.nonEmpty && a.keySet === b.keySet)
    a.foreach { case (cl, va) =>
      val vb = b(cl)
      assert(va.length === vb.length, s"cluster $cl dims")
      va.indices.foreach(i =>
        assert(java.lang.Double.doubleToLongBits(va(i)) ===
          java.lang.Double.doubleToLongBits(vb(i)), s"cluster $cl dim $i"))
    }
  }

  test("meanVectors == posexplode twin on ragged and null-bearing groups") {
    val rows = Seq(
      Row(1L, Seq[Any](1.0f, 2.0f, 3.0f)),
      Row(1L, Seq[Any](0.5f, null)),     // ragged + null element
      Row(2L, Seq[Any](2.0f)),
      Row(3L, Seq[Any](null, 4.0f)),     // null at dim 0
      Row(3L, Seq[Any](1.0f)),           // shorter row
      Row(3L, null),                     // whole-row NULL: contributes nothing
    )
    val df = spark.createDataFrame(
      new java.util.ArrayList[Row](scala.jdk.CollectionConverters.SeqHasAsJava(rows).asJava),
      StructType(Seq(
        StructField("cluster_id", LongType, nullable = false),
        StructField("embedding", ArrayType(FloatType, containsNull = true), nullable = true))))
    val a = IvfIndex.meanVectors(df).collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    val b = InMemoryAnn.meanVectorsExploded(df).collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    assert(a.keySet === b.keySet)
    a.foreach { case (cl, va) => assert(va === b(cl), s"cluster $cl") }
    // spot math: cluster 3 dim 0 averages over BOTH rows bearing the dim
    // (the null element counts toward n, contributes 0 to the sum)
    assert(a(3L) === Seq(0.5, 4.0))
    assert(a(1L) === Seq(0.75, 1.0, 3.0))
  }

  // ---- seeded random parity ---------------------------------------------

  test("seeded random vectors: all three natives == HOF") {
    val rnd = new scala.util.Random(0xA77)
    val dim = 64
    val rows = (1 to 200).map { i =>
      val n = if (i % 17 == 0) rnd.nextInt(80) else dim
      Row(i.toLong, Seq.fill(n)((rnd.nextFloat() - 0.5f) * 4f): Seq[Any])
    } :+ Row(0L, null)
    val df = spark.createDataFrame(
      new java.util.ArrayList[Row](scala.jdk.CollectionConverters.SeqHasAsJava(rows).asJava),
      StructType(Seq(
        StructField("vec_id", LongType, nullable = false),
        StructField("embedding", ArrayType(FloatType, containsNull = true), nullable = true))))
    val cents0 = IvfIndex.centroids(spark, Sf)
    val centsLit = IvfIndex.centroidLiteral(cents0)
    val cb = cbMeta()
    val lut = lutMeta()
    val hofE9 = PqHof.adcE9(col("embedding"), PqHof.codebookLiteral(cb, "cvec"), "cvec",
      PqHof.lutLiteral(lut))
    val got = df
      .withColumn("n", IvfIndex.nearest(col("embedding"), cents0))
      .withColumn("h", PqHof.nearestHof(col("embedding"), centsLit))
      .join(pqServed(df, cb, lut), "vec_id")
      .select(col("vec_id"),
        col("n.d2"), col("n.cluster_id"), col("h.d2"), col("h.cluster_id"),
        col("n_e9"), hofE9.as("h_e9"))
      .collect()
    assert(got.length === 201)
    got.foreach { r =>
      assert(r.isNullAt(1) === r.isNullAt(3), s"d2 nullness: $r")
      if (!r.isNullAt(1))
        assert(java.lang.Double.doubleToLongBits(r.getDouble(1)) ===
          java.lang.Double.doubleToLongBits(r.getDouble(3)), s"d2: $r")
      assert(r.getLong(2) === r.getLong(4), s"cluster: $r")
      assert(r.getLong(5) === r.getLong(6), s"adc: $r")
    }
  }
}
