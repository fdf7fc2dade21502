package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.plans.TopK

class TopKSpec extends AnyFunSuite {
  import SparkSuite._

  test("TopK ranks NaN first, NULLs last and breaks ties by tie ASC") {
    import spark.implicits._
    // per group: NaNs, finite values with repeats, NULLs — several of
    // each flavor, so the order inside each flavor (the tiebreak)
    // matters too
    val rows: Seq[(Long, Option[Double], Long)] = (0 until 60).map { i =>
      val g = (i % 3).toLong
      val s = (i / 3) % 5 match {
        case 0 => Some(Double.NaN)
        case 1 => None
        case _ => Some((i * 37 % 7).toDouble)
      }
      (g, s, i.toLong)
    }
    // 20 rows per group (4 NaN, 4 NULL, 12 finite): k = 18 reaches into
    // the NULLs and still cuts two of them
    val k = 18
    val got = TopK(rows.toDF("g", "s", "t").repartition(4), "g", "s", "t", k, "rnk")
      .select("g", "t", "rnk").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val want = rows.groupBy(_._1).toSeq.flatMap { case (g, rs) =>
      rs.sortBy { case (_, s, t) =>
        (s.isEmpty, !s.exists(_.isNaN), -s.filterNot(_.isNaN).getOrElse(0.0), t)
      }.take(k).zipWithIndex.map { case ((_, _, t), i) => (g, t, i + 1L) }
    }.toSet
    assert(got === want)
  }

  test("TopK plans a partial WindowGroupLimit below its rank Exchange") {
    import spark.implicits._
    val df = TopK((0 until 1000).map(i => (i % 7L, i.toDouble, i.toLong))
      .toDF("g", "s", "t").repartition(4), "g", "s", "t", 2, "rnk")
    assert(df.collect().length === 14)
    assert(RankExchanges(df.queryExecution.executedPlan) === Seq("s" -> true))
  }
}
