package graftbench

import scala.collection.mutable
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.util.QueryExecutionListener

/** Engine accounting for one call into the library. `driverS` is wall
  * time not covered by any of the call's jobs.
  */
final case class OpSample(wallS: Double, driverS: Double, planS: Double,
    jobs: Long, tasks: Long, execRunS: Double, execCpuS: Double,
    shuffleBytes: Long, gcS: Double)

/** Spark-side spans, recorded from outside the program: a SparkListener
  * for jobs and task metrics, a QueryExecutionListener for planning
  * phase times. Every span drains the listener bus on entry and exit,
  * so the counts it takes are complete.
  */
final class Tracer(spark: SparkSession) extends SparkListener with QueryExecutionListener {
  private var tasks, runMs, cpuNs, gcMs, shuffleBytes, planMs = 0L
  private val started = mutable.Map.empty[Int, Long]
  private val finished = mutable.ArrayBuffer.empty[(Long, Long)]
  val samples = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[OpSample]]

  spark.sparkContext.addSparkListener(this)
  spark.listenerManager.register(this)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    started(e.jobId) = e.time
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    started.remove(e.jobId).foreach(s => finished += ((s, e.time)))
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      runMs += m.executorRunTime
      cpuNs += m.executorCpuTime
      gcMs += m.jvmGCTime
      shuffleBytes += m.shuffleWriteMetrics.bytesWritten
    }
  }
  private def planning(qe: QueryExecution): Long =
    qe.tracker.phases.values.map(_.durationMs).sum
  override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
    synchronized { planMs += planning(qe) }
  override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit =
    synchronized { planMs += planning(qe) }

  private def drain(): Unit = org.apache.spark.GraftBenchBus.drain(spark.sparkContext)

  def span[T](op: String)(body: => T): T = {
    drain()
    val (k0, j0) = synchronized {
      (Array(tasks, runMs, cpuNs, gcMs, shuffleBytes, planMs), finished.size)
    }
    val t0 = System.currentTimeMillis()
    val n0 = System.nanoTime()
    val out = body
    val wallS = (System.nanoTime() - n0) / 1e9
    drain()
    val t1 = t0 + (wallS * 1000).toLong
    synchronized {
      val d = Array(tasks, runMs, cpuNs, gcMs, shuffleBytes, planMs).zip(k0)
        .map { case (a, b) => a - b }
      val jobs = finished.drop(j0)
      // union of the jobs' intervals, clipped to the span
      var covered, end = 0L
      jobs.map { case (s, e) => (math.max(s, t0), math.min(e, t1)) }
        .filter { case (s, e) => e > s }.sortBy(_._1).foreach { case (s, e) =>
          val from = math.max(s, end)
          if (e > from) covered += e - from
          end = math.max(end, e)
        }
      samples.getOrElseUpdate(op, mutable.ArrayBuffer.empty) += OpSample(
        wallS, math.max(0.0, wallS - covered / 1e3), d(5) / 1e3, jobs.size,
        d(0), d(1) / 1e3, d(2) / 1e9, d(4), d(3) / 1e3)
    }
    out
  }

  /** Per-op medians under `<op>.<field>` names. */
  def opMetrics: Seq[(String, Double)] = samples.toSeq.flatMap { case (op, xs) =>
    def med(f: OpSample => Double) = Stats.median(xs.map(f).toSeq)
    Seq("wall_s" -> med(_.wallS), "driver_s" -> med(_.driverS), "plan_s" -> med(_.planS),
      "jobs" -> med(_.jobs.toDouble), "tasks" -> med(_.tasks.toDouble),
      "exec_run_s" -> med(_.execRunS), "exec_cpu_s" -> med(_.execCpuS),
      "shuffle_bytes" -> med(_.shuffleBytes.toDouble), "gc_s" -> med(_.gcS))
      .map { case (k, v) => s"$op.$k" -> v }
  }
}

/** SQL node metrics read off an executed plan after its action ran. */
object PlanStats {
  /** Every node with its ancestors (nearest first); AQE stages and
    * in-memory relations are unwrapped so their scans are visited.
    */
  private def walk(p: SparkPlan, up: List[SparkPlan]): Iterator[(SparkPlan, List[SparkPlan])] =
    p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan, up)
      case s: QueryStageExec => Iterator((s, up)) ++ walk(s.plan, s :: up)
      case m: InMemoryTableScanExec =>
        Iterator((m, up)) ++ walk(m.relation.cachedPlan, m :: up)
      case _ => Iterator((p, up)) ++
        (p.children ++ p.subqueries).iterator.flatMap(walk(_, p :: up))
    }

  private def metric(p: SparkPlan, name: String): Long =
    p.metrics.get(name).map(_.value).getOrElse(0L)

  final case class Scan(rows: Long, files: Long, joinedRows: Long, shuffledRows: Long)

  /** File scans of the layout rooted at `root`: rows and files read, the
    * rows out of the nearest join above each scan (the scored pairs that
    * enter the rank) and the rows the nearest shuffle above it wrote.
    */
  def scansUnder(plan: SparkPlan, root: String): Scan =
    walk(plan, Nil).collect {
      case (s: FileSourceScanExec, up)
          if s.relation.location.rootPaths.exists(_.toUri.getPath.startsWith(root)) =>
        Scan(metric(s, "numOutputRows"), metric(s, "numFiles"),
          up.collectFirst { case j: BaseJoinExec => metric(j, "numOutputRows") }.getOrElse(0L),
          up.collectFirst { case e: ShuffleExchangeExec => metric(e, "shuffleRecordsWritten") }
            .getOrElse(0L))
    }.foldLeft(Scan(0, 0, 0, 0)) { (a, b) =>
      Scan(a.rows + b.rows, a.files + b.files, a.joinedRows + b.joinedRows,
        a.shuffledRows + b.shuffledRows)
    }
}

object Stats {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted
      val n = s.length
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }
}
