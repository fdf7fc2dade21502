package graft

import org.apache.spark.sql.DataFrame

/** Spark job counts of a piece of driver work, read off the status
  * tracker of the shared test session: how many jobs building a plan
  * (its eager cuts and metadata collects) or running it launches.
  */
object JobCounts {
  import SparkSuite._

  /** Jobs `body` launches, counted under a fresh job group. */
  def of(body: => Unit): Int = {
    val sc = spark.sparkContext
    val group = s"jobs-${java.util.UUID.randomUUID()}"
    sc.setJobGroup(group, "job count")
    try body finally sc.clearJobGroup()
    settled(group)
  }

  /** Jobs of building `build` once it is warm (its layouts resolved). */
  def construction(build: () => DataFrame): Int = {
    build()
    of(build())
  }

  /** Jobs of building and collecting `build` once it is warm. */
  def warmCollect(build: () => DataFrame): Int = {
    build().collect()
    of(build().collect())
  }

  /** The job count of `group` once every one of its jobs has reached the
    * status store: the listener handles events in posting order, so that
    * holds when a later job's end has.
    */
  private def settled(group: String): Int = {
    val sc = spark.sparkContext
    val marker = s"$group-marker"
    sc.setJobGroup(marker, "listener barrier")
    try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
    val tracker = sc.statusTracker
    val deadline = System.nanoTime() + 30L * 1000000000L
    while (!tracker.getJobIdsForGroup(marker).exists(id =>
        tracker.getJobInfo(id).exists(
          _.status == org.apache.spark.JobExecutionStatus.SUCCEEDED))) {
      assert(System.nanoTime() < deadline, "listener barrier timed out")
      Thread.sleep(20)
    }
    tracker.getJobIdsForGroup(group).length
  }
}
