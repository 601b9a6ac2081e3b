package graft.queries

import graft.{SparkEntry, SparkSpec}
import graft.jobhistory.{JobHistoryReader, JobHistoryViews, Reports}

/** Cache-lifecycle guard: the only persisted blocks in the engine are
  * the session-scoped job-history views caches (the parsed event
  * stream, `Views.scala`'s `events.cache()`, and the memoized interval
  * classification, one per job grouping, pinned on the views object).
  * Every other operator — in
  * particular the dedup/text pipelines whose round-5 persist removal
  * relies on AQE exchange reuse instead — must leave nothing behind in
  * the block manager: a stale MEMORY_AND_DISK block from one query can
  * evict a live cache mid-suite, and at 100 TB an un-unpersisted
  * intermediate is an executor-memory leak. Comments at
  * `DedupOps.scala` / `TextOps.scala` cite this spec by name.
  */
class CacheLifecycleSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  private def run(name: String): Unit =
    SparkEntry.queries(name)(spark, dir)
      .write.format("noop").mode("overwrite").save()

  test("full query sweep persists only the session-scoped views caches") {
    // relative baseline: other suites sharing the session may have
    // legitimately pinned their own caches before this one runs
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val (jh, rest) = SparkEntry.queries.keys.toSeq.sorted
      .partition(_.startsWith("jh_"))
    // Materialize the job-history family first: it is ALLOWED to pin
    // its three views-scoped caches (events + the single-log and
    // per-job interval classifications)...
    jh.foreach(run)
    val afterJh = spark.sparkContext.getPersistentRDDs.keySet
    assert((afterJh -- before).size <= 3,
      s"expected at most events+intervals caches, got ${afterJh -- before}")
    // ...then every other operator must add nothing: same persistent
    // RDD set before and after the full non-jh sweep.
    rest.foreach(run)
    val afterAll = spark.sparkContext.getPersistentRDDs.keySet
    assert(afterAll === afterJh,
      s"non-jh queries leaked persisted RDDs: ${afterAll -- afterJh}")
  }

  private def persistent: Set[Int] =
    spark.sparkContext.getPersistentRDDs.keySet.toSet

  test("job-history views: release() unpins every cache the reports pinned") {
    val log = Seq(
      """Job JOBID="job_1_0001" SUBMIT_TIME="10000"""",
      """Job JOBID="job_1_0001" LAUNCH_TIME="11000"""",
      """Task TASKID="task_1_0001_m_000000" TASK_TYPE="MAP" START_TIME="12000"""",
      """MapAttempt TASK_TYPE="MAP" TASKID="task_1_0001_m_000000" TASK_ATTEMPT_ID="attempt_1_0001_m_000000_0" START_TIME="12000"""",
      """MapAttempt TASK_TYPE="MAP" TASKID="task_1_0001_m_000000" TASK_ATTEMPT_ID="attempt_1_0001_m_000000_0" TASK_STATUS="SUCCESS" FINISH_TIME="15000"""",
      """Task TASKID="task_1_0001_m_000000" TASK_TYPE="MAP" TASK_STATUS="SUCCESS" FINISH_TIME="15000"""",
      """Job JOBID="job_1_0001" JOB_STATUS="SUCCESS" FINISH_TIME="20000"""")
      .map(_ + " .\n").mkString
    val before = persistent
    val v = new JobHistoryViews(spark, JobHistoryReader.readString(spark, log))
    Reports.summary(v).collect()
    val tl = Reports.timeline(v).collect().toSeq
    assert(tl.map(_.getLong(1)).sum === 4L) // maps busy over t = 2..5
    Seq(Reports.timelineSweepLine(v), Reports.timelinePerJob(v),
      Reports.timelinePerJobSweepLine(v)).foreach(_.collect())
    // the events and one classification per grouping
    assert((persistent -- before).size === 3, s"pinned ${persistent -- before}")
    v.release()
    assert(persistent === before)
    // clearCache drops every registration permanently (other suites'
    // too, so the baseline moves); the timeline re-pins its
    // classification and its rows do not change
    spark.catalog.clearCache()
    val cleared = persistent
    assert(Reports.timeline(v).collect().toSeq === tl)
    assert((persistent -- cleared).size === 1)
    v.release()
    assert(persistent === cleared)
  }
}
