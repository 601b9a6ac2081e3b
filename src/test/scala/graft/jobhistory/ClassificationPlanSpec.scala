package graft.jobhistory

import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.columnar.{InMemoryRelation, InMemoryTableScanExec}
import org.apache.spark.sql.types._

import graft.SparkSpec

/** Plan shape of the interval classification and the schemas of the
  * attempt views it reads. The classification reads the event cache
  * once per input — attempt times, final attempts, job bounds — under
  * either job grouping; a count above that means a subtree re-derives
  * an attempt view. Hermetic: a hand-written two-job log. */
class ClassificationPlanSpec extends SparkSpec with AdaptiveSparkPlanHelper {

  private def views(): JobHistoryViews = {
    def job(j: Int): Seq[String] = {
      val id = s"1111_000$j"
      Seq(
        s"""Job JOBID="job_$id" SUBMIT_TIME="10000"""",
        s"""MapAttempt TASK_TYPE="MAP" TASKID="task_${id}_m_000000" TASK_ATTEMPT_ID="attempt_${id}_m_000000_0" START_TIME="11000"""",
        s"""MapAttempt TASK_TYPE="MAP" TASKID="task_${id}_m_000000" TASK_ATTEMPT_ID="attempt_${id}_m_000000_0" TASK_STATUS="SUCCESS" FINISH_TIME="14000"""",
        s"""ReduceAttempt TASKID="task_${id}_r_000000" TASK_ATTEMPT_ID="attempt_${id}_r_000000_0" START_TIME="12000"""",
        s"""ReduceAttempt TASKID="task_${id}_r_000000" TASK_ATTEMPT_ID="attempt_${id}_r_000000_0" TASK_STATUS="SUCCESS" SHUFFLE_FINISHED="15000" SORT_FINISHED="16000" FINISH_TIME="18000"""",
        s"""Job JOBID="job_$id" JOB_STATUS="SUCCESS" FINISH_TIME="20000"""")
    }
    new JobHistoryViews(spark, JobHistoryReader.readString(spark,
      (job(1) ++ job(2)).map(_ + " .\n").mkString))
  }

  test("the classification scans the event cache once per input under both groupings") {
    val v = views()
    try {
      val eventCache = v.events.queryExecution.withCachedData.collectFirst {
        case r: InMemoryRelation => r.cacheBuilder
      }.get
      Seq(Reports.Single, Reports.PerJob).foreach { g =>
        // a fresh classification, not the pinned one: its plan still
        // shows every subtree that reads the events
        val plan = Reports.classify(v, g).queryExecution.executedPlan
        val scans = collect(plan) {
          case s: InMemoryTableScanExec if s.relation.cacheBuilder eq eventCache => s
        }
        assert(scans.length === 3, s"event-cache scans under $g")
      }
    } finally v.release()
  }

  test("attempt views keep their column names, types and order") {
    val v = views()
    try {
      def shape(s: StructType) = s.fields.map(f => f.name -> f.dataType).toSeq
      val times = Seq("attempt_id" -> StringType, "task_id" -> StringType,
        "start_u" -> LongType, "end_u" -> LongType)
      assert(shape(v.mapAttemptTimes.schema) === times)
      assert(shape(v.reduceAttemptTimes.schema) ===
        times ++ Seq("shuffle_u" -> LongType, "sort_u" -> LongType))
      assert(shape(v.finalAttempts.schema) ===
        Seq("task_id" -> StringType, "attempt_id" -> StringType))
    } finally v.release()
  }
}
