package graft.jobhistory

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Entity views over the parsed event stream (SURVEY §1.2, §2.2-2.4).
  *
  * The reference builds these as mutable in-memory maps in one ordered
  * pass (bin/job_history:199-352). Here each view is a declarative
  * aggregation keyed on the entity id:
  *
  *  - Last-write-wins attribute merge (A1) = `max_by(value, line_no)`
  *    per (entity, key) — an ordered reduce that shuffles once on the
  *    entity key and map-side-combines, so it scales to arbitrarily
  *    many tasks/attempts per log and arbitrarily many logs.
  *  - Attempt counting (A2) = `countDistinct(attempt_id)` (the
  *    reference increments on first sighting of each attempt id).
  *  - Final-attempt selection (A3) = `max_by(attempt_id, line_no)` over
  *    SUCCESS-finish records per task: the *last* SUCCESS attempt wins,
  *    superseded finals and non-SUCCESS attempts become "wasted"
  *    (modeled downstream as an anti-join, J3).
  *
  * Timestamps: the reference divides by `scale` *before* any
  * subtraction, with Groovy `(long)` truncation (SURVEY §7.4, P9).
  * `u(col)` below reproduces `ms DIV scale` exactly; elapsed values
  * use `(a - b) DIV scale` where the reference subtracts exact
  * BigDecimal quotients before truncating.
  */
final class JobHistoryViews(
    spark: SparkSession,
    val events: DataFrame,
    val scale: Long = 1000L) {

  import spark.implicits._

  private val ev = events

  /** Pin (or re-pin) the parsed-event cache. A one-shot `.cache()`
    * registration is dropped permanently by
    * `spark.catalog.clearCache()` (or an explicit unpersist elsewhere
    * in the session), after which every report silently re-runs the
    * text-parse pipeline once per referencing subtree — the timeline
    * reports touch the event stream from 4-6 subtrees, so an evicted
    * cache means 4-6 full re-parses per execution. Callers that hand
    * out memoized views (JobHistoryOps) re-check before every query.
    * `storageLevel` is NONE exactly when no registration exists, so
    * this never double-caches. */
  def ensureCached(): this.type = {
    if (ev.storageLevel == org.apache.spark.storage.StorageLevel.NONE)
      ev.cache()
    this
  }
  ensureCached()

  /** The reports' interval classification, one per job grouping,
    * persisted alongside the event cache. */
  private val classifications =
    new java.util.concurrent.ConcurrentHashMap[Reports.Grouping, DataFrame]()

  /** `classify`, memoized per grouping and persisted for the life of
    * this views object. Re-pinned on every call, because `clearCache()`
    * drops a registration permanently (as in [[ensureCached]]). */
  private[jobhistory] def pinned(g: Reports.Grouping)(classify: => DataFrame): DataFrame = {
    val df = classifications.computeIfAbsent(g, _ => classify)
    if (df.storageLevel == org.apache.spark.storage.StorageLevel.NONE)
      df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    df
  }

  /** Unpin everything this views object cached (the event cache and
    * the memoized classifications). Session-scoped views live for the
    * session and never call this; short-lived views — one HTTP
    * request, one CLI run — must, or each one leaks its cache
    * registrations. */
  def release(): Unit = {
    classifications.values.forEach(_.unpersist())
    classifications.clear()
    ev.unpersist()
  }

  /** Scaled time unit: Groovy `(long)(x.toLong()/scale)` ≡ truncating
    * integral division (all fixture timestamps are positive). */
  private def u(c: Column): Column = (c.cast("long") / scale).cast("long")

  private def a(k: String): Column = col("attrs").getItem(k)

  /** Last value of `value` among rows satisfying `cond`, in record
    * order — the reference's overwrite-on-later-record semantics. */
  private def lastWhen(cond: Column, value: Column): Column =
    max_by(when(cond, value), when(cond, col("line_no")))

  // ---------------------------------------------------------------- job

  /** A1 on the Job entity: one merged attribute map (dynamic schema —
    * unknown keys carried along, SURVEY §1.3). */
  lazy val job: DataFrame =
    ev.filter($"event" === "Job")
      .select($"line_no", explode($"attrs").as(Seq("k", "v")))
      .groupBy($"k").agg(max_by($"v", $"line_no").as("v"))
      .agg(map_from_entries(collect_list(struct($"k", $"v"))).as("attrs"))

  /** A4: job bounds in scaled units. `finish_u` only from Job records
    * carrying FINISH_TIME but not SUBMIT_TIME (the reference's
    * if/else-if, bin/job_history:236-240). [[bounds]]: one row over
    * all Job records; [[boundsPerJob]]: one row per JOBID (the fleet
    * variant). */
  lazy val bounds: DataFrame = boundsBy()

  lazy val boundsPerJob: DataFrame = boundsBy(a("JOBID").as("job_id"))

  private def boundsBy(key: Column*): DataFrame =
    ev.filter($"event" === "Job")
      .groupBy(key: _*)
      .agg(
        u(lastWhen(a("SUBMIT_TIME").isNotNull, a("SUBMIT_TIME")))
          .as("submit_u"),
        u(lastWhen(a("SUBMIT_TIME").isNull && a("FINISH_TIME").isNotNull,
          a("FINISH_TIME"))).as("finish_u"))

  // ------------------------------------------------------------ attempts

  /** P6: SETUP/CLEANUP attempts dropped (MapAttempt branch only —
    * Groovy-canonical; bin/job_history:242-244). Records *without* a
    * TASK_TYPE are kept, as in the reference (null != "SETUP") — a bare
    * `!isin` would evaluate to NULL and silently drop them. */
  private val isMapAttempt: Column = $"event" === "MapAttempt" &&
    coalesce(!a("TASK_TYPE").isin("SETUP", "CLEANUP"), lit(true))
  private val isReduceAttempt: Column = $"event" === "ReduceAttempt"

  lazy val mapAttemptEvents: DataFrame = ev.filter(isMapAttempt)
  lazy val reduceAttemptEvents: DataFrame = ev.filter(isReduceAttempt)
  private lazy val attemptEvents: DataFrame = ev.filter(isMapAttempt || isReduceAttempt)

  /** Per attempt of either kind, keyed by `(event, attempt_id)`, in one
    * aggregation over one filtered scan. Start/finish records are
    * distinct rows merged per attempt (J4 as a groupBy, no self-join
    * needed): a start record carries START_TIME; a finish record carries
    * FINISH_TIME without START_TIME (reference if/else-if). P7: zero
    * scaled start times are ignored. `shuffle_u`/`sort_u` come from the
    * SHUFFLE_FINISHED / SORT_FINISHED of the finish records, which only
    * reduce attempts carry (bin/job_history:310-313). */
  lazy val attemptTimes: DataFrame = {
    val isStart = a("START_TIME").isNotNull && u(a("START_TIME")) =!= 0
    val isFinish = a("START_TIME").isNull && a("FINISH_TIME").isNotNull
    def finishU(k: String): Column = u(lastWhen(isFinish && a(k).isNotNull, a(k)))
    attemptEvents.groupBy($"event", a("TASK_ATTEMPT_ID").as("attempt_id"))
      .agg(lastWhen(lit(true), a("TASKID")).as("task_id"),
        u(lastWhen(isStart, a("START_TIME"))).as("start_u"),
        u(lastWhen(isFinish, a("FINISH_TIME"))).as("end_u"),
        finishU("SHUFFLE_FINISHED").as("shuffle_u"),
        finishU("SORT_FINISHED").as("sort_u"))
  }

  /** One kind's slice of [[attemptTimes]]. The filter is on a grouping
    * key, so the optimizer pushes it below the aggregate: each slice
    * plans as a single-kind aggregation, unused columns pruned. */
  private def attemptsOf(event: String, extra: String*): DataFrame =
    attemptTimes.filter($"event" === event)
      .select((Seq("attempt_id", "task_id", "start_u", "end_u") ++ extra).map(col): _*)

  lazy val mapAttemptTimes: DataFrame = attemptsOf("MapAttempt")
  lazy val reduceAttemptTimes: DataFrame =
    attemptsOf("ReduceAttempt", "shuffle_u", "sort_u")

  /** A3: per task, the attempt id of the last SUCCESS finish record —
    * across map AND reduce attempts (one shared finalAttempt map,
    * bin/job_history:276-282, 300-308). */
  lazy val finalAttempts: DataFrame = {
    val isSuccessFinish = a("START_TIME").isNull &&
      a("FINISH_TIME").isNotNull && a("TASK_STATUS") === "SUCCESS"
    attemptEvents.filter(isSuccessFinish)
      .groupBy(a("TASKID").as("task_id"))
      .agg(max_by(a("TASK_ATTEMPT_ID"), $"line_no").as("attempt_id"))
  }

  // -------------------------------------------------------------- tasks

  /** A1 merge of Task-event attributes per task, filtered to one
    * TASK_TYPE at record level (the reference routes each record by its
    * own TASK_TYPE — SETUP/CLEANUP Task records reach neither view). */
  private def mergedTasks(taskType: String): DataFrame =
    ev.filter($"event" === "Task" && a("TASK_TYPE") === taskType)
      .select($"line_no", a("TASKID").as("task_id"),
        explode($"attrs").as(Seq("k", "v")))
      .groupBy($"task_id", $"k").agg(max_by($"v", $"line_no").as("v"))
      .groupBy($"task_id")
      .agg(map_from_entries(collect_list(struct($"k", $"v"))).as("attrs"))

  /** A2: distinct attempt ids per task. */
  private def attemptCounts(df: DataFrame): DataFrame =
    df.groupBy(a("TASKID").as("task_id"))
      .agg(countDistinct(a("TASK_ATTEMPT_ID")).as("num_attempts"))

  /** Map tasks: Task-event attrs (the `-m` columns come from these, not
    * from attempt records) + NUM_ATTEMPTS. Task ids seen only via
    * attempts still appear (reference creates the entry), with null
    * attrs. */
  lazy val mapTasks: DataFrame =
    mergedTasks("MAP").join(attemptCounts(mapAttemptEvents),
      Seq("task_id"), "full_outer")
      .withColumn("num_attempts", coalesce($"num_attempts", lit(0L)))

  /** A9: HDFS_BYTES_WRITTEN of the reduce task's last COUNTERS-bearing
    * Task record; missing counter → 0 (py semantics,
    * bin/job_history.py:104). */
  lazy val reduceBytes: DataFrame =
    ev.filter($"event" === "Task" && a("TASK_TYPE") === "REDUCE" &&
      a("COUNTERS").isNotNull)
      .groupBy(a("TASKID").as("task_id"))
      // LWW on the raw string first: parse once per task, not per record
      .agg(max_by(a("COUNTERS"), $"line_no").as("cs"))
      .select($"task_id", coalesce(
        element_at(element_at(
          JobHistoryReader.parseCounters("cs"),
          "FileSystemCounters"), "HDFS_BYTES_WRITTEN"),
        lit(0L)).as("reduce_output_bytes"))

  /** P4 generalized: every counter of every Task record, long format —
    * (task_id, counter_group, counter_name, value) from the latest
    * COUNTERS-bearing record per task. The reference only ever reads
    * FileSystemCounters/HDFS_BYTES_WRITTEN (A9); the engine exposes the
    * full nested structure as a queryable view. */
  lazy val taskCounters: DataFrame =
    ev.filter($"event" === "Task" && a("COUNTERS").isNotNull)
      .groupBy(a("TASKID").as("task_id"))
      // LWW on the raw string first: parse once per task, not per record
      .agg(max_by(a("COUNTERS"), $"line_no").as("cs"))
      .withColumn("cmap", JobHistoryReader.parseCounters("cs"))
      .select($"task_id", explode($"cmap").as(Seq("counter_group", "inner")))
      .select($"task_id", $"counter_group",
        explode($"inner").as(Seq("counter_name", "value")))

  /** Diagnostics: records whose tail parsed to no attributes at all
    * (framing glitches, truncated lines) — the engine carries them
    * through silently like the reference; this view makes them
    * inspectable. */
  lazy val malformedRecords: DataFrame =
    ev.filter(size($"attrs") === 0)

  lazy val reduceTasks: DataFrame =
    mergedTasks("REDUCE").join(attemptCounts(reduceAttemptEvents),
      Seq("task_id"), "full_outer")
      .withColumn("num_attempts", coalesce($"num_attempts", lit(0L)))
}

object JobHistoryViews {
  def fromFile(spark: SparkSession, path: String, scale: Long = 1000L): JobHistoryViews =
    new JobHistoryViews(spark, JobHistoryReader.read(spark, path), scale)
}
