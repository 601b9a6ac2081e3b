package graft.jobhistory

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The reference's four report surfaces + the python bytes report
  * (SURVEY §3), as DataFrames.
  *
  * Arithmetic parity (SURVEY §7.4): printed start/end columns are
  * `ms DIV scale` (division before subtraction); elapsed columns are
  * Groovy `(long)(f/scale - s/scale)` where the quotients are *exact*
  * BigDecimals — i.e. `(f_ms - s_ms) DIV scale`. The two differ by ±1
  * (proof: vis/grap/map.d:1 elapsed 8843 ≠ 1289551128-1289542284).
  *
  * Task-level joins are keyed on task/attempt id, with task-cardinality
  * right sides (finals, attempt times); job bounds are always broadcast
  * (J5).
  *
  * The job-level reports (summary, interval classification, spine,
  * both timelines) are each written once over a [[Grouping]]: the
  * single-log entry points run them with [[Single]], the fleet ones
  * with [[PerJob]].
  */
object Reports {

  /** S5: delimited-text sink — the reference's `-d`-separated report
    * output as a distributed write (one file per partition; use
    * `coalesce(1)` for the single-file CLI parity case). */
  def writeCsv(df: DataFrame, path: String, sep: String = ", "): Unit =
    df.write.mode("overwrite").option("sep", sep).option("header", "true")
      .csv(path)

  /** `-m` (bin/job_history:426-436; golden vis/grap/map.d). */
  def mapDetails(v: JobHistoryViews): DataFrame =
    detailsBase(v.mapTasks, v.scale)
      .select(col("task_id"), col("start_time"), col("end_time"),
        col("elapsed"), col("num_attempts"))
      .orderBy(col("task_id"))

  /** `-r`, current 7-column format (bin/job_history:438-458); golden
    * vis/grap/reduce.d carries the legacy 6 columns (drop
    * maps_complete). shuffle_finish is the *final attempt's*
    * SHUFFLE_FINISHED (J1: task ⋈ finalAttempt ⋈ attempt times). */
  def reduceDetails(v: JobHistoryViews): DataFrame =
    detailsBase(v.reduceTasks, v.scale)
      .join(shuffleOfFinal(v), Seq("task_id"), "left")
      .crossJoin(broadcast(allMapsComplete(v)))
      .select(col("task_id"), col("start_time"), col("maps_complete"),
        col("shuffle_u").as("shuffle_finish"), col("end_time"),
        col("elapsed"), col("num_attempts"))
      .orderBy(col("task_id"))

  private def detailsBase(tasks: DataFrame, scale: Long): DataFrame = {
    val s = col("attrs").getItem("START_TIME").cast("long")
    val f = col("attrs").getItem("FINISH_TIME").cast("long")
    tasks.select(
      col("task_id"),
      expr(s"CAST(attrs['START_TIME'] AS BIGINT) DIV $scale").as("start_time"),
      expr(s"CAST(attrs['FINISH_TIME'] AS BIGINT) DIV $scale").as("end_time"),
      ((f - s) / scale).cast("long").as("elapsed"),
      col("num_attempts"))
  }

  /** A6: max map-task finish, in scaled units (bin/job_history:440-446). */
  private def allMapsComplete(v: JobHistoryViews): DataFrame =
    v.mapTasks.agg(coalesce(
      max(expr(s"CAST(attrs['FINISH_TIME'] AS BIGINT) DIV ${v.scale}")),
      lit(0L)).as("maps_complete"))

  /** (task_id, shuffle_u) of each task's final reduce attempt. Unique
    * per task, so a left join onto tasks never multiplies rows. */
  private def shuffleOfFinal(v: JobHistoryViews): DataFrame =
    v.finalAttempts
      .join(v.reduceAttemptTimes.select(col("attempt_id"), col("shuffle_u")),
        Seq("attempt_id"))
      .select(col("task_id"), col("shuffle_u"))

  /** The python-surface reduce-output-bytes report
    * (bin/job_history.py:106-113): per reduce task with counters, HDFS
    * bytes written + the final attempt's shuffle/end times relative to
    * job submit. */
  def bytesReport(v: JobHistoryViews): DataFrame =
    v.reduceBytes
      .join(v.finalAttempts, Seq("task_id"), "left")
      .join(v.reduceAttemptTimes
        .select(col("attempt_id"), col("shuffle_u"), col("end_u")),
        Seq("attempt_id"), "left")
      .crossJoin(broadcast(v.bounds))
      .select(
        col("task_id"),
        col("reduce_output_bytes"),
        (col("shuffle_u") - col("submit_u")).as("shuffle_finish"),
        (col("end_u") - col("submit_u")).as("reduce_finish"))
      .orderBy(col("task_id"))

  // ------------------------------------------------------------ grouping

  /** Derive the owning job id from a task/attempt id — Hadoop ids embed
    * it (`task_<ts>_<seq>_m_000000` → `job_<ts>_<seq>`), so a directory
    * of many job logs analyzes in one pass with every aggregation keyed
    * by (job_id, …), with no per-file driver loop. */
  private[jobhistory] def jobIdOf(taskId: Column): Column =
    regexp_replace(taskId, "^(?:task|attempt)_([0-9]+_[0-9]+).*", "job_$1")

  /** How the job-level reports group records into jobs. Reports written
    * over a grouping prefix their output with [[keys]]. */
  private[jobhistory] sealed abstract class Grouping(val keys: Seq[String]) {
    /** Group key of the Job records. */
    def jobKey: Seq[Column]
    /** Group key of a task or attempt relation, from its id column. */
    def key(id: Column): Seq[Column]
    def bounds(v: JobHistoryViews): DataFrame
    /** `df` with its job's bounds (`submit_u`, `finish_u`) attached. */
    def withBounds(df: DataFrame, v: JobHistoryViews): DataFrame
    /** `jobs` left-joined to a per-group aggregate of the same key. */
    def joinAgg(jobs: DataFrame, agg: DataFrame): DataFrame
  }

  /** The whole log is one job: global aggregates (exactly one row, even
    * over no records) and the one-row bounds as a broadcast cross join.
    * Ids are never parsed, so any ids and logs without a Job record
    * behave as in the reference. */
  private[jobhistory] case object Single extends Grouping(Nil) {
    def jobKey: Seq[Column] = Nil
    def key(id: Column): Seq[Column] = Nil
    def bounds(v: JobHistoryViews): DataFrame = v.bounds
    def withBounds(df: DataFrame, v: JobHistoryViews): DataFrame =
      df.crossJoin(broadcast(bounds(v)))
    def joinAgg(jobs: DataFrame, agg: DataFrame): DataFrame =
      jobs.crossJoin(broadcast(agg))
  }

  /** One group per job: Job records keyed by JOBID, tasks and attempts
    * by the job their id embeds ([[jobIdOf]]), bounds joined on the
    * key. */
  private[jobhistory] case object PerJob extends Grouping(Seq("job_id")) {
    def jobKey: Seq[Column] = Seq(col("attrs").getItem("JOBID").as("job_id"))
    def key(id: Column): Seq[Column] = Seq(jobIdOf(id).as("job_id"))
    def bounds(v: JobHistoryViews): DataFrame = v.boundsPerJob
    def withBounds(df: DataFrame, v: JobHistoryViews): DataFrame =
      df.withColumn("job_id", jobIdOf(col("attempt_id")))
        .join(broadcast(bounds(v)), keys)
    def joinAgg(jobs: DataFrame, agg: DataFrame): DataFrame =
      jobs.join(agg, keys, "left")
  }

  // ------------------------------------------------------------- summary

  /** `-s` overview statistics as one typed row (bin/job_history:380-424;
    * golden scalars README:25-28). Averages are fractional (Groovy
    * BigDecimal division). Columns in the order `Cli -s` prints them. */
  def summary(v: JobHistoryViews): DataFrame =
    summaryBy(v, Single, withShuffle = true).select(
      Seq("job_id", "job_name", "user", "job_status", "total_time",
        "num_maps", "total_map_time", "all_maps_complete", "num_reduces",
        "total_reduce_time", "total_shuffle_time", "avg_map_time",
        "avg_shuffle_time", "avg_reduce_time").map(col): _*)

  /** Fleet summary: the `-s` statistics per job over a multi-job event
    * stream, one row per JOBID, ordered by job id. */
  def summaryPerJob(v: JobHistoryViews): DataFrame =
    summaryBy(v, PerJob, withShuffle = false).select(
      Seq("job_id", "job_name", "user", "job_status", "total_time",
        "num_maps", "total_map_time", "num_reduces", "total_reduce_time",
        "avg_map_time", "avg_reduce_time").map(col): _*)
      .orderBy(col("job_id"))

  /** The summary aggregation over a grouping. It reads a fixed set of
    * attribute keys, so every last-write-wins merge (LWW per key = last
    * record CARRYING the key) is a conditional `max_by` aggregate over
    * the cached events, not an explode of every attribute map.
    * `withShuffle` adds `total_shuffle_time` / `avg_shuffle_time`,
    * which need the final reduce attempts' SHUFFLE_FINISHED: a task ⋈
    * final attempt ⋈ attempt times join that only [[summary]] prints. */
  private def summaryBy(v: JobHistoryViews, g: Grouping,
      withShuffle: Boolean): DataFrame = {
    val scale = v.scale
    def a(k: String): Column = col("attrs").getItem(k)
    def last(cond: Column, k: String): Column =
      max_by(when(cond, a(k)), when(cond, col("line_no")))
    def lastOf(k: String): Column = last(a(k).isNotNull, k)
    def elapsed(s: String, f: String): Column =
      ((col(f).cast("long") - col(s).cast("long")) / scale).cast("long")

    // under PerJob the group key is the job id itself
    val jobId = if (g.keys.isEmpty) Seq(lastOf("JOBID").as("job_id")) else Nil
    val jobFields = jobId ++ Seq(
      lastOf("JOBNAME").as("job_name"), lastOf("USER").as("user"),
      lastOf("JOB_STATUS").as("job_status"),
      lastOf("LAUNCH_TIME").as("launch"), lastOf("FINISH_TIME").as("finish"))
    val jobs = v.events.filter(col("event") === "Job")
      .groupBy(g.jobKey: _*).agg(jobFields.head, jobFields.tail: _*)
      .select(col("job_id"), col("job_name"), col("user"), col("job_status"),
        elapsed("launch", "finish").as("total_time"))

    // per-task LWW of START/FINISH per record-level TASK_TYPE (the
    // reference routes each record by its own type, so SETUP/CLEANUP
    // Task records count as neither)
    def typed(t: String, k: String): Column =
      last(a("TASK_TYPE") === t && a(k).isNotNull, k)
    val perTask = v.events.filter(col("event") === "Task")
      .groupBy(a("TASKID").as("task_id"))
      .agg(typed("MAP", "START_TIME").as("m_start"),
        typed("MAP", "FINISH_TIME").as("m_finish"),
        typed("REDUCE", "START_TIME").as("r_start"),
        typed("REDUCE", "FINISH_TIME").as("r_finish"))
    val mapDone = col("m_finish").isNotNull
    val reduceDone = col("r_finish").isNotNull
    // totalShuffleTime += (long)(shuffle_u - START_TIME/scale): the
    // reference subtracts an exact quotient from the already-truncated
    // attempt unit, then truncates — ≡ (shuffle_u*scale - start_ms) DIV scale
    val shuffle =
      if (withShuffle) Seq(sum(when(reduceDone,
        ((col("shuffle_u") * scale - col("r_start").cast("long")) / scale)
          .cast("long"))).as("total_shuffle_time"))
      else Nil
    val taskFields = Seq(
      count(when(mapDone, 1)).as("num_maps"),
      sum(when(mapDone, elapsed("m_start", "m_finish"))).as("total_map_time"),
      max(when(mapDone, expr(s"CAST(m_finish AS BIGINT) DIV $scale")))
        .as("all_maps_complete"),
      count(when(reduceDone, 1)).as("num_reduces"),
      sum(when(reduceDone, elapsed("r_start", "r_finish")))
        .as("total_reduce_time")) ++ shuffle
    val tasks =
      if (withShuffle) perTask.join(shuffleOfFinal(v), Seq("task_id"), "left")
      else perTask
    val taskAgg = tasks.groupBy(g.key(col("task_id")): _*)
      .agg(taskFields.head, taskFields.tail: _*)

    def avg(total: String, n: String): Column =
      col(total).cast("double") / col(n)
    val summed = g.joinAgg(jobs, taskAgg)
      .withColumn("avg_map_time", avg("total_map_time", "num_maps"))
      .withColumn("avg_reduce_time", avg("total_reduce_time", "num_reduces"))
    if (withShuffle)
      summed.withColumn("avg_shuffle_time",
        avg("total_shuffle_time", "num_reduces"))
    else summed
  }

  // ------------------------------------------------------------ timeline

  /** T3: each attempt projected to (phase, lo, hi) interval rows on the
    * 0-based scaled spine of its job. Canonical semantics (SURVEY
    * §2.10): Groovy CLI phases + inclusive upper ends, CGI's
    * `Math.max(0, lo)` clamp; final attempts drive the real-work series,
    * non-final attempts are waste (J2/J3 as a left join on attempt_id).
    * Columns: the grouping's keys, then `phase, lo, hi`.
    *
    * Memoized and persisted on the views object, one entry per grouping
    * (dropped by [[JobHistoryViews.release]]): both timelines and
    * `intervals(v)` read the same classification. Attempt-cardinality
    * rows. */
  private def intervals(v: JobHistoryViews, g: Grouping): DataFrame =
    v.pinned(g)(classify(v, g))

  /** The single-log classification: (phase, lo, hi). */
  private[jobhistory] def intervals(v: JobHistoryViews): DataFrame =
    intervals(v, Single)

  /** One pass over the attempts of both kinds: one join with the finals,
    * one with the bounds, then each attempt row explodes to 0, 1 or 3
    * intervals — a map attempt to `maps` (final) or `waste`, a non-final
    * reduce to `waste`, a final reduce to `shuffle, merge, reduce`. A
    * final reduce lacking SHUFFLE/SORT_FINISHED yields none: with NULLs,
    * greatest/least would silently produce [start, job_finish] / [0, …]
    * intervals (the reference NPEs loudly here — we drop the malformed
    * attempt instead, documented divergence). */
  private[jobhistory] def classify(v: JobHistoryViews, g: Grouping): DataFrame = {
    val finals = v.finalAttempts.select(col("attempt_id"), lit(true).as("is_final"))
    val k = g.keys.map(col)
    def rel(c: Column): Column = c - col("submit_u")
    def iv(phase: Column, lo: Column, hi: Column): Column =
      struct(phase.as("phase"), greatest(lit(0L), rel(lo)).as("lo"),
        rel(least(hi, col("finish_u"))).as("hi"))
    val (start, shuffle, sort, end) =
      (col("start_u"), col("shuffle_u"), col("sort_u"), col("end_u"))
    val perAttempt =
      when(col("event") === "MapAttempt", array(iv(
        when(col("is_final"), "maps").otherwise("waste"), start, end)))
        .when(col("is_final").isNull, array(iv(lit("waste"), start, end)))
        .when(shuffle.isNotNull && sort.isNotNull, array(
          iv(lit("shuffle"), start, shuffle),
          iv(lit("merge"), shuffle, sort),
          iv(lit("reduce"), sort, end)))
    g.withBounds(v.attemptTimes
      .filter(start.isNotNull && end.isNotNull)
      .join(finals, Seq("attempt_id"), "left"), v)
      .select(k :+ explode(perAttempt).as("iv"): _*)
      .select(k ++ Seq(col("iv.phase"), col("iv.lo"), col("iv.hi")): _*)
      .filter(col("lo") <= col("hi") && col("lo").isNotNull)
  }

  /** The dense 0..duration time axis of each job. Inverted bounds
    * (clock-skewed log) give an empty axis, not a descending sequence. */
  private def spine(v: JobHistoryViews, g: Grouping): DataFrame =
    g.bounds(v)
      .filter(col("finish_u") >= col("submit_u"))
      .select(g.keys.map(col) :+ explode(
        sequence(lit(0L), col("finish_u") - col("submit_u"))).as("time"): _*)

  private val phaseNames = Seq("maps", "shuffle", "merge", "reduce", "waste")

  /** T4: sum `counts` of (keys, time, phase) rows into the wide
    * `maps/shuffle/merge/reduce/waste` series via conditional
    * aggregation (static pivot — no extra pass to discover pivot
    * values), then zero-fill it onto the spine. */
  private def onSpine(v: JobHistoryViews, g: Grouping, perPhase: DataFrame,
      counts: Column): DataFrame = {
    val keys = (g.keys :+ "time").map(col)
    val aggs = phaseNames.map(p =>
      coalesce(sum(when(col("phase") === p, counts)), lit(0L)).as(p))
    val wide = perPhase.groupBy(keys: _*).agg(aggs.head, aggs.tail: _*)
    spine(v, g).join(wide, g.keys :+ "time", "left")
      .select(keys ++ phaseNames.map(p => coalesce(col(p), lit(0L)).as(p)): _*)
      .orderBy(keys: _*)
  }

  /** T1-T4 by interval expansion — the reference's exact dataflow (one
    * row per (attempt, t)). O(Σ interval lengths) generated rows; see
    * [[sweepLine]] for the wide-spine path. */
  private def expansion(v: JobHistoryViews, g: Grouping): DataFrame = {
    val k = g.keys.map(col)
    val expanded = intervals(v, g).select(k ++ Seq(col("phase"),
      explode(sequence(col("lo"), col("hi"))).as("time")): _*)
    onSpine(v, g, expanded, lit(1L))
  }

  /** W2: the same timeline via sweep-line running sums — +1 at lo,
    * -1 at hi+1, cumulative per (job, phase). Only the O(attempts)
    * sparse delta rows go through the sort-based window; each resulting
    * step `[time, next_time)` then fills its span of the spine by a
    * map-only `sequence` explode, so a month-long job at millisecond
    * scale sorts exactly as many rows as a minute-long one. Identical
    * output to [[expansion]]. */
  private def sweepLine(v: JobHistoryViews, g: Grouping): DataFrame = {
    val k = g.keys.map(col)
    // both deltas of an interval in ONE pass over the classification
    // (a union of two selects would run the classification twice when
    // its cache is cold)
    val deltas = intervals(v, g)
      .select(k ++ Seq(col("phase"), explode(array(
        struct(col("lo").as("time"), lit(1L).as("d")),
        struct((col("hi") + 1).as("time"), lit(-1L).as("d")))).as("td")): _*)
      .groupBy(k ++ Seq(col("phase"), col("td.time").as("time")): _*)
      .agg(sum(col("td.d")).as("d"))
    val w = Window.partitionBy(k :+ col("phase"): _*).orderBy(col("time"))
    // running value + the half-open step it holds for. No bound scalar
    // needed: each interval contributes a +1 and a matching -1, so the
    // highest delta per (job, phase) always closes to running = 0 —
    // every surviving step has a next delta, and the closing -1 sits at
    // hi+1 <= duration+1 (intervals are clamped to the job bounds), so
    // no step outruns the spine. The spine left join remains the outer
    // clamp for degenerate (empty/inverted-bounds) logs.
    val steps = deltas
      .withColumn("running", sum(col("d"))
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("next_t", lead(col("time"), 1).over(w))
      .filter(col("running") =!= 0)
    val filled = steps.select(k ++ Seq(col("phase"), col("running"),
      explode(sequence(col("time"), col("next_t") - 1)).as("time")): _*)
    onSpine(v, g, filled, col("running"))
  }

  /** The single-log timeline by interval expansion. */
  def timeline(v: JobHistoryViews): DataFrame = expansion(v, Single)

  /** The single-log timeline by sweep line; equals [[timeline]]. */
  def timelineSweepLine(v: JobHistoryViews): DataFrame = sweepLine(v, Single)

  /** Fleet timeline by interval expansion, `job_id` first. */
  def timelinePerJob(v: JobHistoryViews): DataFrame = expansion(v, PerJob)

  /** Fleet timeline by sweep line; equals [[timelinePerJob]]. */
  def timelinePerJobSweepLine(v: JobHistoryViews): DataFrame = sweepLine(v, PerJob)

  /** Batch completion of the STREAMING timeline: pivots a converged
    * `(time, phase, count)` table (the [[Streaming.timelineStream]]
    * sink after an AvailableNow run) onto the batch spine with the
    * same zero-fill, so the streamed series gates against the exact
    * [[timeline]] oracle. Only the presentation spine (the dense
    * 0..duration axis) comes from the batch views — every count is
    * the stream's own output, including the zero rows its
    * retractions net out to. */
  def timelineFromPhaseCounts(v: JobHistoryViews, perPhase: DataFrame): DataFrame =
    onSpine(v, Single, perPhase, col("count"))
}
