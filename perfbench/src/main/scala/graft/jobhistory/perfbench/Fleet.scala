package graft.jobhistory.perfbench

import java.nio.file.Files

import scala.collection.mutable

import graft.jobhistory.{JobHistoryReader, JobHistoryViews, Reports}

/** `fleet`: the scan path. One request builds a fresh
  * `JobHistoryViews.fromFile` over a glob of the fleet directory, collects
  * `Reports.summaryPerJob` (cold: its first action parses and caches
  * the logs) and `Reports.timelinePerJobSweepLine`, then releases the
  * views. After one warm-up request, requests repeat until the run's
  * time is up, at least [[MinRequests]] of them.
  *
  * Traced runs force each stage on its own first — framing
  * (`readRaw.count`), parsing (noop sink), the event cache, the entity
  * views, then the two reports on the cache — and then time the real
  * request, whose wall is the untraced reference for the overhead.
  */
object Fleet {

  private val Phases = Seq("maps", "shuffle", "merge", "reduce", "waste")

  /** Measured requests per run at least, whatever the run time. */
  val MinRequests = 2

  /** Micro-batches of the traced run's streaming replay. */
  val StreamBatches = 4

  /** Input MB of the traced run's streaming replay: the fleet's smallest
    * logs up to this size (at least one log). */
  val ReplayMb = 1.0

  def run(ctx: Ctx): Seq[(String, String)] = {
    val spark = ctx.spark
    val tr = ctx.tracer
    val dir = ctx.work.resolve("fleet")
    val glob = dir.resolve("*.txt").toString
    val logs = Files.list(dir).toArray.map(_.asInstanceOf[java.nio.file.Path])
      .filter(_.toString.endsWith(".txt")).toSeq
    val inputMb = logs.map(Files.size(_)).sum / 1e6
    val replay = {
      val bySize = logs.sortBy(p => (Files.size(p), p.toString))
      val sums = bySize.scanLeft(0L)(_ + Files.size(_)).tail
      val names = bySize.take(math.max(1, sums.count(_ <= ReplayMb * 1e6)))
        .map(_.getFileName.toString)
      dir.resolve(names.mkString("{", ",", "}")).toString
    }

    def stages(): Seq[tr.Span] = {
      val frame = tr.span(ctx.sc, "reader.frame") { s =>
        s.extras("rows") = JobHistoryReader.readRaw(spark, glob).count().toDouble
        s.extras("input_mb") = inputMb
        s
      }
      val parse = tr.span(ctx.sc, "reader.parse", Seq(frame)) { s =>
        JobHistoryReader.read(spark, glob).write.format("noop").mode("overwrite").save()
        s.extras("input_mb") = inputMb
        s
      }
      val v = JobHistoryViews.fromFile(spark, glob)
      try {
        val cache = tr.span(ctx.sc, "views.cache", Seq(parse)) { s =>
          s.extras("rows") = v.events.count().toDouble
          s.extras("cached_mb") = spark.sparkContext.getRDDStorageInfo
            .map(_.memSize).sum / 1e6
          s
        }
        val ent = tr.span(ctx.sc, "views.entities") { s =>
          Seq(v.boundsPerJob, v.finalAttempts, v.mapAttemptTimes,
            v.reduceAttemptTimes).foreach(_.count())
          s
        }
        val sum = tr.span(ctx.sc, "reports.summary_per_job") { s =>
          s.extras("rows") = Reports.summaryPerJob(v).collect().length.toDouble
          s
        }
        val tl = tr.span(ctx.sc, "reports.timeline_per_job") { s =>
          s.extras("rows") = Reports.timelinePerJobSweepLine(v).collect().length.toDouble
          s
        }
        Seq(frame, parse, cache, ent, sum, tl)
      } finally v.release()
    }

    // warm-up: one full request compiles the generated code and warms
    // the JIT (a warm-up over fewer logs leaves the next request ~30 %
    // slower); counted (a failure is a failure) but not timed into the
    // statistics
    ctx.timed("warmup", Seq("warmup" -> "true")) {
      val v = JobHistoryViews.fromFile(spark, glob)
      try { Reports.summaryPerJob(v).collect(); Reports.timelinePerJobSweepLine(v).collect() }
      finally v.release()
      Nil
    }
    // traced runs also replay the smallest logs' records through the
    // streaming timeline (catch-up, one file per micro-batch, fresh
    // checkpoint) to measure the `stream.batch` layer on the same parser
    // and records (each parquet file holds whole logs, so every job's
    // records reach the stream in order); not the whole fleet, since a
    // micro-batch costs far more per record than the batch scan
    if (tr.enabled) {
      val records = ctx.work.resolve("fleet-records")
      JobHistoryReader.readRaw(spark, replay)
        .coalesce(StreamBatches).write.parquet(records.toString)
      val pipe = new Stream.Pipeline(ctx, records, ctx.work.resolve("fleet-ckpt"),
        maxFilesPerTrigger = Some(1))
      pipe.catchUp()
      pipe.recordSpans(_ => 0.0)
    }

    val deadline = ctx.now() + ctx.seconds
    var n = 0
    while (ctx.now() < deadline || n < MinRequests) {
      val base = if (tr.enabled) stages() else Nil
      var summary: Array[org.apache.spark.sql.Row] = Array.empty
      var timeline: Array[org.apache.spark.sql.Row] = Array.empty
      var summaryS = 0.0
      val op = tr.span(ctx.sc, "fleet.request", base) { _ =>
        ctx.timed("fleet", Seq("input_mb" -> Json.num(inputMb))) {
          val v = JobHistoryViews.fromFile(spark, glob)
          try {
            val t0 = ctx.now()
            summary = Reports.summaryPerJob(v).collect()
            summaryS = ctx.now() - t0
            timeline = Reports.timelinePerJobSweepLine(v).collect()
          } finally v.release()
          Nil
        }
      }
      if (op.ok) {
        val name = f"fleet$n%03d.tsv"
        writeFacts(ctx.out(name), summary, timeline)
        ctx.ops(ctx.ops.size - 1) = op.copy(fields = op.fields ++ Seq(
          "summary_s" -> Json.num(summaryS), "out" -> Json.str(name)))
      }
      n += 1
    }
    Nil
  }

  /** Per job: the summary row and the timeline's row count and
    * per-phase sums — what the generator's facts pin. */
  private def writeFacts(path: java.nio.file.Path,
      summary: Array[org.apache.spark.sql.Row],
      timeline: Array[org.apache.spark.sql.Row]): Unit = {
    val rows = mutable.HashMap.empty[String, Array[Long]]
    timeline.foreach { r =>
      val acc = rows.getOrElseUpdate(r.getAs[String]("job_id"), new Array[Long](6))
      acc(0) += 1
      Phases.zipWithIndex.foreach { case (p, k) => acc(k + 1) += r.getAs[Long](p) }
    }
    val cols = Seq("job_id", "job_name", "user", "job_status", "total_time",
      "num_maps", "total_map_time", "num_reduces", "total_reduce_time")
    val lines = summary.map { r =>
      val tl = rows.getOrElse(r.getAs[String]("job_id"), new Array[Long](6))
      (cols.map(c => String.valueOf(r.getAs[Any](c))) ++ tl.map(_.toString))
        .mkString("\t")
    }
    Files.write(path, (cols ++ ("timeline_rows" +: Phases))
      .mkString("", "\t", "\n").getBytes ++
      lines.mkString("", "\n", "\n").getBytes)
  }
}
