package graft.jobhistory.perfbench

import java.nio.file.{Files, Path, StandardCopyOption}
import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener, StreamingQueryProgress, Trigger}
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

import graft.jobhistory.{JobHistoryReader, JobHistoryViews, Reports, Streaming}

/** `stream`: `Streaming.timelineStreamPerJob(parseRecords(readStream))`
  * over a directory of `(line_no, record)` parquet chunks — interleaved
  * partial logs of concurrently running jobs, `line_no` the byte offset
  * in the interleaved stream. Fresh checkpoint per run.
  *
  * Phase 1, catch-up: `AvailableNow` over the staged backlog.
  * Phase 2, live (open loop): a generator thread moves each pending
  * chunk into the source directory at its scheduled due time; the
  * query runs back-to-back micro-batches. A chunk's latency is the
  * commit of the batch that read it minus its due time.
  *
  * After the run the converged table is compared with the batch
  * `Reports.timelinePerJob` over the same records (outside the timed
  * phases), and its per-(job, phase) sums are written for the facts
  * check.
  */
object Stream {

  val Schema = StructType(Seq(
    StructField("line_no", LongType, nullable = false),
    StructField("record", StringType, nullable = true)))

  /** A file source log entry: the chunk and the batch that read it. */
  private val ChunkRe = ".*(chunk-[0-9]+\\.parquet).*\"batchId\":([0-9]+).*".r

  /** The streaming timeline over a parquet source directory with one
    * checkpoint: the converged `(job_id, time, phase) -> count` table,
    * upserted from each batch's updates, and each batch's commit clock
    * and progress from a query listener. */
  final class Pipeline(ctx: Ctx, src: Path, val ckpt: Path,
      maxFilesPerTrigger: Option[Int] = None) {
    private val spark = ctx.spark
    val table = new ConcurrentHashMap[(String, Long, String), Long]()
    val commits = new ConcurrentHashMap[Long, (Double, StreamingQueryProgress)]()
    private val sink: (DataFrame, Long) => Unit = (df, _) =>
      df.collect().foreach { r =>
        table.put((r.getString(0), r.getLong(1), r.getString(2)), r.getLong(3))
      }
    private val listener = new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
        if (e.progress.durationMs.containsKey("addBatch"))
          commits.put(e.progress.batchId, (ctx.tracer.clock(), e.progress))
    }
    spark.streams.addListener(listener)
    ctx.closeables += (() => spark.streams.removeListener(listener))

    def start(trigger: Trigger): StreamingQuery = {
      val reader = spark.readStream.schema(Schema)
      val stream = maxFilesPerTrigger
        .fold(reader)(n => reader.option("maxFilesPerTrigger", n.toLong))
        .parquet(src.toString)
      Streaming.timelineStreamPerJob(Streaming.parseRecords(stream))
        .select("job_id", "time", "phase", "count")
        .writeStream.outputMode("update")
        .option("checkpointLocation", ckpt.toString)
        .foreachBatch(sink)
        .trigger(trigger).start()
    }

    /** Process everything in the source now, to completion. */
    def catchUp(): Unit = {
      val q = start(Trigger.AvailableNow())
      q.awaitTermination()
      q.exception.foreach(e => throw e)
    }

    /** Fill in the `stream.batch` spans of every committed batch. */
    def recordSpans(lag: Long => Double): Unit = if (ctx.tracer.enabled)
      commits.asScala.foreach { case (id, (at, p)) =>
        val s = ctx.tracer.batchSpan(p.id.toString, id)
        def secs(k: String): Double =
          Option(p.durationMs.get(k)).map(_.toDouble / 1000).getOrElse(0.0)
        s.end = at
        s.start = at - secs("triggerExecution")
        s.extras("add_batch_s") = secs("addBatch")
        s.extras("wal_commit_s") = secs("walCommit") + secs("commitOffsets")
        s.extras("state_rows") = p.stateOperators.map(_.numRowsTotal).sum.toDouble
        s.extras("state_mb") = p.stateOperators.map(_.memoryUsedBytes).sum / 1e6
        s.extras("rows") = p.numInputRows.toDouble
        s.extras("generator_lag_s") = lag(id)
      }

    /** Nonzero cells of the converged table. */
    def converged: Map[(String, Long, String), Long] =
      table.asScala.filter(_._2 != 0L).toMap

    /** Nonzero cells of the batch `timelinePerJob` over the same source. */
    def batchCells(): Map[(String, Long, String), Long] = {
      val v = new JobHistoryViews(spark,
        JobHistoryReader.parse(spark.read.schema(Schema).parquet(src.toString)), 1000L)
      try Reports.timelinePerJob(v).collect().flatMap { r =>
        Seq("maps", "shuffle", "merge", "reduce", "waste").flatMap { p =>
          val c = r.getAs[Long](p)
          if (c != 0) Some((r.getAs[String]("job_id"), r.getAs[Long]("time"), p) -> c)
          else None
        }
      }.toMap finally v.release()
    }
  }

  def run(ctx: Ctx): Seq[(String, String)] = {
    val root = ctx.work.resolve("stream")
    val src = root.resolve("src")
    val pending = root.resolve("pending")
    val schedule = Files.readAllLines(root.resolve("schedule.tsv")).asScala.toSeq
      .filter(_.nonEmpty).map(_.split("\t")).map(a => (a(0), a(1).toDouble))
    val backlogRecords = Files.readString(root.resolve("backlog_records")).trim.toLong
    val backlogMb = Files.list(src).iterator.asScala.map(Files.size(_)).sum / 1e6
    val pipe = new Pipeline(ctx, src, root.resolve("ckpt"))

    // ---- catch-up
    ctx.timed("catchup", Seq("records" -> backlogRecords.toString,
      "input_mb" -> Json.num(backlogMb))) { pipe.catchUp(); Nil }

    // ---- live
    val due = mutable.LinkedHashMap.empty[String, Double]
    val moved = new ConcurrentHashMap[String, Double]()
    val q = pipe.start(Trigger.ProcessingTime(0L))
    ctx.closeables += (() => q.stop())
    val t0 = ctx.tracer.clock() + 0.5
    schedule.foreach { case (name, at) => due(name) = t0 + at }
    val gen = new Thread(() => {
      schedule.foreach { case (name, _) =>
        val wait = due(name) - ctx.tracer.clock()
        if (wait > 0) Thread.sleep((wait * 1000).toLong)
        Files.move(pending.resolve(name), src.resolve(name),
          StandardCopyOption.ATOMIC_MOVE)
        moved.put(name, ctx.tracer.clock())
      }
    }, "perfbench-stream-generator")
    gen.setDaemon(true)
    gen.start()
    gen.join()
    q.processAllAvailable()

    // ---- chunk -> batch, from the file source's committed log (plain
    // batch files and the `N.compact` files that fold in earlier ones)
    val batchOf = mutable.HashMap.empty[String, Long]
    Files.list(pipe.ckpt.resolve("sources").resolve("0")).iterator.asScala
      .filter(_.getFileName.toString.matches("[0-9]+(\\.compact)?"))
      .foreach { f =>
        Files.readAllLines(f).asScala.foreach {
          case ChunkRe(name, id) => batchOf(name) = id.toLong
          case _ =>
        }
      }
    // progress events reach the listener asynchronously: wait (bounded)
    // for every batch's commit before stopping the query
    val waitUntil = ctx.now() + 10
    while (!batchOf.values.forall(pipe.commits.containsKey) && ctx.now() < waitUntil)
      Thread.sleep(20)
    q.stop()
    q.exception.foreach(e => throw e)
    due.foreach { case (name, d) =>
      val commit = batchOf.get(name).flatMap(b => Option(pipe.commits.get(b))).map(_._1)
      val ok = commit.isDefined
      ctx.ops += Op("chunk", commit.map(_ - d).getOrElse(Double.NaN), ok,
        if (ok) "" else "chunk never committed",
        Seq("batch" -> batchOf.get(name).map(_.toString).getOrElse("null"),
          "lag_s" -> Json.num(Option(moved.get(name)).map(_ - d).getOrElse(Double.NaN))))
    }
    pipe.recordSpans { id =>
      val lags = due.keys.filter(n => batchOf.get(n).contains(id))
        .flatMap(n => Option(moved.get(n)).map(_ - due(n)))
      if (lags.isEmpty) 0.0 else lags.max
    }

    // ---- convergence check, outside the timed phases
    val got = pipe.converged
    val want = pipe.batchCells()
    val sums = got.groupMapReduce { case ((j, _, p), _) => (j, p) }(_._2)(_ + _)
    Files.write(ctx.out("stream.tsv"), sums.toSeq.sorted
      .map { case ((j, p), c) => s"$j\t$p\t$c" }.mkString("", "\n", "\n").getBytes)
    Seq("stream_equals_batch" -> (got == want).toString,
      "stream_cells" -> got.size.toString,
      "batch_cells" -> want.size.toString)
  }
}
