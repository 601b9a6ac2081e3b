package graft.jobhistory.perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}

/** Spans recorded from the benchmark around each call into a layer.
  *
  * A span runs its body under a Spark job group named after the span
  * id; a listener attributes every job (and its tasks' counters) to
  * the span whose group it carries. A streaming query's jobs go to the
  * `stream.batch` span of the micro-batch id Spark tags them with.
  * Jobs from other threads the benchmark does not own (the HTTP
  * server's dispatch thread) carry no group and go to the innermost
  * span open at job start — the benchmark drives one request at a
  * time, so that span is the one waiting on them.
  *
  * With tracing off, `span` only runs its body: no group, no listener.
  */
final class Tracer(val enabled: Boolean, traceId: String) {

  final class Span(val id: Long, val name: String, val parent: Option[Long],
      val base: Seq[Long], var start: Double) {
    var end: Double = 0.0
    val jobs = new AtomicLong
    val execMs = new AtomicLong
    val gcMs = new AtomicLong
    val shuffleBytes = new AtomicLong
    val spillBytes = new AtomicLong
    val inputBytes = new AtomicLong
    val extras = mutable.LinkedHashMap.empty[String, Double]
    def wall: Double = end - start
  }

  /** Local property Spark stores the job group in. */
  private val JobGroupKey = "spark.jobGroup.id"

  private val nextId = new AtomicLong
  private val done = mutable.ArrayBuffer.empty[Span]
  private val open = new ConcurrentHashMap[Long, Span]()
  private val stageSpan = new ConcurrentHashMap[Int, Span]()
  @volatile private var stack: List[Span] = Nil

  private def now(): Double = System.nanoTime() / 1e9

  /** Attach the job/task listener to a session's context. */
  def attach(sc: SparkContext): Unit = if (enabled) sc.addSparkListener(
    new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        def prop(k: String) = Option(js.properties).flatMap(p => Option(p.getProperty(k)))
        val group = prop(JobGroupKey)
        val batch = for {
          q <- prop("sql.streaming.queryId"); b <- prop("streaming.sql.batchId")
        } yield batchSpan(q, b.toLong)
        val span = group.filter(_.startsWith("span-"))
          .flatMap(g => Option(open.get(g.stripPrefix("span-").toLong)))
          .orElse(batch)
          .orElse(stack.headOption)
        span.foreach { s =>
          s.jobs.incrementAndGet()
          js.stageIds.foreach(stageSpan.put(_, s))
        }
      }
      override def onTaskEnd(te: SparkListenerTaskEnd): Unit = {
        val s = stageSpan.get(te.stageId)
        val m = te.taskMetrics
        if (s != null && m != null) {
          s.execMs.addAndGet(m.executorRunTime)
          s.gcMs.addAndGet(m.jvmGCTime)
          s.shuffleBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
          s.spillBytes.addAndGet(m.diskBytesSpilled + m.memoryBytesSpilled)
          s.inputBytes.addAndGet(m.inputMetrics.bytesRead)
        }
      }
    })

  /** Run `body` as span `name`. `base` names spans whose wall this one
    * re-executes (a forced stage repeats the stages before it), so the
    * span's self time is its increment over them. */
  def span[T](sc: => SparkContext, name: String, base: Seq[Span] = Nil)(
      body: Span => T): T = {
    if (!enabled) return body(null)
    val parent = stack.headOption
    val s = new Span(nextId.incrementAndGet(), name, parent.map(_.id),
      base.map(_.id), now())
    open.put(s.id, s)
    stack = s :: stack
    val ctx = sc
    val prevGroup = Option(ctx.getLocalProperty(JobGroupKey))
    ctx.setJobGroup(s"span-${s.id}", name, interruptOnCancel = false)
    try body(s)
    finally {
      s.end = now()
      prevGroup match {
        case Some(g) => ctx.setJobGroup(g, "", interruptOnCancel = false)
        case None => ctx.clearJobGroup()
      }
      stack = stack.tail
      open.remove(s.id)
      done.synchronized { done += s }
    }
  }

  private val batches = new ConcurrentHashMap[(String, Long), Span]()

  /** The `stream.batch` span of a streaming micro-batch: its jobs are
    * attributed by the batch id Spark tags them with; its bounds and
    * extras are filled in from the query's progress report. */
  def batchSpan(queryId: String, batchId: Long): Span =
    batches.computeIfAbsent((queryId, batchId), _ => {
      val s = new Span(nextId.incrementAndGet(), "stream.batch", None, Nil, 0.0)
      done.synchronized { done += s }
      s
    })

  /** Seconds on the span clock (for spans reported from listeners). */
  def clock(): Double = now()

  /** One JSON object per span. */
  def jsonLines: Seq[String] = done.synchronized(done.toList).map { s =>
    val fields = Seq(
      "trace" -> Json.str(traceId),
      "id" -> s.id.toString,
      "name" -> Json.str(s.name),
      "parent" -> s.parent.map(_.toString).getOrElse("null"),
      "base" -> s.base.mkString("[", ",", "]"),
      "start" -> Json.num(s.start),
      "end" -> Json.num(s.end),
      "wall_s" -> Json.num(s.wall),
      "jobs" -> s.jobs.get.toString,
      "exec_s" -> Json.num(s.execMs.get / 1000.0),
      "gc_s" -> Json.num(s.gcMs.get / 1000.0),
      "shuffle_mb" -> Json.num(s.shuffleBytes.get / 1e6),
      "spill_mb" -> Json.num(s.spillBytes.get / 1e6),
      "input_mb" -> Json.num(s.inputBytes.get / 1e6)) ++
      s.extras.toSeq.map { case (k, v) => k -> Json.num(v) }
    fields.map { case (k, v) => s"${Json.str(k)}:$v" }.mkString("{", ",", "}")
  }
}

object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => "\\u%04x".format(c.toInt)
      case c => c.toString
    } + "\""

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else d.toString

  def obj(fields: Seq[(String, String)]): String =
    fields.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")

  def arr(items: Seq[String]): String = items.mkString("[", ",", "]")
}
