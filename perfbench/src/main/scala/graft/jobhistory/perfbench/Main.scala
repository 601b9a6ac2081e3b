package graft.jobhistory.perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** The benchmark JVM: runs one workload over inputs generated by
  * `perfbench/run.py`, records every operation's wall time and output,
  * and writes `result.json` (plus `spans.jsonl` when traced) into the
  * work directory. Statistics and output checks are computed by the
  * Python side from those files.
  *
  * {{{
  * Main --workload <interactive|fleet|stream|shelves> --work <dir>
  *      --seconds <n> --trace <0|1>
  * }}}
  */
object Main {

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k -> v }.toMap
    val workload = opts("--workload")
    val work = Paths.get(opts("--work")).toAbsolutePath
    val seconds = opts("--seconds").toDouble
    val traced = opts.getOrElse("--trace", "0") == "1"

    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean
      .getStartTime / 1000.0
    val spark = newSession()
    val tracer = new Tracer(traced, s"$workload-${ProcessHandle.current().pid()}")
    tracer.attach(spark.sparkContext)
    val ctx = new Ctx(spark, work, seconds, tracer)
    // setup_s: JVM start -> session ready and a first trivial job done;
    // the `session` span covers the same interval (it can only open once
    // the session exists, so its start is moved back to JVM start)
    val setupS = tracer.span(spark.sparkContext, "session") { s =>
      spark.range(1000).selectExpr("sum(id)").collect()
      val setup = System.currentTimeMillis() / 1000.0 - jvmStart
      if (s != null) s.start = tracer.clock() - setup
      setup
    }

    val extra: Seq[(String, String)] =
      try workload match {
        case "interactive" => Interactive.run(ctx)
        case "fleet" => Fleet.run(ctx)
        case "stream" => Stream.run(ctx)
        case "shelves" => Shelves.run(ctx)
        case other => sys.error(s"unknown workload: $other")
      } finally ctx.closeables.reverse.foreach(c => util.Try(c()))

    val json = Json.obj(Seq(
      "workload" -> Json.str(workload),
      "setup_s" -> Json.num(setupS),
      "peak_rss_mb" -> Json.num(peakRssMb()),
      "heap_live_mb" -> Json.num(heapLiveMb()),
      "ops" -> Json.arr(ctx.ops.toSeq.map(_.json))) ++ extra)
    Files.writeString(work.resolve("result.json"), json)
    if (traced)
      Files.write(work.resolve("spans.jsonl"),
        tracer.jsonLines.mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
    spark.stop()
  }

  /** Every workload runs with this many local cores and shuffle partitions. */
  val Cpus = 4

  def newSession(): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$Cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", Cpus.toLong)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.ui.enabled", "false")
      // Spark's own status store keeps per-job/stage/query records up to
      // these counts; kept small so `heap_live_mb` measures what the
      // analyzer retains, not how many requests fit into the run
      .config("spark.ui.retainedJobs", "10")
      .config("spark.ui.retainedStages", "10")
      .config("spark.sql.ui.retainedExecutions", "10")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Heap still reachable after the workload (full GC, session still
    * open), MB: what the program retains — caches, memos, state. */
  def heapLiveMb(): Double = {
    // a collection enqueues the weak references Spark's context cleaner
    // frees asynchronously (broadcasts, shuffles, unpersisted blocks);
    // the next collections see what is left once it has run
    (0 until 3).foreach { _ => System.gc(); Thread.sleep(300) }
    val rt = Runtime.getRuntime
    (rt.totalMemory - rt.freeMemory) / 1e6
  }

  /** Process peak resident set (VmHWM), MB. */
  def peakRssMb(): Double =
    util.Try {
      scala.io.Source.fromFile("/proc/self/status").getLines()
        .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024)
        .getOrElse(Double.NaN)
    }.getOrElse(Double.NaN)
}

/** One timed operation: `kind`, wall seconds, whether it completed,
  * and free-form fields the output checks read. */
final case class Op(kind: String, wallS: Double, ok: Boolean, err: String,
    fields: Seq[(String, String)]) {
  def json: String = Json.obj(Seq(
    "kind" -> Json.str(kind), "wall_s" -> Json.num(wallS),
    "ok" -> ok.toString, "err" -> Json.str(err)) ++ fields)
}

/** Per-run context shared by the workloads. */
final class Ctx(val spark: SparkSession, val work: Path, val seconds: Double,
    val tracer: Tracer) {
  val ops = mutable.ArrayBuffer.empty[Op]
  val closeables = mutable.ArrayBuffer.empty[() => Unit]
  def sc = spark.sparkContext

  def now(): Double = System.nanoTime() / 1e9

  /** Time `body` as one operation; an exception is a failed operation
    * with its message kept, never a dropped one. `body` returns the
    * fields recorded with the operation. */
  def timed(kind: String, fixed: Seq[(String, String)] = Nil)(
      body: => Seq[(String, String)]): Op = {
    val t0 = now()
    val op =
      try { val f = body; Op(kind, now() - t0, ok = true, "", fixed ++ f) }
      catch {
        case scala.util.control.NonFatal(e) =>
          Op(kind, now() - t0, ok = false,
            e.getClass.getSimpleName + ": " +
              Option(e.getMessage).getOrElse("").linesIterator.take(2).mkString(" "),
            fixed)
      }
    ops += op
    op
  }

  def out(name: String): Path = {
    val d = work.resolve("out")
    Files.createDirectories(d)
    d.resolve(name)
  }
}
