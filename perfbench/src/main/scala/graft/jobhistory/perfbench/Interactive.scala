package graft.jobhistory.perfbench

import java.io.{ByteArrayOutputStream, PrintStream}
import java.net.{HttpURLConnection, URI, URLEncoder}
import java.nio.charset.StandardCharsets
import java.nio.file.Files

import org.apache.spark.sql.Row

import graft.jobhistory.{ChartSink, Cli, HttpServe, JobHistoryReader, JobHistoryViews, Reports}

/** `interactive`: one closed-loop client over a pool of single-job
  * logs. Requests alternate between an in-process CLI report (cycling
  * `-s -m -r -b` and `-t -png`, stdout captured) and a `log=` form POST
  * to a loopback `HttpServe` (scale 100, PNG reply). After a warm-up
  * pair, runs measure whole cycles of [[Cycle]] requests.
  *
  * Traced runs first force each layer of the request on its own
  * (views → entities → report → chart), then issue the real request;
  * the real request's span has the forced stages as its base, so its
  * self time is the glue around the layers.
  */
object Interactive {

  val CliKinds: Seq[Seq[String]] =
    Seq(Seq("-s"), Seq("-m"), Seq("-r"), Seq("-b"), Seq("-t", "-png"))

  /** Requests in one cycle: every CLI kind, each followed by an HTTP
    * chart. Runs measure whole cycles, so every run has the same mix. */
  val Cycle = 2 * CliKinds.size

  def run(ctx: Ctx): Seq[(String, String)] = {
    val spark = ctx.spark
    val tr = ctx.tracer
    // logs(0) is a small warm-up log; the pool follows it
    val logs = Seq("warmup", "logs").flatMap(d =>
      Files.list(ctx.work.resolve(d)).toArray.map(_.toString)
        .filter(_.endsWith(".txt")).sorted.toSeq)
    val pool = logs.size - 1
    val texts = logs.map(p => Files.readString(java.nio.file.Paths.get(p)))
    val bodies = texts.map(t =>
      ("log=" + URLEncoder.encode(t, StandardCharsets.UTF_8))
        .getBytes(StandardCharsets.UTF_8))
    val server = HttpServe.start(spark, 0)
    ctx.closeables += (() => server.stop(0))
    val url = URI.create(s"http://127.0.0.1:${server.getAddress.getPort}/").toURL

    def post(body: Array[Byte]): (Int, Array[Byte]) = {
      val c = url.openConnection().asInstanceOf[HttpURLConnection]
      try {
        c.setRequestMethod("POST")
        c.setDoOutput(true)
        c.setFixedLengthStreamingMode(body.length)
        c.setRequestProperty("Content-Type", "application/x-www-form-urlencoded")
        c.getOutputStream.write(body)
        c.getOutputStream.close()
        val code = c.getResponseCode
        val in = if (code < 400) c.getInputStream else c.getErrorStream
        (code, if (in == null) Array.emptyByteArray else in.readAllBytes())
      } finally c.disconnect()
    }

    /** Forced stages of one request (traced runs only). */
    def stages(kind: Seq[String], i: Int, scale: Long, http: Boolean): Seq[tr.Span] = {
      val spans = Seq.newBuilder[tr.Span]
      val events = if (http) {
        tr.span(ctx.sc, "reader.read_string") { s =>
          val ev = JobHistoryReader.readString(spark, texts(i))
          s.extras("rows") = ev.count().toDouble
          spans += s
          ev
        }
      } else JobHistoryReader.read(spark, logs(i))
      val v = new JobHistoryViews(spark, events, scale)
      try {
        tr.span(ctx.sc, "views.cache", spans.result()) { s =>
          s.extras("rows") = v.events.count().toDouble
          s.extras("cached_mb") = spark.sparkContext.getRDDStorageInfo
            .map(_.memSize).sum / 1e6
          spans += s
        }
        tr.span(ctx.sc, "views.entities") { s =>
          Seq(v.job, v.mapTasks, v.reduceTasks, v.finalAttempts,
            v.mapAttemptTimes, v.reduceAttemptTimes).foreach(_.count())
          spans += s
        }
        def report(name: String, df: => org.apache.spark.sql.DataFrame): Array[Row] =
          tr.span(ctx.sc, name) { s =>
            val rows = df.collect()
            s.extras("rows") = rows.length.toDouble
            spans += s
            rows
          }
        kind.head match {
          case "-s" => report("reports.summary", Reports.summary(v))
          case "-m" => report("reports.map_details", Reports.mapDetails(v))
          case "-r" => report("reports.reduce_details", Reports.reduceDetails(v))
          case "-b" => report("reports.bytes", Reports.bytesReport(v))
          case _ =>
            val rows = report("reports.timeline", Reports.timeline(v))
            val local = spark.createDataFrame(
              java.util.Arrays.asList(rows: _*), rows.headOption.map(_.schema)
                .getOrElse(Reports.timeline(v).schema))
            tr.span(ctx.sc, "chart.render") { s =>
              val buf = new ByteArrayOutputStream()
              ChartSink.writePng(local, buf, "", ChartSink.Width, ChartSink.Height)
              s.extras("png_kb") = buf.size / 1e3
              s.extras("timeline_rows") = rows.length.toDouble
              spans += s
            }
        }
      } finally v.release()
      spans.result()
    }

    // a warm-up pair (CLI -s, HTTP) on the small log compiles the
    // generated code; it is checked and counted, but not timed into the
    // latency statistics. Then whole cycles over the pool, at least one,
    // until the run's time is up.
    def fields(n: Int, log: String) =
      Seq("log" -> Json.str(log), "warmup" -> (n < 2).toString)

    val deadline = ctx.now() + ctx.seconds
    var n = 0
    while (n < 2 + Cycle || (n - 2) % Cycle != 0 || ctx.now() < deadline) {
      val m = n - 2 // index among measured requests
      val i = if (n < 2) 0 else 1 + (m / 2) % pool
      val log = java.nio.file.Paths.get(logs(i)).getFileName.toString
      if (n % 2 == 0) {
        val kind = if (n < 2) CliKinds.head else CliKinds((m / 2) % CliKinds.size)
        val png = ctx.out(f"req$n%04d.png").toString
        val args = Seq("-i", logs(i)) ++ kind ++ (if (kind.contains("-png")) Seq(png) else Nil)
        val base = if (tr.enabled) stages(kind, i, 1000L, http = false) else Nil
        val buf = new ByteArrayOutputStream()
        val op = tr.span(ctx.sc, "cli.run", base) { s =>
          ctx.timed("cli" + kind.head, fields(n, log)) {
            Console.withOut(new PrintStream(buf, true, "UTF-8")) {
              Cli.run(spark, Cli.parseArgs(args.toArray))
            }
            if (s != null) s.extras("body_kb") = buf.size / 1e3
            Nil
          }
        }
        // outputs are written after the timed call
        if (op.ok) {
          val outName = f"req$n%04d.txt"
          Files.write(ctx.out(outName), buf.toByteArray)
          ctx.ops(ctx.ops.size - 1) = op.copy(fields = op.fields ++ Seq(
            "out" -> Json.str(if (kind.contains("-png")) f"req$n%04d.png" else outName)))
        }
      } else {
        val base = if (tr.enabled) stages(Seq("-t"), i, 100L, http = true) else Nil
        var reply: Array[Byte] = Array.emptyByteArray
        val op = tr.span(ctx.sc, "http.request", base) { s =>
          ctx.timed("http", fields(n, log)) {
            val (code, body) = post(bodies(i))
            if (code != 200)
              sys.error(s"HTTP $code: " + new String(body, StandardCharsets.UTF_8).take(200))
            reply = body
            if (s != null) s.extras("body_kb") = body.length / 1e3
            Nil
          }
        }
        if (op.ok) {
          Files.write(ctx.out(f"req$n%04d.png"), reply)
          ctx.ops(ctx.ops.size - 1) = op.copy(fields = op.fields ++ Seq(
            "out" -> Json.str(f"req$n%04d.png")))
        }
      }
      n += 1
    }
    Nil
  }
}
