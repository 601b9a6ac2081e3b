package graft.jobhistory

import graft.SparkSpec

/** Malformed-input behavior and scale-parameter plumbing. */
class RobustnessSpec extends SparkSpec {

  private def capture(cfg: Cli.Config): String = {
    val out = new java.io.ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(out, true, "UTF-8")) {
      Cli.run(spark, cfg)
    }
    out.toString("UTF-8")
  }

  /** `Cli -s` output for `log`, written to a temporary file. */
  private def cliSummary(log: String): String = {
    val f = java.nio.file.Files.createTempFile("summary", ".txt")
    try {
      java.nio.file.Files.writeString(f, log)
      capture(Cli.Config(input = f.toString, report = "s"))
    } finally java.nio.file.Files.delete(f)
  }

  private val garbageLog = "complete garbage line .\n" +
    "NoAttrsEvent .\n" +
    "Task TASKID=\"t1\" TASK_TYPE=\"MAP\" START_TIME=\"1000\" .\n" +
    "key=value-without-quotes .\n"

  test("garbage records parse to empty attr maps without throwing") {
    val df = JobHistoryReader.readString(spark, garbageLog)
    val rows = df.collect()
    assert(rows.length === 4)
    val byEvent = rows.map(r =>
      r.getAs[String]("event") -> r.getAs[Map[String, String]]("attrs")).toMap
    assert(byEvent("NoAttrsEvent").isEmpty)
    assert(byEvent("complete").isEmpty)
    assert(byEvent("Task")("TASKID") === "t1")
    // reports over a log with no Job/attempt records don't throw
    val v = new JobHistoryViews(spark, df)
    assert(Reports.mapDetails(v).count() === 1L)
    // the single-log summary is a global aggregate: one row, even
    // with no Job record (Cli -s prints its head)
    assert(Reports.summary(v).collect().length === 1)
    assert(cliSummary(garbageLog).contains("Job details:"))
  }

  test("CLI: dangling or malformed flags fail with a usage error, not a stack bug") {
    val e1 = intercept[RuntimeException](Cli.main(Array("-i")))
    assert(e1.getMessage.contains("-i requires a value"))
    val e2 = intercept[RuntimeException](Cli.main(Array("--scale", "abc")))
    assert(e2.getMessage.contains("--scale requires a number"))
  }

  test("CLI -s parity: non-SUCCESS job prints details only, no overview (bin/job_history:384-386)") {
    val log =
      "Job JOBID=\"job_1_0001\" JOBNAME=\"x\" USER=\"u\" SUBMIT_TIME=\"900\" " +
        "LAUNCH_TIME=\"1000\" FINISH_TIME=\"5000\" JOB_STATUS=\"FAILED\" .\n" +
      "Task TASKID=\"task_1_0001_m_000000\" TASK_TYPE=\"MAP\" " +
        "START_TIME=\"1000\" FINISH_TIME=\"2000\" .\n"
    val failed = cliSummary(log)
    assert(failed.contains("Job details:"))
    assert(failed.contains("JOB_STATUS") || failed.contains("job_status"))
    assert(!failed.contains("Overview statistics"))
    // a SUCCESS job still gets the full overview
    val ok = capture(Cli.Config(input = Fixtures.pig, report = "s"))
    assert(ok.contains("Overview statistics"))
  }

  test("malformedRecords surfaces attribute-less records for inspection") {
    val log = "garbage line with no attrs .\n" +
      "Task TASKID=\"t1\" TASK_TYPE=\"MAP\" START_TIME=\"1000\" .\n"
    val v = new JobHistoryViews(spark, JobHistoryReader.readString(spark, log))
    val bad = v.malformedRecords.collect()
    assert(bad.length === 1)
    assert(bad.head.getAs[String]("event") === "garbage")
    // clean fixtures have none
    val pig = JobHistoryViews.fromFile(spark, Fixtures.pig)
    assert(pig.malformedRecords.count() === 0L)
  }

  test("empty input yields empty views, not exceptions") {
    val v = new JobHistoryViews(spark, JobHistoryReader.readString(spark, ""))
    assert(v.events.count() === 0L)
    assert(Reports.mapDetails(v).count() === 0L)
    assert(v.finalAttempts.count() === 0L)
    assert(Reports.summary(v).collect().length === 1)
    assert(Reports.summaryPerJob(v).count() === 0L)
    assert(cliSummary("").contains("Job details:"))
  }

  test("scale parameter: CLI (1e6) and CGI (100) units flow through the reports") {
    val sec = JobHistoryViews.fromFile(spark, Fixtures.pig, scale = 1000L)
    val cli = JobHistoryViews.fromFile(spark, Fixtures.pig, scale = 1000000L)
    val cgi = JobHistoryViews.fromFile(spark, Fixtures.pig, scale = 100L)

    val sSec = Reports.summary(sec).collect().head
    val sCli = Reports.summary(cli).collect().head
    val sCgi = Reports.summary(cgi).collect().head
    // total_time = (FINISH - LAUNCH) DIV scale at each unit
    val f = 1289568296892L; val l = 1289542275747L
    assert(sSec.getAs[Long]("total_time") === (f - l) / 1000)
    assert(sCli.getAs[Long]("total_time") === (f - l) / 1000000)
    assert(sCgi.getAs[Long]("total_time") === (f - l) / 100)
    // counts are unit-independent
    assert(sCli.getAs[Long]("num_maps") === 512L)
    assert(sCgi.getAs[Long]("num_reduces") === 320L)
    // timeline spine scales with the unit
    assert(Reports.timeline(cgi).count() ===
      (1289568296892L / 100 - 1289542263300L / 100 + 1))
  }
}
