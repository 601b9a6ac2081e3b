package graft.jobhistory

import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.SparkSpec

/** Property tests (SURVEY §5.3): generated event logs, checked against
  * a tiny in-memory interpreter of the documented reference semantics
  * (last-write-wins merge, final-attempt supersession, attempt
  * counting). Spark must agree with the interpreter on every sample.
  * (Raw ScalaCheck sampling with fixed seeds — the scalatest bridge
  * isn't in the offline dependency cache.)
  */
class PropertySpec extends SparkSpec {

  private def forAll(gen: Gen[Seq[Ev]], samples: Int = 8)(body: Seq[Ev] => Unit): Unit =
    (1 to samples).foreach { i =>
      body(gen.pureApply(Gen.Parameters.default, Seed(i.toLong)))
    }

  private case class Ev(event: String, attrs: Seq[(String, String)]) {
    def render: String =
      event + " " + attrs.map { case (k, v) => s"""$k="$v"""" }.mkString(" ")
  }

  /** The documented semantics, interpreted directly (SURVEY §2.3). */
  private def interpret(evs: Seq[Ev]) = {
    val tasks = scala.collection.mutable.Map.empty[String, Map[String, String]]
    val attempts = scala.collection.mutable.Map.empty[String, Set[String]]
    var finals = Map.empty[String, String]
    evs.foreach { e =>
      val a = e.attrs.toMap
      e.event match {
        case "Task" if a.get("TASK_TYPE").contains("MAP") =>
          val id = a("TASKID")
          tasks(id) = tasks.getOrElse(id, Map.empty) ++ a
        case "MapAttempt" if !a.get("TASK_TYPE").exists(Set("SETUP", "CLEANUP")) =>
          val id = a("TASKID")
          attempts(id) = attempts.getOrElse(id, Set.empty) + a("TASK_ATTEMPT_ID")
          if (!a.contains("START_TIME") && a.contains("FINISH_TIME") &&
            a.get("TASK_STATUS").contains("SUCCESS"))
            finals += id -> a("TASK_ATTEMPT_ID")
        case _ =>
      }
    }
    (tasks.toMap, attempts.toMap, finals)
  }

  /** T3 interpreted over a single-job log (scale 1000): the reference's
    * ordered pass sets the bounds, each attempt's times and the final
    * attempt per task; then every attempt with a start and an end yields
    * its (phase, lo, hi) intervals on the job's 0-based spine, start
    * clamped at 0 and end capped at the job finish. */
  private def interpretIntervals(evs: Seq[Ev]): Seq[(String, Long, Long)] = {
    def u(ms: String): Long = ms.toLong / 1000
    case class Att(start: Option[Long] = None, end: Option[Long] = None,
        shuffle: Option[Long] = None, sort: Option[Long] = None)
    var submit, finish = Option.empty[Long]
    val atts = scala.collection.mutable.LinkedHashMap.empty[(String, String), Att]
    var finals = Map.empty[String, String]
    evs.foreach { e =>
      val a = e.attrs.toMap
      val isFinish = !a.contains("START_TIME") && a.contains("FINISH_TIME")
      val ignored = e.event == "MapAttempt" &&
        a.get("TASK_TYPE").exists(Set("SETUP", "CLEANUP"))
      e.event match {
        case "Job" =>
          if (a.contains("SUBMIT_TIME")) submit = Some(u(a("SUBMIT_TIME")))
          else if (a.contains("FINISH_TIME")) finish = Some(u(a("FINISH_TIME")))
        case "MapAttempt" | "ReduceAttempt" if !ignored =>
          val k = (e.event, a("TASK_ATTEMPT_ID"))
          val cur = atts.getOrElse(k, Att())
          atts(k) =
            if (a.contains("START_TIME"))
              if (u(a("START_TIME")) != 0) cur.copy(start = Some(u(a("START_TIME"))))
              else cur
            else if (isFinish)
              cur.copy(end = Some(u(a("FINISH_TIME"))),
                shuffle = a.get("SHUFFLE_FINISHED").map(u).orElse(cur.shuffle),
                sort = a.get("SORT_FINISHED").map(u).orElse(cur.sort))
            else cur
          if (isFinish && a.get("TASK_STATUS").contains("SUCCESS"))
            finals += a("TASKID") -> a("TASK_ATTEMPT_ID")
        case _ =>
      }
    }
    for {
      s <- submit.toSeq
      f <- finish.toSeq
      ((event, id), Att(Some(start), Some(end), shuffle, sort)) <- atts.toSeq
      // one copy per task the attempt is final for, one if it is final for none
      n = finals.values.count(_ == id)
      _ <- 1 to math.max(1, n)
      (phase, lo, hi) <- (event, n > 0, shuffle, sort) match {
        case ("MapAttempt", fin, _, _) => Seq((if (fin) "maps" else "waste", start, end))
        case (_, false, _, _) => Seq(("waste", start, end))
        case (_, true, Some(sh), Some(so)) =>
          Seq(("shuffle", start, sh), ("merge", sh, so), ("reduce", so, end))
        case _ => Nil
      }
      iv = (phase, math.max(0L, lo - s), math.min(hi, f) - s)
      if iv._2 <= iv._3
    } yield iv
  }

  private val genLog: Gen[Seq[Ev]] = for {
    nTasks <- Gen.choose(1, 4)
    evs <- Gen.sequence[Seq[Seq[Ev]], Seq[Ev]]((0 until nTasks).map { t =>
      val tid = s"task_$t"
      for {
        nAtt <- Gen.choose(1, 3)
        start <- Gen.choose(10L, 50L)
        dur <- Gen.choose(1L, 40L)
        statuses <- Gen.listOfN(nAtt, Gen.oneOf("SUCCESS", "FAILED", "KILLED"))
        restated <- Gen.option(Gen.choose(51L, 99L)) // LWW overwrite record
      } yield {
        val base = Seq(
          Ev("Task", Seq("TASKID" -> tid, "TASK_TYPE" -> "MAP",
            "START_TIME" -> s"${start * 1000}")))
        val over = restated.toSeq.map(v => Ev("Task",
          Seq("TASKID" -> tid, "TASK_TYPE" -> "MAP",
            "START_TIME" -> s"${v * 1000}")))
        val atts = statuses.zipWithIndex.flatMap { case (st, i) =>
          val aid = s"attempt_${t}_$i"
          Seq(
            Ev("MapAttempt", Seq("TASK_TYPE" -> "MAP", "TASKID" -> tid,
              "TASK_ATTEMPT_ID" -> aid, "START_TIME" -> s"${(start + i) * 1000}")),
            Ev("MapAttempt", Seq("TASK_TYPE" -> "MAP", "TASKID" -> tid,
              "TASK_ATTEMPT_ID" -> aid, "TASK_STATUS" -> st,
              "FINISH_TIME" -> s"${(start + i + dur) * 1000}")))
        }
        val fin = Ev("Task", Seq("TASKID" -> tid, "TASK_TYPE" -> "MAP",
          "TASK_STATUS" -> "SUCCESS",
          "FINISH_TIME" -> s"${(start + dur + nAtt) * 1000}"))
        base ++ over ++ atts :+ fin
      }
    }).map(_.flatten)
  } yield Seq(
    Ev("Job", Seq("JOBID" -> "j", "SUBMIT_TIME" -> "5000")),
    Ev("Job", Seq("JOBID" -> "j", "LAUNCH_TIME" -> "6000"))) ++ evs :+
    Ev("Job", Seq("JOBID" -> "j", "JOB_STATUS" -> "SUCCESS",
      "FINISH_TIME" -> "200000"))

  /** A multi-job log with Hadoop-convention ids (the fleet key),
    * reduce phases, supersession, and deliberately clamp-exercising
    * times: attempts may start before job submit (CGI clamp) and
    * finish after job finish (cap), reduce finishes sometimes omit
    * SHUFFLE/SORT (dropped from the phase series), and non-SUCCESS
    * attempts land in waste. Reduce tasks retry: FAILED, KILLED or
    * (superseded) SUCCESS attempts may precede the last one. Some map
    * attempts carry no TASK_TYPE (kept), and each job has SETUP and
    * CLEANUP tasks whose MapAttempt records every view ignores. Each
    * task has a Task START record and usually a Task FINISH record (an
    * unfinished task counts in no summary total); map task 0 always
    * finishes. */
  private def genJob(j: Int): Gen[Seq[Ev]] = {
    val jid = jobId(j)
    def taskId(kind: String, t: Int) = f"task_1111_$j%04d_${kind}_$t%06d"
    def attId(kind: String, t: Int, i: Int) =
      f"attempt_1111_$j%04d_${kind}_$t%06d_$i"
    def taskRecords(kind: String, t: Int, start: Long, finish: Long,
        status: String, finished: Boolean): (Ev, Seq[Ev]) = {
      val tpe = if (kind == "m") "MAP" else "REDUCE"
      (Ev("Task", Seq("TASKID" -> taskId(kind, t), "TASK_TYPE" -> tpe,
        "START_TIME" -> s"${start * 1000}")),
        if (finished) Seq(Ev("Task", Seq("TASKID" -> taskId(kind, t),
          "TASK_TYPE" -> tpe, "TASK_STATUS" -> status,
          "FINISH_TIME" -> s"${finish * 1000}")))
        else Nil)
    }
    val finishedGen = Gen.frequency(5 -> Gen.const(true), 1 -> Gen.const(false))
    for {
      submit <- Gen.choose(10L, 20L)
      dur <- Gen.choose(40L, 100L)
      nMap <- Gen.choose(1, 3)
      nRed <- Gen.choose(0, 2)
      mapTasks <- Gen.sequence[Seq[Seq[Ev]], Seq[Ev]]((0 until nMap).map { t =>
        for {
          nAtt <- Gen.choose(1, 2)
          specs <- Gen.listOfN(nAtt, for {
            off <- Gen.choose(-15L, 60L) // can start before submit
            len <- Gen.choose(1L, 80L) // can finish after job finish
            st <- Gen.oneOf("SUCCESS", "SUCCESS", "FAILED")
            typed <- Gen.frequency(4 -> Gen.const(true), 1 -> Gen.const(false))
          } yield (off, len, st, typed))
          finished <- if (t == 0) Gen.const(true) else finishedGen
        } yield {
          val times = specs.map { case (off, len, _, _) =>
            val start = math.max(1L, submit + off)
            (start, start + len)
          }
          val atts = specs.zip(times).zipWithIndex.flatMap {
            case (((_, _, status, typed), (start, end)), i) =>
              val tpe = if (typed) Seq("TASK_TYPE" -> "MAP") else Nil
              Seq(
                Ev("MapAttempt", tpe ++ Seq(
                  "TASKID" -> taskId("m", t), "TASK_ATTEMPT_ID" -> attId("m", t, i),
                  "START_TIME" -> s"${start * 1000}")),
                Ev("MapAttempt", tpe ++ Seq(
                  "TASKID" -> taskId("m", t), "TASK_ATTEMPT_ID" -> attId("m", t, i),
                  "TASK_STATUS" -> status,
                  "FINISH_TIME" -> s"${end * 1000}")))
          }
          val (open, close) = taskRecords("m", t, times.head._1,
            times.map(_._2).max, specs.last._3, finished)
          (open +: atts) ++ close
        }
      }).map(_.flatten)
      redTasks <- Gen.sequence[Seq[Seq[Ev]], Seq[Ev]]((0 until nRed).map { t =>
        for {
          nAtt <- Gen.choose(1, 3)
          // earlier attempts: failed, killed, or a SUCCESS a later one supersedes
          earlier <- Gen.listOfN(nAtt - 1, Gen.oneOf("FAILED", "KILLED", "SUCCESS"))
          last <- Gen.oneOf("SUCCESS", "SUCCESS", "FAILED")
          specs <- Gen.listOfN(nAtt, for {
            off <- Gen.choose(0L, 40L)
            shufLen <- Gen.choose(1L, 20L)
            sortLen <- Gen.choose(1L, 15L)
            redLen <- Gen.choose(1L, 40L)
            withPhases <- Gen.frequency(4 -> Gen.const(true), 1 -> Gen.const(false))
          } yield (off, shufLen, sortLen, redLen, withPhases))
          finished <- finishedGen
        } yield {
          val atts = specs.zip(earlier :+ last).zipWithIndex.map {
            case (((off, shufLen, sortLen, redLen, withPhases), status), i) =>
              val start = submit + off
              val sf = start + shufLen
              val so = sf + sortLen
              val e = so + redLen
              val finishAttrs = Seq("TASKID" -> taskId("r", t),
                "TASK_ATTEMPT_ID" -> attId("r", t, i), "TASK_STATUS" -> status,
                "FINISH_TIME" -> s"${e * 1000}") ++
                (if (withPhases) Seq("SHUFFLE_FINISHED" -> s"${sf * 1000}",
                  "SORT_FINISHED" -> s"${so * 1000}")
                else Nil)
              (start, e, Seq(
                Ev("ReduceAttempt", Seq("TASKID" -> taskId("r", t),
                  "TASK_ATTEMPT_ID" -> attId("r", t, i),
                  "START_TIME" -> s"${start * 1000}")),
                Ev("ReduceAttempt", finishAttrs)))
          }
          val (open, close) = taskRecords("r", t, atts.map(_._1).min,
            atts.map(_._2).max, last, finished)
          (open +: atts.flatMap(_._3)) ++ close
        }
      }).map(_.flatten)
      // SETUP and CLEANUP tasks, numbered after the map tasks
      aux = Seq("SETUP" -> (submit + 1), "CLEANUP" -> (submit + dur - 1))
        .zipWithIndex.flatMap { case ((tpe, at), i) =>
          val t = nMap + i
          val ids = Seq("TASK_TYPE" -> tpe, "TASKID" -> taskId("m", t),
            "TASK_ATTEMPT_ID" -> attId("m", t, 0))
          Seq(
            Ev("Task", Seq("TASKID" -> taskId("m", t), "TASK_TYPE" -> tpe,
              "START_TIME" -> s"${at * 1000}")),
            Ev("MapAttempt", ids :+ ("START_TIME" -> s"${at * 1000}")),
            Ev("MapAttempt", ids ++ Seq(
              "TASK_STATUS" -> "SUCCESS", "FINISH_TIME" -> s"${(at + 1) * 1000}")),
            Ev("Task", Seq("TASKID" -> taskId("m", t), "TASK_TYPE" -> tpe,
              "TASK_STATUS" -> "SUCCESS", "FINISH_TIME" -> s"${(at + 1) * 1000}")))
        }
    } yield
      Seq(Ev("Job", Seq("JOBID" -> jid, "JOBNAME" -> s"name$j", "USER" -> "u",
          "SUBMIT_TIME" -> s"${submit * 1000}")),
        Ev("Job", Seq("JOBID" -> jid, "LAUNCH_TIME" -> s"${(submit + 1) * 1000}"))) ++
        (aux.take(4) ++ mapTasks ++ redTasks ++ aux.drop(4)) :+
        Ev("Job", Seq("JOBID" -> jid, "JOB_STATUS" -> "SUCCESS",
          "FINISH_TIME" -> s"${(submit + dur) * 1000}"))
  }

  private def jobId(j: Int): String = f"job_1111_$j%04d"

  /** Per-job logs of one generated fleet, in job order. */
  private def genJobs(nJobs: Int): Gen[Seq[Seq[Ev]]] =
    Gen.sequence[Seq[Seq[Ev]], Seq[Ev]]((1 to nJobs).map(genJob))

  private def genFleetLog(nJobs: Int): Gen[Seq[Ev]] = genJobs(nJobs).map(_.flatten)

  private def views(evs: Seq[Ev]): JobHistoryViews =
    new JobHistoryViews(spark,
      JobHistoryReader.readString(spark, evs.map(_.render + " .\n").mkString))

  test("generated fleet logs: sweep-line timelines equal interval expansion") {
    forAll(genFleetLog(3), samples = 6) { evs =>
      val v = views(evs)
      try {
        // single-job surface (global bounds over all Job records)
        val a = Reports.timeline(v).collect().map(_.toSeq)
        val b = Reports.timelineSweepLine(v).collect().map(_.toSeq)
        assert(b.toSeq === a.toSeq)
        // fleet surface (per-job bounds through the id-embedded job)
        val pa = Reports.timelinePerJob(v).collect().map(_.toSeq)
        val pb = Reports.timelinePerJobSweepLine(v).collect().map(_.toSeq)
        assert(pb.toSeq === pa.toSeq)
      } finally v.release()
    }
  }

  test("generated fleet logs: each job's fleet rows equal the single-log reports on its records alone") {
    val shared = Seq("job_id", "job_name", "user", "job_status", "total_time",
      "num_maps", "total_map_time", "num_reduces", "total_reduce_time",
      "avg_map_time", "avg_reduce_time")
    // a job's rows of a fleet timeline, job_id dropped
    def slice(rows: Array[org.apache.spark.sql.Row], jid: String) =
      rows.filter(_.getString(0) == jid).map(_.toSeq.tail).toSeq
    val jobs = genJobs(3)
    (1 to 4).foreach { i =>
      val perJob = jobs.pureApply(Gen.Parameters.default, Seed(i.toLong))
      val fleet = views(perJob.flatten)
      try {
        val summaries = Reports.summaryPerJob(fleet).collect()
        val timelines = Reports.timelinePerJob(fleet).collect()
        val sweeps = Reports.timelinePerJobSweepLine(fleet).collect()
        assert(summaries.map(_.getAs[String]("job_id")).toSeq ===
          perJob.indices.map(j => jobId(j + 1)))
        perJob.zipWithIndex.foreach { case (evs, j) =>
          val jid = jobId(j + 1)
          val one = views(evs)
          try {
            val single = Reports.summary(one).collect()
            assert(single.length === 1)
            assert(single.head.getAs[Long]("num_maps") > 0L, "non-trivial")
            assert(shared.map(single.head.getAs[Any](_)) ===
              shared.map(summaries(j).getAs[Any](_)), s"summary of $jid")
            assert(slice(timelines, jid) ===
              Reports.timeline(one).collect().map(_.toSeq).toSeq, s"timeline of $jid")
            assert(slice(sweeps, jid) ===
              Reports.timelineSweepLine(one).collect().map(_.toSeq).toSeq,
              s"sweep-line timeline of $jid")
          } finally one.release()
        }
      } finally fleet.release()
    }
  }

  test("generated jobs: interval classification equals the T3 interpreter") {
    val phases = scala.collection.mutable.Set.empty[String]
    forAll(genJob(1), samples = 12) { evs =>
      val v = views(evs)
      try {
        val got = Reports.intervals(v).collect()
          .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
        val want = interpretIntervals(evs)
        assert(got.sorted === want.sorted)
        phases ++= want.map(_._1)
      } finally v.release()
    }
    assert(phases === Set("maps", "shuffle", "merge", "reduce", "waste"),
      "every phase generated")
  }

  test("generated logs: Spark views agree with the reference interpreter") {
    forAll(genLog) { evs =>
      val log = evs.map(_.render + " .\n").mkString
      val v = new JobHistoryViews(spark, JobHistoryReader.readString(spark, log))
      val (refTasks, refAttempts, refFinals) = interpret(evs)

      val gotTasks = v.mapTasks.collect()
        .map(r => r.getAs[String]("task_id") ->
          (r.getAs[Map[String, String]]("attrs"), r.getAs[Long]("num_attempts")))
        .toMap
      assert(gotTasks.keySet === refTasks.keySet)
      refTasks.foreach { case (id, attrs) =>
        assert(gotTasks(id)._1 === attrs, s"attrs of $id")
        assert(gotTasks(id)._2 === refAttempts.getOrElse(id, Set.empty).size.toLong,
          s"num_attempts of $id")
      }

      val gotFinals = v.finalAttempts.collect()
        .map(r => r.getString(0) -> r.getString(1)).toMap
      assert(gotFinals === refFinals)

      // partition property: finals ∪ wasted == all finished attempts
      val finished = evs.collect {
        case e if e.event == "MapAttempt" &&
          !e.attrs.toMap.contains("START_TIME") &&
          e.attrs.toMap.contains("FINISH_TIME") =>
          e.attrs.toMap.apply("TASK_ATTEMPT_ID")
      }.toSet
      val wasted = finished -- refFinals.values.toSet
      assert(refFinals.values.toSet.subsetOf(finished))
      assert((refFinals.values.toSet ++ wasted) === finished)
    }
  }

  test("generated logs: streaming interval deltas sum to the batch timeline") {
    val spark2 = spark
    import spark2.implicits._
    implicit val ctx = spark.sqlContext
    var chunkSize = 2
    forAll(genLog, samples = 4) { evs =>
      chunkSize += 3 // vary the micro-batch split across samples
      val records = evs.map(_.render).zipWithIndex
        .map { case (r, i) => (i.toLong, r) }
      val input = org.apache.spark.sql.execution.streaming.runtime
        .MemoryStream[(Long, String)]
      val events = Streaming.parseRecords(
        input.toDF().withColumnRenamed("_1", "line_no")
          .withColumnRenamed("_2", "record"))
      val name = s"tlprop$chunkSize"
      val q = Streaming.timelineStream(events).writeStream
        .format("memory").queryName(name).outputMode("complete").start()
      try {
        records.grouped(chunkSize).foreach { c =>
          input.addData(c); q.processAllAvailable()
        }
        val got = spark.table(name).collect()
          .map(r => (r.getAs[Long]("time"), r.getAs[String]("phase")) ->
            r.getAs[Long]("count"))
          .filter(_._2 > 0).toMap
        val v = new JobHistoryViews(spark,
          JobHistoryReader.readString(spark, evs.map(_.render + " .\n").mkString))
        val want = Reports.timeline(v).collect()
          .flatMap { r =>
            Seq("maps", "shuffle", "merge", "reduce", "waste").flatMap { p =>
              val c = r.getAs[Long](p)
              if (c > 0) Some((r.getAs[Long]("time"), p) -> c) else None
            }
          }.toMap
        assert(got === want)
      } finally q.stop()
    }
  }

  test("generated logs: timeline column sums equal interval slot totals") {
    forAll(genLog) { evs =>
      val log = evs.map(_.render + " .\n").mkString
      val v = new JobHistoryViews(spark, JobHistoryReader.readString(spark, log))
      val slotSums = Reports.intervals(v).collect()
        .groupBy(_.getString(0))
        .view.mapValues(_.map(r => r.getLong(2) - r.getLong(1) + 1).sum).toMap
      val tl = Reports.timeline(v).collect()
      Seq("maps", "shuffle", "merge", "reduce", "waste").zipWithIndex.foreach {
        case (p, i) =>
          assert(tl.map(_.getLong(i + 1)).sum === slotSums.getOrElse(p, 0L), p)
      }
    }
  }
}
