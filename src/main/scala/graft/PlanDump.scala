package graft

/** Dump `.explain("formatted")` for named registry queries to files —
  * the optimization rounds' plan-evidence tool (plans/rNN/<query>_
  * {before,after}.txt). Runs each query's BUILDER function only (no
  * action beyond what the builder itself stages), then writes the
  * formatted plan of the returned DataFrame.
  *
  * Usage: SPARK_GRAFT_SF_DIR=... SPARK_GRAFT_CPUS=32 \
  *   sbt "runMain graft.PlanDump <outDir> <suffix> q1,q2,..."
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val outDir = args(0)
    val suffix = args(1)
    val names = args(2).split(",").map(_.trim).filter(_.nonEmpty)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Session.local(defaultCpus = 32)
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    names.foreach { n =>
      val df = SparkEntry.queries(n)(spark, sfDir)
      val plan = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      java.nio.file.Files.write(
        java.nio.file.Paths.get(outDir, s"${n}_$suffix.txt"),
        plan.getBytes("UTF-8"))
      println(s"wrote $outDir/${n}_$suffix.txt (${plan.length} chars)")
    }
    spark.stop()
  }
}
