package graft

import org.apache.spark.sql.SparkSession

/** The local session every registry main runs on: `local[N]` with N
  * shuffle partitions, where N is `SPARK_GRAFT_CPUS` or the caller's
  * default; UTC; parquet TIMESTAMP(NANOS) read as BIGINT nanos
  * (TIMESTAMP(MICROS) regenerations normalize in [[Tables]]); the graft
  * SQL extensions; no UI; WARN logging. */
object Session {
  def local(defaultCpus: Int): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", defaultCpus.toString)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
