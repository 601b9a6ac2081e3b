package graft.jobhistory.perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types.StructType

import graft.SparkEntry
import graft.queries.{DedupOps, MultimodalOps, Relational}

/** `shelves`: one shelf lifecycle from an empty artifact root. The JVM
  * runs in the run's fresh work directory, so every relative `target/`
  * artifact starts empty; the tables are generated per run.
  *
  * Maintain: for each gate, the maintenance steps the registry bench's
  * stagers run (build / append / compact / forget / age-off), each
  * under its verb's span, then the gate's first (cold) serve.
  * Serve: rounds over every gate until the run's time is up, each
  * serve collecting the gate's rows. Every serve must return the cold
  * serve's rows; the cold rows and `SparkEntry.oracleSql` are written
  * (untimed) for the DuckDB compare.
  */
object Shelves {

  type Step = (String, (SparkSession, String) => Unit)

  /** Gate → maintenance steps (verb, call), in the stagers' order. */
  val Gates: Seq[(String, Seq[Step])] = Seq(
    "t35_index_append" -> Seq(
      "build" -> ((s, d) => { DedupOps.buildRwBandIndex(s, d); () }),
      "append" -> ((s, d) => { DedupOps.appendBandIndex(s, d); () })),
    "t36_index_compact" -> Seq(
      "compact" -> ((s, d) => { DedupOps.indexCompactServe(s, d); () })),
    "t37_tombstone_reelect" -> Seq(
      "build" -> ((s, d) => { DedupOps.buildMembersIndex(s, d); () }),
      "forget" -> ((s, d) => DedupOps.tombstoneTakedown(s, d))),
    "t38_index_ageoff" -> Seq(
      "ageoff" -> ((s, d) => { DedupOps.indexAgeOff(s, d); () })),
    "q37_partials_compact" -> Seq(
      "append" -> ((s, d) => { Relational.q37Append(s, d); () }),
      "compact" -> ((s, d) => { Relational.q37Compact(s, d); () })),
    "m9_media_index_append" -> Seq(
      "build" -> ((s, d) => { MultimodalOps.buildRwMediaIndex(s, d); () }),
      "append" -> ((s, d) => { MultimodalOps.appendMediaIndex(s, d); () })))

  def run(ctx: Ctx): Seq[(String, String)] = {
    val spark = ctx.spark
    val tr = ctx.tracer
    val dir = ctx.work.resolve("tables").toString
    val registry = SparkEntry.queries
    val tableBytes = tree(ctx.work.resolve("tables"))._2

    /** One serve: the gate's result rows, as a user receives them. */
    def serve(gate: String): Array[Row] = registry(gate)(spark, dir).collect()
    def digest(rows: Array[Row]): String = rows.map(_.toString).sorted.mkString("\n")

    // ---- maintain: empty root -> every gate built, maintained, served once
    val cold = mutable.LinkedHashMap.empty[String, (Array[Row], StructType)]
    val t0 = ctx.now()
    Gates.foreach { case (gate, steps) =>
      steps.foreach { case (verb, call) =>
        tr.span(ctx.sc, s"shelf.$verb") { _ =>
          ctx.timed(s"maintain:$gate:$verb") { call(spark, dir); Nil }
        }
      }
      tr.span(ctx.sc, "shelf.serve") { _ =>
        ctx.timed(s"cold:$gate") {
          val df = registry(gate)(spark, dir)
          cold(gate) = (df.collect(), df.schema)
          Nil
        }
      }
    }
    val maintainS = ctx.now() - t0
    val (files, bytes) = tree(ctx.work.resolve("target"))
    val want = cold.map { case (g, (rows, _)) => g -> digest(rows) }

    // ---- serve rounds until the run's time (maintenance included) is
    // up; at least three, so every gate's median warm serve is taken
    // over three samples (the first warm round is still the slowest)
    val deadline = t0 + ctx.seconds
    var rounds = 0
    while (ctx.now() < deadline || rounds < 3) {
      Gates.foreach { case (gate, _) =>
        var rows: Array[Row] = null
        val op = tr.span(ctx.sc, "shelf.serve") { _ =>
          ctx.timed(s"serve:$gate") { rows = serve(gate); Nil }
        }
        // every serve must return the cold serve's rows (checked below
        // against the oracle); compared outside the timed call
        if (op.ok && digest(rows) != want.getOrElse(gate, ""))
          ctx.ops(ctx.ops.size - 1) =
            op.copy(ok = false, err = "serve rows differ from the cold serve")
      }
      rounds += 1
    }

    // ---- cold results + oracle SQL for the DuckDB compare (untimed)
    val oracle = SparkEntry.oracleSql
    cold.foreach { case (gate, (rows, schema)) =>
      spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
        .coalesce(1).write.mode("overwrite").parquet(ctx.out(gate).toString)
    }
    Files.writeString(ctx.out("oracle_sql.json"), Json.obj(Gates.map(_._1)
      .filter(oracle.contains).map(g => g -> Json.str(oracle(g)))))
    if (tr.enabled) tr.span(ctx.sc, "shelf.storage") { s =>
      s.extras("files") = files.toDouble
      s.extras("disk_mb") = bytes / 1e6
      s.extras("write_amp") = bytes.toDouble / tableBytes
    }
    Seq("maintain_s" -> Json.num(maintainS), "shelf_files" -> files.toString,
      "shelf_disk_mb" -> Json.num(bytes / 1e6),
      "gates" -> Json.arr(cold.keys.toSeq.map(Json.str)))
  }

  /** (regular files, bytes) under a directory; (0, 0) if absent. */
  private def tree(root: Path): (Long, Long) =
    if (!Files.exists(root)) (0L, 0L)
    else {
      val fs = Files.walk(root).iterator.asScala.filter(Files.isRegularFile(_)).toSeq
      (fs.size.toLong, fs.map(Files.size(_)).sum)
    }
}
