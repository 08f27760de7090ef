package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentLinkedQueue

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{FormattedMode, QueryExecution}
import org.apache.spark.sql.graft.GraftSql
import org.apache.spark.sql.util.QueryExecutionListener

/** Dev-only tooling, one entry point:
  *
  *  - `time <name>...` — run each row once at SPARK_GRAFT_WARM_DIR
  *    (default sf0.01, the Bench warmup), then three times at
  *    SPARK_GRAFT_SF_DIR, printing the seconds of each pass and of every
  *    stage it materialized; first-run JIT/codegen cost shows as
  *    run1 ≫ run3.
  *  - `plan <outDir> <tag> [name,...]` — write each row's (default: all)
  *    `.explain("formatted")` to `<outDir>/<name>_<tag>.txt`, and the plan
  *    of every stage it materialized to `<name>_<tag>_stage-NN.txt`: a
  *    checkpoint cuts the lineage, so pipeline-internal plans never show
  *    in the final one.
  *  - `codegen <outFile> <name>` — write a row's whole-stage generated
  *    code, with AQE off (an AdaptiveSparkPlan cannot be traversed before
  *    it runs; the per-stage code is the same either way).
  *
  * Usage: sbt "runMain graft.Dev time x108_keep_best"
  * Env: SPARK_GRAFT_SF_DIR (default sf0.1), SPARK_GRAFT_WARM_DIR and the
  * session's (see [[Sessions]]).
  */
object Dev {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Sessions.driver()
    spark.listenerManager.register(StageLog)
    try args.toList match {
      case "time" :: names => time(spark, sfDir, names)
      case "plan" :: outDir :: tag :: names =>
        plan(spark, sfDir, outDir, tag, names)
      case "codegen" :: outFile :: name :: Nil =>
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        eachRow(spark, Seq(name)) { (_, fn) =>
          write(outFile, org.apache.spark.sql.execution.debug.codegenString(
            fn(spark, sfDir).queryExecution.executedPlan))
          println(s"[codegen] $name -> $outFile")
        }
      case _ => System.err.println("usage: graft.Dev time <name>... | " +
        "plan <outDir> <tag> [name,...] | codegen <outFile> <name>")
    } finally spark.stop()
  }

  private def time(spark: SparkSession, sfDir: String,
                   names: Seq[String]): Unit = {
    val warmDir = sys.env.getOrElse("SPARK_GRAFT_WARM_DIR", "/root/testdata/sf0.01")
    eachRow(spark, names) { (name, fn) =>
      Seq("warm" -> warmDir, "run1" -> sfDir, "run2" -> sfDir, "run3" -> sfDir)
        .foreach { case (pass, dir) =>
          val t0 = System.nanoTime()
          fn(spark, dir).write.format("noop").mode("overwrite").save()
          println(f"[time] $name $pass ${(System.nanoTime() - t0) / 1e9}%8.3f s")
          StageLog.take(spark).zipWithIndex.foreach { case ((_, ns), i) =>
            println(f"[time] $name $pass stage ${i + 1}%02d ${ns / 1e9}%8.3f s")
          }
          spark.catalog.clearCache()
        }
    }
  }

  private def plan(spark: SparkSession, sfDir: String, outDir: String,
                   tag: String, names: Seq[String]): Unit = {
    Files.createDirectories(Paths.get(outDir))
    val rows = if (names.isEmpty) SparkEntry.queries.keys.toSeq.sorted else names
    eachRow(spark, rows) { (name, fn) =>
      val df = fn(spark, sfDir)
      val stages = StageLog.take(spark)
      stages.zipWithIndex.foreach { case ((qe, _), i) =>
        write(f"$outDir/${name}_${tag}_stage-${i + 1}%02d.txt",
          qe.explainString(FormattedMode))
      }
      write(s"$outDir/${name}_$tag.txt",
        df.queryExecution.explainString(FormattedMode))
      println(s"[plan] $name -> $outDir/${name}_$tag.txt + ${stages.size} stage plans")
    }
  }

  /** Look up each (comma-separated) row name and run `f` on it; an
    * unknown or failing row is reported and the rest still run. */
  private def eachRow(spark: SparkSession, names: Seq[String])(
      f: (String, (SparkSession, String) => DataFrame) => Unit): Unit =
    names.flatMap(_.split(",")).filter(_.nonEmpty).foreach { name =>
      SparkEntry.queries.get(name) match {
        case None => println(s"[dev] $name: no such query")
        case Some(fn) =>
          StageLog.take(spark)
          try f(name, fn)
          catch { case e: Throwable => println(s"[dev] $name FAILED: ${e.getMessage}") }
          spark.catalog.clearCache()
      }
    }

  private def write(path: String, txt: String): Unit =
    Files.write(Paths.get(path), txt.getBytes(StandardCharsets.UTF_8))

  /** Stages materialized since the last [[take]], with their durations.
    * `Dataset.localCheckpoint`/`checkpoint` run as named actions, so each
    * `Stages.materialize` (in the `local`/`reliable` modes) reaches a
    * QueryExecutionListener with its QueryExecution. */
  private object StageLog extends QueryExecutionListener {
    private val seen = new ConcurrentLinkedQueue[(QueryExecution, Long)]()

    override def onSuccess(funcName: String, qe: QueryExecution,
                           durationNs: Long): Unit =
      if (funcName == "localCheckpoint" || funcName == "checkpoint")
        seen.add(qe -> durationNs)

    override def onFailure(funcName: String, qe: QueryExecution,
                           exception: Exception): Unit = ()

    def take(spark: SparkSession): Seq[(QueryExecution, Long)] = {
      GraftSql.awaitListeners(spark)
      Iterator.continually(seen.poll()).takeWhile(_ != null).toSeq
    }
  }
}
