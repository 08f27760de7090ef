package graft
import java.nio.file.{Files, Paths}

import graft.command.Json.escapeQ

/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the DuckDB oracle compare
  * (tools/check_oracle.py). Ends with one stdout line
  * `{"verify":"summary","ok":N,"failed":[…],"missing":[…]}`, where
  * `missing` lists the queries with no output dir.
  *
  * SPARK_GRAFT_MASTER='local-cluster[2,16,16384]' (with SPARK_HOME set so
  * the workers can launch executors) runs it on separate executor JVMs,
  * driving the serialization/broadcast paths local[N] never exercises. */
object Verify {
  def main(args: Array[String]): Unit = {
    // args: <sfDir> <outDir> [comma-separated query subset — dev only;
    // the driver always passes exactly two args = full suite]
    val (sfDir, outDir) = (args(0), args(1))
    val subset: Option[Set[String]] =
      if (args.length > 2) Some(args(2).split(",").toSet) else None
    val spark = Sessions.driver()
    new java.io.File(outDir).mkdirs()
    val ran = SparkEntry.queries.toSeq
      .filter { case (name, _) => subset.forall(_.contains(name)) }
    val failed = ran.flatMap { case (name, fn) =>
      try {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        None
      } catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        Some(name)
      }
    }
    // every string is escaped, control chars included — a tab or CR in
    // hand-written SQL would otherwise make the oracle checker's json.load
    // fail and silently zero the correctness check
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${escapeQ(k)}: ${escapeQ(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
    val missing = SparkEntry.queries.keys
      .filterNot(n => Files.isDirectory(Paths.get(outDir, n)))
    println(summaryLine(ran.size - failed.size, failed, missing))
  }

  def summaryLine(ok: Int, failed: Iterable[String],
                  missing: Iterable[String]): String = {
    def arr(names: Iterable[String]) =
      names.toSeq.sorted.map(escapeQ).mkString("[", ",", "]")
    s"""{"verify":"summary","ok":$ok,"failed":${arr(failed)},"missing":${arr(missing)}}"""
  }
}
