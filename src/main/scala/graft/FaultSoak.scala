package graft

import java.security.MessageDigest

/** Fault-injection soak for `reliable` stage materialization: run a
  * corpus-scale shared-stage query on a REAL multi-JVM master
  * (`local-cluster[2,16,...]`), kill one executor JVM mid-flight with
  * SIGKILL, and assert the query completes with a result byte-identical
  * to the clean run. `reliable` checkpoints stage frames to the Spark
  * checkpoint dir precisely so an executor loss cannot lose the
  * materialized stage; this soak severs an executor to prove it.
  *
  * Usage: runMain graft.FaultSoak [query1,query2] (default x54,x75)
  *   env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1)
  * Emits one JSON line per attempt and exits 1 unless every query
  * finished correct WITH a mid-flight kill landed.
  */
object FaultSoak {
  def main(args: Array[String]): Unit = {
    sys.props("graft.stageMaterialize") = "reliable"
    val queries = (if (args.nonEmpty) args(0).split(",").toSeq
                   else Seq("x54_ngram_jaccard", "x75_components"))
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Sessions.driver(sys.env.getOrElse("SPARK_GRAFT_MASTER",
      "local-cluster[2,16,16384]"))
    Tables.ensure(spark, sfDir)

    var allOk = true
    queries.foreach { q =>
      val fn = SparkEntry.queries.getOrElse(q,
        sys.error(s"unknown query: $q"))
      // clean reference run (also warms codegen; its shared stage is then
      // dropped so the fault run rebuilds mid-kill)
      val clean = digest(fn(spark, sfDir).collect()
        .map(_.toString).sorted)
      var landed = false
      var matched = false
      var attempt = 0
      while (!(landed && matched) && attempt < 4) {
        attempt += 1
        graft.ext.Stages.clearShared()
        @volatile var result: Option[String] = None
        @volatile var err: Option[Throwable] = None
        val t = new Thread(() =>
          try result = Some(digest(fn(spark, sfDir).collect()
            .map(_.toString).sorted))
          catch { case e: Throwable => err = Some(e) })
        t.start()
        // wait for real work, then sever one executor JVM
        val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
        while (spark.sparkContext.statusTracker.getActiveStageIds.isEmpty &&
               t.isAlive && System.nanoTime() < deadline) Thread.sleep(20)
        Thread.sleep(150L * attempt) // land inside progressively later work
        val active =
          spark.sparkContext.statusTracker.getActiveStageIds.nonEmpty
        if (active && t.isAlive) {
          new ProcessBuilder("bash", "-c",
            "pkill -9 -o -f CoarseGrainedExecutorBackend").start().waitFor()
          landed = true
        }
        t.join(300000)
        matched = result.contains(clean)
        println(s"""{"faultSoak":"$q","attempt":$attempt,""" +
          s""""killLanded":$landed,"completed":${result.isDefined},""" +
          s""""matched":$matched""" +
          err.map(e => s""","error":"${e.getClass.getSimpleName}: " +
            s"${String.valueOf(e.getMessage).take(200).replace("\"", "'")}"""")
            .getOrElse("") + "}")
        if (err.isDefined) err.get.printStackTrace()
      }
      if (!(landed && matched)) allOk = false
    }
    println(s"""{"faultSoak":"done","ok":$allOk}""")
    spark.stop()
    if (!allOk) sys.exit(1)
  }

  private def digest(rows: Array[String]): String = {
    val md = MessageDigest.getInstance("MD5")
    rows.foreach(r => md.update(r.getBytes("UTF-8")))
    md.digest().map("%02x".format(_)).mkString + s"|${rows.length}"
  }
}
