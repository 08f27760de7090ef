package graft

import graft.engine.GraftDb
import graft.command.Value
import java.nio.file.Files
import scala.jdk.CollectionConverters._

/** Streaming-ingest fault soak: prove the
  * [[graft.streaming.JournalIngest]] exactly-once contract under REAL
  * process death, not simulated re-delivery.
  *
  * A CHILD engine JVM streams a fixed file source (one file per
  * micro-batch) into a disk GraftDb through the journal bridge. The
  * parent SIGKILLs it mid-stream — after the Nth committed batch, so the
  * kill lands between a Structured Streaming checkpoint commit and the
  * next batch, or mid-batch between journal append and sink bookkeeping
  * — then relaunches it from the SAME checkpoint + database. After a
  * configurable number of kills, a final run drains the source, and the
  * parent opens the database and asserts the exactly-once end state:
  * every source row present EXACTLY once (count, distinct count, sum).
  *
  * Exit 1 on any mismatch — committable as a gate like ScaleSmoke.
  *
  * Usage: runMain graft.StreamSoak [kills]   (default 3)
  */
object StreamSoak {

  private val Files_ = 10
  private val RowsPerFile = 20

  def main(args: Array[String]): Unit = {
    val kills = if (args.nonEmpty) args(0).toInt else 3
    val dir = Files.createTempDirectory("graft-streamsoak-")
    val srcDir = dir.resolve("src"); Files.createDirectories(srcDir)
    val dbPath = dir.resolve("db")
    val ckpt = dir.resolve("ckpt")
    // deterministic source: Files_ csv files × RowsPerFile unique keys
    (0 until Files_).foreach { f =>
      val rows = (0 until RowsPerFile).map { r =>
        val k = f * RowsPerFile + r
        s"$k,tag$f"
      }
      Files.write(srcDir.resolve(f"part-$f%03d.csv"), rows.asJava)
    }
    val total = Files_ * RowsPerFile
    val expectedSum = total.toLong * (total - 1) / 2

    def runChild(killAtWm: Option[Long]): (Int, Long) = {
      val proc = ChildJvm.start("graft.StreamSoakChild",
        dbPath.toString, ckpt.toString, srcDir.toString)
      val reader = new java.io.BufferedReader(
        new java.io.InputStreamReader(proc.getInputStream))
      var wm = -1L
      var done = false
      var killed = false
      var line = reader.readLine()
      while (line != null && !killed && !done) {
        if (line.startsWith("SOAK-WM ")) {
          wm = line.substring(8).toLong
          killAtWm.foreach { k =>
            if (wm >= k) { proc.destroyForcibly(); killed = true }
          }
        } else if (line == "SOAK-DONE") done = true
        if (!killed && !done) line = reader.readLine()
      }
      if (!proc.waitFor(300, java.util.concurrent.TimeUnit.SECONDS)) {
        proc.destroyForcibly()
        proc.waitFor(30, java.util.concurrent.TimeUnit.SECONDS)
      }
      (proc.exitValue(), wm)
    }

    // kill runs: each restart resumes from the surviving checkpoint; the
    // kill thresholds advance so every run makes progress before dying
    (0 until kills).foreach { i =>
      val (rc, wm) = runChild(Some(i * 2 + 1L))
      println(s"[stream-soak] kill run ${i + 1}/$kills: " +
        s"killed at watermark $wm (rc=$rc)")
    }
    // final run: drain the source cleanly
    val (rc, wm) = runChild(None)
    println(s"[stream-soak] final run: rc=$rc watermark=$wm")

    // verify the exactly-once end state in THIS JVM
    val spark = Sessions.driver()
    val db = GraftDb.open(spark, dbPath.toString, 100000L)
      .fold(e => sys.error(s"verify open failed: $e"), identity)
    def one(sql: String): Long =
      db.queryStringStmt(sql).fold(e => sys.error(s"[$sql] $e"), identity)
        .head.values.head.head.asInstanceOf[Value.Integer].v
    val count = one("SELECT COUNT(*) FROM ev")
    val distinct = one("SELECT COUNT(DISTINCT k) FROM ev")
    val sum = one("SELECT SUM(k) FROM ev")
    db.close()
    spark.stop()
    val ok = count == total && distinct == total && sum == expectedSum
    println(s"""{"streamSoak":${if (ok) "\"pass\"" else "\"FAIL\""},""" +
      s""""kills":$kills,"rows":$count,"distinct":$distinct,"sum":$sum,""" +
      s""""expectedRows":$total,"expectedSum":$expectedSum}""")
    try ChildJvm.deleteTree(dir) catch { case _: Exception => }
    if (!ok) sys.exit(1)
  }
}

/** The soak target: streams the csv source into the engine through the
  * journal bridge, reporting the durable watermark until the parent
  * kills it (or the source drains). */
object StreamSoakChild {
  def main(args: Array[String]): Unit = {
    val dbPath = args(0)
    val ckpt = args(1)
    val srcDir = args(2)
    val spark = Sessions.driver("local[2]")
    val db = GraftDb.open(spark, dbPath, 100000L)
      .fold(e => sys.error(s"child open failed: $e"), identity)
    db.executeStringStmt(
      "CREATE TABLE IF NOT EXISTS ev (k INTEGER, tag TEXT)")
      .fold(e => sys.error(e), identity)
    val src = spark.readStream
      .schema("k LONG, tag STRING")
      .option("maxFilesPerTrigger", "1") // one file = one micro-batch
      .csv(srcDir)
    val q = graft.streaming.JournalIngest.start(db, src, "ev", ckpt)
    val mon = new Thread(() => {
      var last = -2L
      while (true) {
        val wm = db.streamBatchWatermark
        if (wm != last) { println(s"SOAK-WM $wm"); Console.out.flush(); last = wm }
        Thread.sleep(20)
      }
    })
    mon.setDaemon(true)
    mon.start()
    q.processAllAvailable()
    q.stop()
    db.close()
    println("SOAK-DONE")
    Console.out.flush()
    sys.exit(0)
  }
}
