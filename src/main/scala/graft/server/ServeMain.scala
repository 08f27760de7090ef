package graft.server

import graft.Sessions
import graft.engine.GraftDb

/** Standalone server entrypoint: `runMain graft.server.ServeMain [port]
  * [dbDir]` — dbDir omitted = in-memory (the reference's default mode).
  * The session comes from [[Sessions.driver]] like every main's. */
object ServeMain {
  def main(args: Array[String]): Unit = {
    val port = args.headOption.map(_.toInt).getOrElse(4001)
    val spark = Sessions.driver()
    val db = args.lift(1) match {
      case Some(dir) => GraftDb.open(spark, dir).fold(e => sys.error(e), identity)
      case None => GraftDb.openInMemory(spark)
    }
    val api = new HttpApi(db, port,
      cluster = Some(new graft.engine.SparkClusterControl(spark)))
    api.start()
    println(s"graft-serve listening on :${api.listeningPort}")
    Thread.currentThread().join()
  }
}
