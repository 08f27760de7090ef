package graft

import org.apache.spark.sql.SparkSession

/** The one place a main gets its SparkSession from.
  *
  * The master is the only parameter; everything else is derived from it
  * or fixed:
  *  - `spark.sql.shuffle.partitions` = the cores the master runs (N for
  *    `local[N]`, w×c for `local-cluster[w,c,m]`);
  *  - UTC session time zone (the oracle compares timestamps as UTC);
  *  - a 5000-entry generated-class cache: the 100-entry default thrashes
  *    at suite size, evicting warmed classes before their timed run
  *    (static conf, so it must be set on the first session in the JVM);
  *  - UI off, WARN log level.
  *
  * `local-cluster[...]` masters launch executors as SEPARATE JVMs from
  * SPARK_HOME, which know nothing about this application's classes: any
  * query using a graft Catalyst expression, typed Aggregator or closure
  * then dies on executor-side deserialization while pure-SQL queries —
  * whose generated code ships as Janino source — keep working, a silently
  * PARTIAL failure mode. So a local-cluster master also ships the app
  * classpath to executors, with SPARK_GRAFT_EXEC_MEM executor memory.
  * Both come from the one master string, so the wiring can never target a
  * different master than the one the session runs. */
private[graft] object Sessions {

  /** SPARK_GRAFT_MASTER, else `local[SPARK_GRAFT_CPUS or all cores]`. */
  def defaultMaster: String = sys.env.getOrElse("SPARK_GRAFT_MASTER",
    s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors.toString)}]")

  private val Local = """local\[(\d+)\]""".r
  private val LocalCluster = """local-cluster\[\s*(\d+)\s*,\s*(\d+)\s*,.*\]""".r

  /** Task slots `master` provides (the driver's cores for other forms). */
  def cores(master: String): Int = master match {
    case Local(n) => n.toInt
    case LocalCluster(w, c) => w.toInt * c.toInt
    case _ => Runtime.getRuntime.availableProcessors
  }

  /** Session settings for `master`; starts nothing. */
  def settings(master: String): Seq[(String, String)] = Seq(
    "spark.sql.shuffle.partitions" -> cores(master).toString,
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.codegen.cache.maxEntries" -> "5000",
    "spark.ui.enabled" -> "false") ++
    (if (master.startsWith("local-cluster")) Seq(
      "spark.executor.extraClassPath" -> sys.props("java.class.path"),
      "spark.executor.memory" ->
        sys.env.getOrElse("SPARK_GRAFT_EXEC_MEM", "6g"))
    else Nil)

  def driver(master: String = defaultMaster): SparkSession = {
    val spark = settings(master)
      .foldLeft(SparkSession.builder().master(master)) {
        case (b, (k, v)) => b.config(k, v)
      }.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
