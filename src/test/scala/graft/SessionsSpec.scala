package graft

import org.scalatest.funsuite.AnyFunSuite

/** The master → settings rules of [[Sessions]]; starts no session. */
class SessionsSpec extends AnyFunSuite {
  private def conf(master: String) = Sessions.settings(master).toMap

  test("shuffle partitions follow the master's cores") {
    assert(conf("local[4]")("spark.sql.shuffle.partitions") == "4")
    assert(conf("local-cluster[2,16,16384]")("spark.sql.shuffle.partitions") == "32")
    assert(Sessions.cores("local-cluster[2, 16, 16384]") == 32)
  }

  test("fixed settings are the same for every master") {
    for (m <- Seq("local[4]", "local-cluster[2,16,16384]")) {
      val c = conf(m)
      assert(c("spark.sql.session.timeZone") == "UTC")
      assert(c("spark.sql.codegen.cache.maxEntries") == "5000")
      assert(c("spark.ui.enabled") == "false")
    }
  }

  test("executor classpath is wired only for local-cluster") {
    assert(!conf("local[4]").contains("spark.executor.extraClassPath"))
    assert(!conf("local[4]").contains("spark.executor.memory"))
    val lc = conf("local-cluster[2,16,16384]")
    assert(lc("spark.executor.extraClassPath") == sys.props("java.class.path"))
    assert(lc.contains("spark.executor.memory"))
  }
}
