package org.apache.spark.sql.graft

import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Parse-then-rewrite seam for the engine's OLTP SQL path.
  *
  * Why this package: the engine gives its read path SQLite expression
  * semantics (reference behavior: every user statement executes inside
  * SQLite itself, `db/src/db.rs:278`) by rewriting the PARSED logical
  * plan before analysis — `session.sql` parses and executes in one step,
  * with no public hook between the two. The parser and `Dataset.ofRows`
  * are `private[sql]`, hence this one deliberate shim next to
  * [[SessionFunctions]]. Everything else (the rewrite itself, the custom
  * expressions) is ordinary Catalyst extension material. The same seam
  * holds [[awaitListeners]], which `graft.Dev` needs to attribute the
  * listener-reported stages to the row that ran them.
  */
object GraftSql {

  private def cs(session: SparkSession) =
    session.asInstanceOf[org.apache.spark.sql.classic.SparkSession]

  /** Parse SQL text to an UNANALYZED logical plan (what `session.sql`
    * does first, without running it). */
  def parsePlan(session: SparkSession, sqlText: String): LogicalPlan =
    cs(session).sessionState.sqlParser.parsePlan(sqlText)

  /** Execute a (possibly rewritten) logical plan — the second half of
    * `session.sql`. */
  def ofRows(session: SparkSession, plan: LogicalPlan): DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(cs(session), plan)

  /** Block until the (asynchronous, `private[spark]`) listener bus has
    * delivered every event posted so far, so a QueryExecutionListener has
    * seen every action that already returned. */
  def awaitListeners(session: SparkSession): Unit =
    session.sparkContext.listenerBus.waitUntilEmpty()
}
