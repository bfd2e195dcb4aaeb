package org.apache.spark.sql

/** Reaches `classic.SparkSession.cloneSession()`, which Spark keeps
  * `private[sql]`. The clone copies the caller's session state (runtime
  * confs, temp views, functions, query-execution listeners) and shares its
  * SparkContext and cache manager; conf changes on either side stay on that
  * side. `ExecutionModeSpec` pins this, so an upgrade that changes the
  * internal API fails there. */
object SessionBridge {
  def cloneSession(session: classic.SparkSession): classic.SparkSession =
    session.cloneSession()
}
