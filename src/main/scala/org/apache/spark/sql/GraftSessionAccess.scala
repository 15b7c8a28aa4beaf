package org.apache.spark.sql

/** Minimal accessor for `ExecutionListenerManager.listListeners`, which
  * is `private[sql]` at the Scala level (public in bytecode).
  * [[graft.sources.GraftSession.scoped]] registers the caller's
  * query-execution listeners on its child session, so queries run there
  * stay visible to whoever observes the caller's session. Kept to this
  * one method; no other Spark internals are touched.
  */
object GraftSessionAccess {
  def queryListeners(s: SparkSession): Seq[util.QueryExecutionListener] =
    s.listenerManager.listListeners().toSeq
}
