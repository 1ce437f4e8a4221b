package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Bridge into the `private[sql]` Column ⇄ Expression converters —
  * the one sanctioned way for a library to lift a custom Catalyst
  * `Expression` (e.g. [[graft.expressions.DotProduct]]) into the
  * public Column API in Spark 4's classic runtime. Lives in the
  * `org.apache.spark.sql` package solely for access; no Spark
  * internals are modified. */
object GraftExpressionBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** Free the storage blocks behind a `localCheckpoint()`ed Dataset.
    * `Dataset.unpersist` only clears CacheManager entries, so a local
    * checkpoint's blocks otherwise live until the backing RDD is
    * GC'd — and the RDD stays strongly referenced for as long as ANY
    * downstream plan holds its lineage, which for an iterative
    * operator's loop invariant can be the whole session. Walks the
    * analyzed plan for `LogicalRDD` leaves and unpersists their RDDs
    * (non-blocking). After this call the checkpointed data is GONE:
    * re-executing a plan that reads it fails rather than recomputes,
    * so callers must only release once every consumer either finished
    * or holds its results in its own storage. */
  def releaseLocalCheckpoint(ds: Dataset[_]): Unit =
    ds.queryExecution.analyzed.foreach {
      case l: org.apache.spark.sql.execution.LogicalRDD =>
        l.rdd.unpersist(blocking = false)
      case _ => ()
    }

  /** The catalog-resolved default location of a managed table — what
    * `saveAsTable` will use. Resolves the current database and name
    * normalization through the session catalog itself, rather than
    * guessing `<warehouse>/<lowercased-name>` (wrong outside the
    * default database and under locale-sensitive lowercasing). */
  def defaultManagedTablePath(spark: SparkSession, table: String): java.net.URI =
    spark.sessionState.catalog.defaultTablePath(
      spark.sessionState.sqlParser.parseTableIdentifier(table))

  /** Block until the async listener bus has delivered every queued
    * event (`QueryExecutionListener` fires on this bus), up to
    * `timeoutMillis`. Returns false on timeout instead of throwing —
    * callers that attribute listener-delivered metrics to a unit of
    * work (e.g. [[graft.Census]]) use this to drain DETERMINISTICALLY
    * between units rather than sleeping and hoping. The accessor is
    * `private[spark]`, hence this bridge. */
  def waitListenerBusEmpty(spark: SparkSession,
                           timeoutMillis: Long = 30000L): Boolean =
    try {
      spark.sparkContext.listenerBus.waitUntilEmpty(timeoutMillis); true
    } catch {
      case _: java.util.concurrent.TimeoutException => false
    }

  /** Generated classes Janino has compiled in this JVM so far (each
    * compile records one sample of the codegen compile-time
    * histogram; a codegen cache hit records none). `CodegenMetrics`
    * is `private[spark]`, hence this bridge. */
  def codegenCompiles: Long =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount
}
