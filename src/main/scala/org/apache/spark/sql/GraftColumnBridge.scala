package org.apache.spark.sql

import java.io.{ByteArrayInputStream, ByteArrayOutputStream,
  DataInputStream, DataOutputStream}

import org.apache.spark.SparkEnv
import org.apache.spark.io.CompressionCodec
import org.apache.spark.sql.catalyst.TableIdentifier
import org.apache.spark.sql.catalyst.catalog.CatalogStatistics
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Bridge into the `private[sql]` Column↔Expression converters and the
  * session catalog — the standard pattern for Spark extension
  * libraries that expose custom Catalyst expressions (graft.functions)
  * and estimator-driven statistics (graft.plans.GraftAnalyze) through
  * public APIs. Nothing else in this package: keep the surface one
  * file wide.
  */
object GraftColumnBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Install statistics for a catalog table (what ANALYZE TABLE does,
    * with estimator-supplied numbers) and drop the cached relation so
    * the next resolution picks them up.
    */
  def setTableStats(spark: SparkSession, table: String,
      stats: CatalogStatistics): Unit = {
    val cs = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState
    val ident = cs.sqlParser.parseTableIdentifier(table)
    cs.catalog.alterTableStats(ident, Some(stats))
    cs.catalog.refreshTable(ident)
  }

  /** Current catalog stats of a table, if any. */
  def tableStats(spark: SparkSession, table: String)
      : Option[CatalogStatistics] = {
    val cs = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState
    cs.catalog.getTableMetadata(
      cs.sqlParser.parseTableIdentifier(table)).stats
  }

  /** Block until the async SparkListener bus has delivered every
    * queued event (or the timeout passes) — the deterministic
    * replacement for sleep-before-reading-a-listener in specs that
    * count jobs.
    */
  def drainListenerBus(spark: SparkSession, timeoutMs: Long): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty(timeoutMs)

  /** A DataFrame over an existing logical plan — the standard
    * `Dataset.ofRows` spelling extension libraries use to re-plan a
    * query under different conf (e.g. the routing explainer's
    * rule-disabled re-optimization).
    */
  def ofPlan(spark: SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
      : DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** The single column NAME a Column references, when it is a plain
    * attribute reference (`col("x")`); None for computed expressions.
    * Lets estimator code key a Column against catalog column
    * statistics without resolving it against a plan.
    */
  def simpleAttrName(c: Column): Option[String] = c.node match {
    case a: org.apache.spark.sql.internal.UnresolvedAttribute
        if a.nameParts.length == 1 => Some(a.nameParts.head)
    case _ => None
  }

  /** What `write` writes, through the block codec of the running
    * SparkEnv (`spark.io.compression.codec`: zstd under
    * [[graft.GraftSession]]) — the encoding of every partial a task
    * sends the driver, so task results travel in the same codec as
    * shuffle and broadcast blocks. Works on the driver and in tasks.
    */
  def compress(write: DataOutputStream => Unit): Array[Byte] = {
    val bytes = new ByteArrayOutputStream()
    val out = new DataOutputStream(codec.compressedOutputStream(bytes))
    try write(out) finally out.close()
    bytes.toByteArray
  }

  /** Read back what [[compress]] wrote. */
  def decompress[T](bytes: Array[Byte])(read: DataInputStream => T): T = {
    val in = new DataInputStream(
      codec.compressedInputStream(new ByteArrayInputStream(bytes)))
    try read(in) finally in.close()
  }

  private def codec: CompressionCodec =
    CompressionCodec.createCodec(SparkEnv.get.conf)
}
