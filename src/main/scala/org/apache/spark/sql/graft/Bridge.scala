package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Access bridge for Spark 4's `private[sql]` Column↔Expression
  * conversions, so custom Catalyst expressions in the graft packages can
  * surface as user-facing Columns. (In Spark 4 `Column` wraps a
  * ColumnNode; the classic converter lives behind the sql package.)
  */
object Bridge {
  def toColumn(e: Expression): Column = ExpressionUtils.column(e)
  def toExpression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Surface the `private[sql]` session clone: an identical session
    * (same SparkContext + shared state, copied SQL conf / temp views)
    * whose conf can be pinned WITHOUT touching the caller's session —
    * how graft scopes its TIMESTAMP_MICROS data-file-write pin.
    */
  def cloneSession(s: org.apache.spark.sql.SparkSession): org.apache.spark.sql.SparkSession =
    s.asInstanceOf[org.apache.spark.sql.classic.SparkSession].cloneSession()

  /** Re-bind an already-ANALYZED frame to another session of the same
    * context (resolution happened; the target session supplies conf +
    * runtime only).
    */
  def rebind(s: org.apache.spark.sql.SparkSession,
             df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      s.asInstanceOf[org.apache.spark.sql.classic.SparkSession],
      df.queryExecution.analyzed)

  /** Names of unresolved attribute references in `c` matching `p` —
    * walked over the COLUMN NODE tree (Spark 4 converts Column →
    * catalyst Expression lazily via ColumnNodeExpression, so the
    * catalyst-side collect sees no attributes until resolution).
    * Case-class product recursion covers every node shape.
    */
  def attrNames(c: Column, p: String => Boolean): Seq[String] = {
    def walk(x: Any): Seq[String] = x match {
      case ua: org.apache.spark.sql.internal.UnresolvedAttribute =>
        val n = ua.nameParts.mkString(".")
        if (p(n)) Seq(n) else Nil
      case e: Expression => // pre-built catalyst subtree inside a node
        e.collect {
          case a: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
              if p(a.name) => a.name
          case a: org.apache.spark.sql.catalyst.expressions.AttributeReference
              if p(a.name) => a.name
        }
      case pr: Product => pr.productIterator.toSeq.flatMap(walk)
      case it: Iterable[_] => it.toSeq.flatMap(walk)
      case _ => Nil
    }
    walk(c.node).distinct
  }

  /** Surface the `private[sql]` optimizer-rule builders of a
    * SparkSessionExtensions, so specs can assert what an extension
    * registration actually installed.
    */
  def optimizerRules(ext: org.apache.spark.sql.SparkSessionExtensions,
                     spark: org.apache.spark.sql.SparkSession)
      : Seq[org.apache.spark.sql.catalyst.rules.Rule[
        org.apache.spark.sql.catalyst.plans.logical.LogicalPlan]] =
    ext.buildOptimizerRules(spark)

  /** The `private[sql]` Column[] → StructType conversion (defaults
    * encode into metadata) — the catalog's GENERATED/IDENTITY
    * createTable path needs the engine's own conversion before
    * enriching the fields with the generation/identity specs.
    */
  def v2ColumnsToStructType(
      cols: Array[org.apache.spark.sql.connector.catalog.Column])
      : org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.connector.catalog.CatalogV2Util
      .v2ColumnsToStructType(cols)

  /** Spark's own rule for the file and directory names a file-source
    * listing skips (`_`/`.` prefixes bar `_metadata`/`_common_metadata`
    * and `=` partition dirs, `._COPYING_` suffixes).
    */
  def hiddenPathName(name: String): Boolean =
    org.apache.spark.util.HadoopFSUtils.shouldFilterOutPathName(name)
}
