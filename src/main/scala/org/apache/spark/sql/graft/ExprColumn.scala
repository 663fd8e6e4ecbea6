package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.TableIdentifier
import org.apache.spark.sql.catalyst.catalog.CatalogTable
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Minimal bridge into Spark's `private[sql]` Column↔Expression
  * converters so the engine's native expressions (e.g.
  * `graft.expressions.CosineSimilarity`) can be used through the
  * DataFrame API without a session-level function registry. The
  * standard pattern for Catalyst extension libraries: one tiny object
  * inside the `org.apache.spark.sql` namespace, nothing else. */
object ExprColumn {
  def of(e: Expression): Column = ExpressionUtils.column(e)
  def expr(c: Column): Expression = ExpressionUtils.expression(c)
}

/** Installs the engine's native SQL functions into an EXISTING session
  * (`spark.sql.extensions` only applies at session build time). */
object GraftSqlRegistry {
  def register(spark: org.apache.spark.sql.SparkSession): Unit =
    graft.GraftExtensions.functions.foreach { case (id, info, builder) =>
      spark.sessionState.functionRegistry
        .registerFunction(id, info, builder)
    }
}

/** A catalog table's metadata (properties, partition columns) read
  * straight from the session catalog: no query execution, where a
  * `SHOW TBLPROPERTIES` or `catalog.listColumns` collect is one. */
object CatalogMeta {
  def of(spark: org.apache.spark.sql.SparkSession, name: String)
      : CatalogTable =
    spark.sessionState.catalog.getTableMetadata(TableIdentifier(name))
}
