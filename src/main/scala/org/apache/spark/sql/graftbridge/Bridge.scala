package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic
import org.apache.spark.sql.classic.ExpressionUtils

/** Column ⇄ catalyst Expression bridge. Spark 4 hides the classic
  * Column(Expression) constructors behind `private[sql]`
  * (ExpressionUtils); this shim lives under org.apache.spark.sql solely
  * to re-export the two conversions the graft custom expressions need.
  * No Spark internals are modified or shadowed. */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** A frame whose logical plan IS the cached relation of the persisted
    * `df`. Every consumer reads the one cache — a self-union re-instances
    * the leaf with the same cache builder, so no branch falls back to
    * `df`'s lineage — and nothing executes until an action. The cache
    * keeps lineage: an unpersisted or lost cache rebuilds from it. */
  def cachedLeaf(df: DataFrame): DataFrame = {
    val ds = df.asInstanceOf[classic.Dataset[_]]
    val cached = ds.sparkSession.sharedState.cacheManager.lookupCachedData(ds)
      .getOrElse(throw new IllegalStateException(
        "cachedLeaf: the frame is not persisted"))
    classic.Dataset.ofRows(ds.sparkSession, cached.cachedRepresentation)
  }
}
