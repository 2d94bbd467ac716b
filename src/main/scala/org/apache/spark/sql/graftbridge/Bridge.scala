package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, LeafExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, CodeGenerator, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.classic
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.execution.CachedData
import org.apache.spark.sql.types.DataType

/** Column ⇄ catalyst Expression bridge. Spark 4 hides the classic
  * Column(Expression) constructors behind `private[sql]`
  * (ExpressionUtils); this shim lives under org.apache.spark.sql solely
  * to re-export the two conversions the graft custom expressions need.
  * No Spark internals are modified or shadowed. */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** A column holding `value` (catalyst's internal form of `dataType`)
    * for one batch; see [[BatchConstant]]. */
  def batchConstant(value: Any, dataType: DataType): Column =
    column(BatchConstant(value, dataType))

  /** A frame whose logical plan IS the cached relation of the persisted
    * `df`. Every consumer reads the one cache — a self-union re-instances
    * the leaf with the same cache builder, so no branch falls back to
    * `df`'s lineage — and nothing executes until an action. The cache
    * keeps lineage: an unpersisted or lost cache rebuilds from it. */
  def cachedLeaf(df: DataFrame): DataFrame = {
    val ds = df.asInstanceOf[classic.Dataset[_]]
    classic.Dataset.ofRows(ds.sparkSession, cached(df).cachedRepresentation)
  }

  /** Build the cache of the persisted `df` now, in one job, unless it is
    * built already. Readers planned afterwards find it loaded; without
    * this, every concurrent reader's adaptive plan submits its own
    * cache-building job. */
  def buildCache(df: DataFrame): Unit = {
    val builder = cached(df).cachedRepresentation.cacheBuilder
    if (!builder.isCachedColumnBuffersLoaded)
      df.sparkSession.sparkContext.runJob(builder.cachedColumnBuffers,
        (_: Iterator[_]) => ())
  }

  private def cached(df: DataFrame): CachedData = {
    val ds = df.asInstanceOf[classic.Dataset[_]]
    ds.sparkSession.sharedState.cacheManager.lookupCachedData(ds)
      .getOrElse(throw new IllegalStateException("the frame is not persisted"))
  }
}

/** A value fixed for one batch (an epoch id, a batch clock) that
  * generated code reads from the references array instead of inlining.
  * A literal is folded into the generated source, so a new value per
  * batch means new source and a fresh Janino compile of every class per
  * batch; this leaf keeps the source byte-identical across batches, so
  * the compiled classes come from the codegen cache. It is not foldable,
  * so the optimizer never turns it back into a literal. */
case class BatchConstant(value: Any, dataType: DataType) extends LeafExpression {
  require(value != null, "a batch constant is never null")
  override def nullable: Boolean = false
  override def foldable: Boolean = false
  override def eval(input: InternalRow): Any = value
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("batchConstant", value,
      CodeGenerator.boxedType(dataType))
    ev.copy(code = code"${CodeGenerator.javaType(dataType)} ${ev.value} = $ref;",
      isNull = FalseLiteral)
  }
}
