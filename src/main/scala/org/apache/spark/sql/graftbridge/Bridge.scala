package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, LeafExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, CodeGenerator, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.classic
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.execution.CachedData
import org.apache.spark.sql.internal.SQLConf
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

  /** The streaming frame `read` builds, with every file listing of its
    * source kept on the driver up to `maxPaths` paths. Spark lists more
    * paths than `spark.sql.sources.parallelPartitionDiscovery.threshold`
    * (default 32) in a Spark job of one task per path, and a file
    * stream's `getBatch` lists each micro-batch's files again. `read`
    * runs on a clone of `spark` whose threshold is raised to `maxPaths`;
    * the analyzed plan is then re-homed on `spark`. Its file stream's
    * data source keeps the clone, so every per-batch listing reads the
    * raised threshold, while the query runs on, and registers with,
    * `spark`, whose conf is untouched. The plan must be the analyzed
    * one: the streaming reader resolves its data source in the session
    * that analyzes it. */
  def driverListed(spark: SparkSession, maxPaths: Int)(
      read: SparkSession => DataFrame): DataFrame = {
    val user = spark.asInstanceOf[classic.SparkSession]
    val clone = user.cloneSession()
    val conf = clone.sessionState.conf
    conf.setConf(SQLConf.PARALLEL_PARTITION_DISCOVERY_THRESHOLD,
      math.max(maxPaths, conf.parallelPartitionDiscoveryThreshold))
    val analyzed = read(clone).asInstanceOf[classic.Dataset[_]].queryExecution.analyzed
    classic.Dataset.ofRows(user, analyzed)
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
