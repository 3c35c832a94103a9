package org.apache.spark.sql

import org.apache.spark.TaskContext
import org.apache.spark.memory.TaskMemoryManager
import org.apache.spark.sql.catalyst.expressions.Expression

/** Bridge into the `private[sql]` Column↔Expression converters — the
  * standard mechanism for libraries that ship native Catalyst expressions
  * (the public API deliberately hides Expression since Spark Connect) — and
  * into the running task's `private[spark]` memory manager, through which a
  * native expression that buffers rows takes execution memory; and into
  * the `private[sql]` float normalization of grouping keys. */
object GraftExpressionBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** Eagerly-converted expression. [[expression]] returns a lazy
    * `ColumnNodeExpression` wrapper that reports `NullType` until the
    * classic Dataset path converts it — fine inside `select`/`withColumn`,
    * but an expression returned from a `FunctionRegistry` builder into a
    * SQL plan is never converted, so a UDF registered that way would
    * silently type as VOID. This runs the converter up front. */
  def resolvedExpression(c: Column): Expression =
    classic.ColumnNodeToExpressionConverter.apply(c.node)

  /** `e` with its float and double values normalized as `groupBy` and join
    * keys are: -0.0 as 0.0 and every NaN as one NaN, inside structs and
    * arrays too. */
  def normalizeFloats(e: Expression): Expression =
    catalyst.optimizer.NormalizeFloatingNumbers.normalize(e)

  /** The running task's memory manager, for a `MemoryConsumer`. */
  def taskMemoryManager(ctx: TaskContext): TaskMemoryManager = ctx.taskMemoryManager()
}
