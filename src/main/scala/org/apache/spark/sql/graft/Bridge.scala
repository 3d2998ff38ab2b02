package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/**
 * Expression <-> Column bridge. Spark 4's `Column` wraps a ColumnNode and
 * the converters live in `private[sql] ExpressionUtils`, so third-party
 * Catalyst expressions need this one-file shim inside the sql package
 * namespace (the conventional pattern for Spark extension libraries).
 */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** EAGER Column -> Catalyst conversion. [[expression]] returns a lazy
    * ColumnNode wrapper that the analyzer only resolves on the Dataset
    * path — an expression handed to the FunctionRegistry must already
    * be a plain Catalyst tree, so SQL-name builders that compose the
    * library's Column helpers convert through the full recursive
    * converter instead (the same one `Dataset.select` runs). */
  def toCatalyst(c: Column): Expression =
    org.apache.spark.sql.classic.ColumnNodeToExpressionConverter(c.node)

  /** `e` with floating-point values normalized (-0.0 to 0.0, one NaN),
    * the key equality of `groupBy` (private[sql] NormalizeFloatingNumbers). */
  def normalizeFloats(e: Expression): Expression =
    org.apache.spark.sql.catalyst.optimizer.NormalizeFloatingNumbers.normalize(e)

  /** Whether [[normalizeFloats]] changes `e`: its type holds a float or
    * double. */
  def needsNormalize(e: Expression): Boolean = e.dataType.existsRecursively {
    case org.apache.spark.sql.types.FloatType | org.apache.spark.sql.types.DoubleType => true
    case _ => false
  }

  /** Analyzed logical plan of a DataFrame. */
  def logicalPlan(df: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.catalyst.plans.logical.LogicalPlan =
    df.queryExecution.analyzed

  /** Re-wrap a (checkpointed) DataFrame as a CONSTRAINT-FREE
    * LogicalRDD. Dataset.checkpoint copies the origin plan's
    * constraints into the LogicalRDD it returns; constraints that
    * reference pre-checkpoint attribute ids (e.g. the collapsed sides
    * of a join) later blow up UnionBase.rewriteConstraints ("key not
    * found: attr#n") when the checkpointed state is UNIONED — exactly
    * the DML-view append path (INSERT / COPY FROM after an UPDATE or
    * MERGE re-registered the view). Constraints and origin stats are
    * optimizer hints only; a re-registered view state does not need
    * them. `toRdd` on a checkpointed frame is a passthrough scan of
    * the already-materialized rows — no recompute. */
  def constraintFree(df: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val sparkC = df.sparkSession
      .asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    ofRows(sparkC, org.apache.spark.sql.execution.LogicalRDD(
      df.queryExecution.analyzed.output, df.queryExecution.toRdd)(sparkC))
  }

  /** DataFrame from a LogicalPlan (classic Dataset.ofRows). */
  def ofRows(spark: org.apache.spark.sql.SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
      : org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** The function names a SparkSessionExtensions instance would
    * inject at session build (for specs). */
  def injectedFunctionNames(
      ext: org.apache.spark.sql.SparkSessionExtensions): Seq[String] = {
    val reg = new org.apache.spark.sql.catalyst.analysis.SimpleFunctionRegistry
    ext.registerFunctions(reg)
    reg.listFunction().map(_.funcName)
  }

  /** What a SparkSessionExtensions instance would inject (for specs). */
  def injectedRulesAndStrategies(
      ext: org.apache.spark.sql.SparkSessionExtensions,
      spark: org.apache.spark.sql.SparkSession)
      : (Seq[org.apache.spark.sql.catalyst.rules.Rule[
           org.apache.spark.sql.catalyst.plans.logical.LogicalPlan]],
         Seq[org.apache.spark.sql.execution.SparkStrategy]) =
    (ext.buildOptimizerRules(spark), ext.buildPlannerStrategies(spark))

  /** The columnar rules a SparkSessionExtensions instance would inject
    * (for specs). */
  def injectedColumnarRules(ext: org.apache.spark.sql.SparkSessionExtensions,
      spark: org.apache.spark.sql.SparkSession)
      : Seq[org.apache.spark.sql.execution.ColumnarRule] =
    ext.buildColumnarRules(spark)

  /** Register a named SQL function backed by a Catalyst expression builder. */
  def registerFunction(spark: org.apache.spark.sql.SparkSession, name: String,
      builder: Seq[Expression] => Expression): Unit =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.functionRegistry.createOrReplaceTempFunction(
        name, builder, "scala_udf")

  /** Register a named TABLE function (FROM-clause SRF) backed by a
    * LogicalPlan builder. */
  def registerTableFunction(spark: org.apache.spark.sql.SparkSession,
      name: String,
      builder: Seq[Expression] =>
        org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): Unit =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.tableFunctionRegistry.createOrReplaceTempFunction(
        name, builder, "scala_udf")

  /** The table-function names a SparkSessionExtensions instance would
    * inject at session build (for specs). */
  def injectedTableFunctionNames(
      ext: org.apache.spark.sql.SparkSessionExtensions): Seq[String] = {
    val reg =
      new org.apache.spark.sql.catalyst.analysis.SimpleTableFunctionRegistry
    ext.registerTableFunctions(reg)
    reg.listFunction().map(_.funcName)
  }
}
