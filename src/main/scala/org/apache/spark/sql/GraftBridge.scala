package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Column ↔ Expression bridge for graft's codegen kernels.
  *
  * `classic.ExpressionUtils` is `private[sql]`, so library code that builds
  * Catalyst expressions directly (StaticInvoke kernels in
  * `graft.functions.Kernels`) needs this one-file shim in the sql package —
  * the standard pattern for Spark extension libraries that pre-date a public
  * Expression constructor API. The engine has one other such shim,
  * `catalyst.json.GraftJsonInfer`, which reaches the package-private
  * `JsonInferSchema.canonicalizeType` to infer JSON samples on the driver;
  * nothing else needs to sit in a Spark package.
  */
object GraftBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)
}
