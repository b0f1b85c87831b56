package org.apache.spark.sql.graftshim

/** Applies a SparkSessionExtensions' injected functions to a live
  * registry (what session construction does internally) — used by the
  * GraftExtensions spec to verify injection end-to-end without tearing
  * down the shared test session.
  */
object ExtensionsShim {
  def registerFunctions(exts: org.apache.spark.sql.SparkSessionExtensions,
                        reg: org.apache.spark.sql.catalyst.analysis.FunctionRegistry)
  : org.apache.spark.sql.catalyst.analysis.FunctionRegistry =
    exts.registerFunctions(reg)
}
