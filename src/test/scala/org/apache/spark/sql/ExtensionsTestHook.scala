package org.apache.spark.sql

import org.apache.spark.sql.catalyst.analysis.FunctionRegistry

/** `SparkSessionExtensions.registerFunctions` is private[sql]; this exposes
  * the function registry a session built with the given extensions sees. */
object ExtensionsTestHook {
  def injectedRegistry(ext: SparkSessionExtensions): FunctionRegistry =
    ext.registerFunctions(FunctionRegistry.builtin.clone())
}
