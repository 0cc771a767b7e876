package org.apache.spark.sql

import org.apache.spark.sql.catalyst.analysis.{FunctionRegistry, SimpleFunctionRegistry}

/** Test-side access to the functions a [[SparkSessionExtensions]] holds,
  * without building a session from it. */
object ExtensionsBridge {

  /** A fresh registry holding exactly the functions `ext` injects. */
  def functions(ext: SparkSessionExtensions): FunctionRegistry =
    ext.registerFunctions(new SimpleFunctionRegistry)
}
