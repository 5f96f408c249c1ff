package org.apache.spark.sql.graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.analysis.SimpleTableFunctionRegistry

/** Test access to Spark's `private[sql]` extension registries: the
  * table-function names an extension installs into a fresh session.
  */
object Extensions {
  def tableFunctionNames(extension: SparkSessionExtensions => Unit): Set[String] = {
    val ext = new SparkSessionExtensions
    extension(ext)
    ext.registerTableFunctions(new SimpleTableFunctionRegistry)
      .listFunction().map(_.funcName).toSet
  }
}
