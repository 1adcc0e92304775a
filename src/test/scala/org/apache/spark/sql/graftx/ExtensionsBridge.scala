package org.apache.spark.sql.graftx

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.analysis.SimpleFunctionRegistry

/** Reads back what an extension injected into a [[SparkSessionExtensions]]:
  * its builders are private[sql], so specs go through this bridge.
  */
object ExtensionsBridge {
  def functionNames(ext: SparkSessionExtensions): Seq[String] =
    ext.registerFunctions(new SimpleFunctionRegistry).listFunction().map(_.funcName)

  def optimizerRules(ext: SparkSessionExtensions, spark: SparkSession): Seq[AnyRef] =
    ext.buildOptimizerRules(spark)

  def plannerStrategies(ext: SparkSessionExtensions, spark: SparkSession): Seq[AnyRef] =
    ext.buildPlannerStrategies(spark)
}
