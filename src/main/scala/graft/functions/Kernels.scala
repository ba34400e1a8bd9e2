package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** The one registration path of the native kernels. */
object Kernels {

  /** A kernel as `SparkSessionExtensions.injectFunction` takes it. */
  type Descriptor = (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)

  /** Registers each kernel the session does not already resolve
    * (injected by [[graft.plans.GraftExtensions]], or registered
    * before), exactly as the extension injects it. The operators call
    * this on every use, so a kernel is never replaced and Spark never
    * logs a replacement. */
  def registerMissing(spark: SparkSession, kernels: Descriptor*): Unit = {
    val reg = spark.sessionState.functionRegistry
    for ((id, info, builder) <- kernels if !reg.functionExists(id))
      reg.registerFunction(id, info, builder)
  }
}
