package graft

import graft.functions.{UdfRegistry, VectorRewriteRule}
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo

/**
 * SparkSessionExtensions entry point, for sessions built outside the
 * pipeline runner:
 * {{{
 * spark-submit --conf spark.sql.extensions=graft.GraftExtensions ...
 * // or
 * SparkSession.builder().withExtensions(new GraftExtensions) ...
 * }}}
 * Injects [[UdfRegistry.nativeFunctions]] as SQL functions and the
 * [[VectorRewriteRule]] optimizer rule. (Sessions driven by the
 * PipelineRunner get these automatically via UdfRegistry.)
 */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    UdfRegistry.nativeFunctions.foreach { case (name, cls, builder) =>
      e.injectFunction((FunctionIdentifier(name), new ExpressionInfo(cls.getName, name), builder))
    }
    e.injectOptimizerRule(_ => VectorRewriteRule)
  }
}
