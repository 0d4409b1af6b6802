package graft

import org.apache.spark.sql.SparkSessionExtensions

import graft.functions.VectorFunctions

/** SparkSessionExtensions entry point: registers the vector kernel family
  * as SQL functions at session build time —
  *
  * {{{
  * spark.sql.extensions=graft.GraftExtensions
  * }}}
  *
  * in the session's conf, after which
  * `SELECT cosine_distance(a.embedding, b.embedding) ...` works in plain
  * SQL on any session, no imperative registration call needed.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    import org.apache.spark.sql.catalyst.FunctionIdentifier
    import org.apache.spark.sql.catalyst.expressions.ExpressionInfo
    VectorFunctions.sqlFunctions.foreach { case (name, builder) =>
      ext.injectFunction((FunctionIdentifier(name),
        new ExpressionInfo("graft", name), builder))
    }
  }
}
