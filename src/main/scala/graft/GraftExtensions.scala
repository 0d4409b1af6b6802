package graft

import org.apache.spark.sql.SparkSessionExtensions

import graft.functions._

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
    import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
    def info(name: String) = new ExpressionInfo("graft", name)
    def inject(name: String, builder: Seq[Expression] => Expression): Unit =
      ext.injectFunction((FunctionIdentifier(name), info(name), builder))
    inject("dot_product", es => DotProduct(es(0), es(1)))
    inject("cosine_distance", es => CosineDistance(es(0), es(1)))
    inject("euclidean_distance", es => EuclideanDistance(es(0), es(1)))
    inject("manhattan_distance", es => ManhattanDistance(es(0), es(1)))
    inject("inner_product_distance", es => InnerProductDistance(es(0), es(1)))
    inject("l2sq_distance", es => L2SquaredDistance(es(0), es(1)))
    inject("hamming_distance", es => HammingDistance(es(0), es(1)))
    inject("tanimoto_distance", es => TanimotoDistance(es(0), es(1)))
    inject("l2_normalize", es => L2Normalize(es.head))
    inject("winnow_md5", VectorFunctions.winnowBuilder)
    inject("pack_sign_bits", es => PackSignBits(es.head))
    inject("hamming_packed", es => HammingPacked(es(0), es(1)))
  }
}
