package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.graftshim.GraftShims

import graft.core.Metric

/** Column-level surface for the distance/normalize kernel family, plus SQL
  * function registration so the kernels are usable from `spark.sql(...)`.
  */
object VectorFunctions {

  private def col(e: Expression): Column = GraftShims.column(e)
  private def ex(c: Column): Expression = GraftShims.expression(c)

  def dot_product(a: Column, b: Column): Column = col(DotProduct(ex(a), ex(b)))
  def cosine_distance(a: Column, b: Column): Column = col(CosineDistance(ex(a), ex(b)))
  def euclidean_distance(a: Column, b: Column): Column = col(EuclideanDistance(ex(a), ex(b)))
  def manhattan_distance(a: Column, b: Column): Column = col(ManhattanDistance(ex(a), ex(b)))
  def inner_product_distance(a: Column, b: Column): Column = col(InnerProductDistance(ex(a), ex(b)))
  def l2sq_distance(a: Column, b: Column): Column = col(L2SquaredDistance(ex(a), ex(b)))
  def hamming_distance(a: Column, b: Column): Column = col(HammingDistance(ex(a), ex(b)))
  def tanimoto_distance(a: Column, b: Column): Column = col(TanimotoDistance(ex(a), ex(b)))
  def l2_normalize(a: Column): Column = col(L2Normalize(ex(a)))
  def winnow_md5(a: Column, window: Int): Column = col(WinnowMd5(ex(a), window))
  def pack_sign_bits(a: Column): Column = col(PackSignBits(ex(a)))
  def hamming_packed(a: Column, b: Column): Column = col(HammingPacked(ex(a), ex(b)))

  /** Metric-dispatched distance, mirroring the reference's `_dist` hook
    * (`/root/reference/vicinity/backends/basic.py:112-115`). */
  def distance(metric: Metric)(a: Column, b: Column): Column = metric match {
    case Metric.Cosine       => cosine_distance(a, b)
    case Metric.Euclidean    => euclidean_distance(a, b)
    case Metric.Manhattan    => manhattan_distance(a, b)
    case Metric.InnerProduct => inner_product_distance(a, b)
    case Metric.L2Squared    => l2sq_distance(a, b)
    case Metric.Hamming      => hamming_distance(a, b)
    case Metric.Tanimoto     => tanimoto_distance(a, b)
  }

  /** The SQL name → expression builder table of every kernel: the ONE
    * list both [[register]] and `graft.GraftExtensions` read. */
  private[graft] val sqlFunctions: Seq[(String, Seq[Expression] => Expression)] =
    Seq(
      "dot_product" -> (es => DotProduct(es(0), es(1))),
      "cosine_distance" -> (es => CosineDistance(es(0), es(1))),
      "euclidean_distance" -> (es => EuclideanDistance(es(0), es(1))),
      "manhattan_distance" -> (es => ManhattanDistance(es(0), es(1))),
      "inner_product_distance" -> (es => InnerProductDistance(es(0), es(1))),
      "l2sq_distance" -> (es => L2SquaredDistance(es(0), es(1))),
      "hamming_distance" -> (es => HammingDistance(es(0), es(1))),
      "tanimoto_distance" -> (es => TanimotoDistance(es(0), es(1))),
      "hamming_packed" -> (es => HammingPacked(es(0), es(1))),
      "l2_normalize" -> (es => L2Normalize(es.head)),
      "pack_sign_bits" -> (es => PackSignBits(es.head)),
      "winnow_md5" -> winnowBuilder)

  /** Register all kernels in the session's function registry (idempotent),
    * making them available to SQL: e.g.
    * `SELECT cosine_distance(a.embedding, b.embedding) FROM ...`.
    */
  def register(spark: SparkSession): Unit =
    sqlFunctions.foreach { case (name, builder) =>
      GraftShims.registerFunction(spark, name, builder)
    }

  /** SQL builder for the winnowing fingerprint: `winnow_md5(text[, width])`
    * — width must be a foldable int literal (it shapes the generated code) */
  private[graft] def winnowBuilder(es: Seq[Expression]): Expression =
    es match {
      case Seq(t) => WinnowMd5(t)
      case Seq(t, w) =>
        require(w.foldable, "winnow_md5 width must be a literal")
        val width = w.eval() match {
          case n: java.lang.Number => n.intValue
          case other => throw new IllegalArgumentException(
            s"winnow_md5 width must be an integer literal, got $other")
        }
        require(width >= 1, s"winnow_md5 width must be >= 1, got $width")
        WinnowMd5(t, width)
      case _ => throw new IllegalArgumentException(
        "winnow_md5 expects (text[, width])")
    }
}
