package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites. */
object SparkSpec {
  lazy val spark: SparkSession = {
    // the suites read the testdata and write under the temp dir, both local
    val s = GraftSession(sys.props("java.io.tmpdir"))
    graft.functions.VectorFunctions.register(s)
    s
  }
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.spark
  def sf(name: String, dir: String = "/root/testdata/sf0.001"): org.apache.spark.sql.DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")
}
