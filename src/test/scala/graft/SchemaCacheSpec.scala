package graft

import java.nio.file.{Files, Paths, StandardCopyOption}

import org.apache.spark.sql.types.{TimestampNTZType, TimestampType}

/** `Queries.readTable`'s base-table schema cache and the two facts it
  * relies on: base tables are immutable, and every base table infers
  * under the pinned inference confs. */
class SchemaCacheSpec extends SparkSpec {
  /** the file of a testdata table */
  private def source(table: String) =
    Paths.get(new java.net.URI(sf(table).inputFiles.head))

  /** a private copy of a testdata table, which the spec may rewrite */
  private def copyOf(table: String): String = {
    val dst = VerifyIO.scratchDir(s"graft_schema_$table")
      .resolve(s"$table.parquet")
    Files.copy(source(table), dst)
    dst.toString
  }

  test("lineitem infers the same timestamp type whichever table a session reads first") {
    val lineitem = copyOf("lineitem")
    val fresh = spark.newSession()
    val first = Queries.readTable(fresh, lineitem).schema("l_shipdate").dataType
    assert(first === TimestampType, "naive timestamps must not infer as NTZ")
    Queries.readTable(fresh, copyOf("events"))
    assert(Queries.readTable(fresh, lineitem).schema("l_shipdate").dataType ===
      first)
    val afterEvents = spark.newSession()
    Queries.readTable(afterEvents, copyOf("events"))
    assert(Queries.readTable(afterEvents, copyOf("lineitem"))
      .schema("l_shipdate").dataType === first)
    assert(first !== TimestampNTZType)
  }

  test("a base table rewritten after its schema was cached fails the next read") {
    val nation = copyOf("nation")
    val s = spark.newSession()
    assert(Queries.readTable(s, nation).count() > 0)
    Files.copy(source("region"), Paths.get(nation),
      StandardCopyOption.REPLACE_EXISTING)
    val e = intercept[IllegalStateException](Queries.readTable(s, nation))
    assert(e.getMessage.contains("changed on disk"), e.getMessage)
  }

  test("an inference conf changed after a schema was cached fails the next read") {
    val orders = copyOf("orders")
    val s = spark.newSession()
    Queries.readTable(s, orders)
    s.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "true")
    val e = intercept[IllegalStateException](Queries.readTable(s, orders))
    assert(e.getMessage.contains("inferTimestampNTZ"), e.getMessage)
  }
}
