package graft
/** Correctness dump: each SparkEntry.queries result → parquet, plus
  * oracle_sql.json, for a DuckDB oracle compare.
  *
  * Usage: runMain graft.Verify <sfDir> <outDir> [q_a,q_b,...]
  * then:  python3 tools/check_oracle.py <sfDir> <outDir>
  *
  * The optional third argument runs only the named queries — the fast
  * iteration loop when one oracle is under repair (a full correctness
  * run passes exactly two args). A filtered run keeps the outDir
  * self-consistent (advice r8): dumps left by an earlier run with a
  * different filter are deleted, so check_oracle.py only ever sees dumps
  * whose SQL is in the fresh oracle_sql.json. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir, only) = args match {
      case Array(a, b)    => (a, b, None)
      case Array(a, b, c) => (a, b, Some(c.split(",").toSet))
    }
    only.foreach(names => require(names.forall(SparkEntry.queries.contains),
      s"unknown queries: ${names.filterNot(SparkEntry.queries.contains).mkString(",")}"))
    val spark = GraftSession(sfDir)
    val out = new java.io.File(outDir)
    out.mkdirs()
    // Only reclaim directories that are recognizably prior dumps (named
    // after a declared query); unrelated content in a shared outDir is
    // left alone (advice r9).
    only.foreach(names => Option(out.listFiles()).getOrElse(Array.empty)
      .filter(f => f.isDirectory && !names(f.getName) &&
        SparkEntry.queries.contains(f.getName))
      .foreach(VerifyIO.deleteRec))
    val selected = only.fold(SparkEntry.queries)(names =>
      SparkEntry.queries.filter(kv => names(kv._1)))
    selected.foreach { case (name, fn) =>
      // remove any stale dump first: a failed query must not leave a
      // previous run's output behind for the comparer to pick up
      val dest = new java.io.File(s"$outDir/$name")
      if (dest.exists()) VerifyIO.deleteRec(dest)
      // name the query in the log stream and on its jobs, so a scheduler
      // ERROR line can be traced to the query that ran it
      System.err.println(s"[verify] $name")
      spark.sparkContext.setJobDescription(name)
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    VerifyIO.writeOracleJson(outDir,
      only.fold(SparkEntry.oracleSql)(names =>
        SparkEntry.oracleSql.filter(kv => names(kv._1))))
    spark.stop()
  }
}
