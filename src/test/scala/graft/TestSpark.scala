package graft

import org.apache.spark.sql.SparkSession

/** One shared session for every suite (suites run sequentially in the forked
  * test JVM; building a SparkSession per suite would dominate test time). */
object TestSpark {
  /** the fixture tables, one `sf*` dir per scale factor (TESTDATA.md) */
  val fixtures = "/root/testdata"

  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-tests")
      .config("spark.sql.shuffle.partitions", "4")
      // mirror the reference's symbol-identity (eq) key semantics
      .config("spark.sql.caseSensitive", "true")
      // managed-table warehouse (bucketing tests) goes to a temp dir
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft_warehouse").toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
