package graft

import org.apache.spark.sql.SparkSession

/** Shared session for all suites (getOrCreate → one JVM-wide session). */
trait SparkSpec {
  lazy val spark: SparkSession = Session.get(Session.builder(cpus = 4)
    .config("spark.sql.warehouse.dir", "target/test-warehouse")
    // plan pins grep scan metadata (PushedFilters/ReadSchema); the
    // 100-char default silently truncates longer filter lists, making a
    // pin's hit-or-miss depend on the PRINT length of unrelated
    // predicates earlier in the list
    .config("spark.sql.maxMetadataStringLength", "2000"))

  val sf: String = "/root/testdata/sf0.001"
}
