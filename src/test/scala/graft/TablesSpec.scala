package graft

import java.nio.file.Files

/** The source-table loaders read; they do not change session state. */
class TablesSpec extends SparkSpec {

  test("Tables.t and physicalSchema leave the session conf unchanged") {
    val dir = Files.createTempDirectory("graft_tables_").toString
    spark.range(3).selectExpr("id", "timestamp_micros(id) AS ts")
      .write.parquet(s"$dir/t.parquet")
    val fresh = spark.newSession()
    val before = fresh.conf.getAll
    assert(Tables.physicalSchema(fresh, dir, "t").fieldNames.toSeq === Seq("id", "ts"))
    assert(Tables.t(fresh, dir, "t").count() === 3L)
    assert(fresh.conf.getAll === before)
  }
}
