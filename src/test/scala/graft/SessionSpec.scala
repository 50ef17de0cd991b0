package graft

/** The spec fixture runs at the bench's scan config ([[Session.local]]). */
class SessionSpec extends SparkSpec {
  test("the spec session carries the bench's scan and timestamp keys") {
    assert(spark.conf.get("spark.sql.files.maxPartitionBytes") == "2m")
    assert(spark.conf.get("spark.sql.files.openCostInBytes") == "64k")
    assert(spark.conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true")
    assert(spark.conf.get("spark.sql.shuffle.partitions") == "4")
    assert(spark.sparkContext.master == "local[4]")
  }
}
