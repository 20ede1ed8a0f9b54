package graft

/** Pins the shared test session to Bench's posture, so a later edit to
  * [[SparkEntry.session]] cannot silently split tests from Bench.
  */
class SessionPostureSpec extends SparkSpec {

  test("the shared test session runs Bench's posture") {
    val conf = spark.conf
    assert(conf.get(
      "spark.sql.adaptive.coalescePartitions.parallelismFirst") == "false")
    assert(conf.get("spark.sql.adaptive.advisoryPartitionSizeInBytes") == "64m")
    assert(conf.get("spark.sql.session.timeZone") == "UTC")
    assert(spark.sparkContext.getConf.get("spark.ui.enabled") == "false")
    assert(conf.get("spark.sql.shuffle.partitions") == "4")
    assert(spark.sparkContext.master == "local[4]")
  }
}
