package graft

/** The factory contract every suite and main relies on: one width, and
  * shuffle partitions that follow it. */
class SessionSpec extends SparkSpec {
  test("the shared test session is graft.Session's: shuffle width " +
      "follows the configured width, time zone is UTC") {
    assert(Session() eq spark)
    assert(spark.sparkContext.master == s"local[${Session.cpus}]")
    assert(spark.conf.get("spark.sql.shuffle.partitions").toInt ==
      Session.cpus)
    assert(spark.sparkContext.defaultParallelism == Session.cpus)
    assert(spark.conf.get("spark.sql.session.timeZone") == "UTC")
  }
}
