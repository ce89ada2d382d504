package graft

/** The factory contract every suite and main relies on: one width,
  * shuffle partitions that follow it, and one optimizer and reader
  * configuration, whatever ran first. */
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

  test("graft.Session installs the optimizer extensions and reader " +
      "settings: graft_cosine resolves, RewriteHofCosine runs, " +
      "InferFiltersFromGenerate is excluded, nanosAsLong is on") {
    assert(spark.sql("SELECT graft_cosine(array(1.0D), array(2.0D))")
      .head().getDouble(0) == 1.0)
    assert(spark.experimental.extraOptimizations
      .exists(_ eq graft.plans.RewriteHofCosine))
    assert(spark.conf.get("spark.sql.optimizer.excludedRules")
      .split(",").contains(
        "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate"))
    assert(spark.conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true")
  }
}
