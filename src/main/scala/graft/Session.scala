package graft

import org.apache.spark.sql.SparkSession

/** The one local SparkSession factory: every main and the test suite
  * build their session here, so width and config cannot drift apart.
  * Width is `SPARK_GRAFT_CPUS`, defaulting to the JVM's available
  * processors; shuffle partitions follow the width, so a capture's
  * task shape is a function of [[cpus]] alone.
  *
  * It is also the one place that makes session-wide settings: the
  * native SQL functions, `RewriteHofCosine` and the
  * `InferFiltersFromGenerate` exclusion ([[graft.plans.GraftExtensions
  * .register]]), and `nanosAsLong`, which lets the parquet reader load
  * TIMESTAMP(NANOS) columns as longs for [[graft.model.Tables.events]].
  * Every session plans with the same optimizer, whatever ran first. */
object Session {
  val cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  def apply(): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.plans.GraftExtensions.register(spark)
    spark
  }
}
