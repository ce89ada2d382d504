package graft.model

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Loaders for the driver-provided synthetic tables (TESTDATA.md).
  *
  * Every query in [[graft.SparkEntry]] receives `(spark, sfDir)` and reads
  * through here, so predicate pushdown / column pruning reach the parquet
  * scan (Catalyst sees a plain `FileScan parquet` relation — no opaque
  * indirection). At cluster scale these would be catalog tables; the
  * loader is the single seam to swap that in.
  */
object Tables {
  def load(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  /** Timestamp-column normalizer, adaptive to the generator's parquet
    * physical type. Earlier testdata drops wrote TIMESTAMP(NANOS)
    * (pyarrow default), which Spark's vectorized reader rejects — those
    * read as long (`nanosAsLong`, which [[graft.Session]] sets) and are
    * rebuilt with integer division
    * (`div`, not `/` — ns-since-epoch ≈ 1.7e18 exceeds double's 2^53
    * exact-integer range, so float division would corrupt timestamps).
    * Current drops write TIMESTAMP(MICROS, isAdjustedToUTC=false), which
    * Spark reads natively as TIMESTAMP_NTZ; that is cast to TimestampType
    * (value-preserving — every session here pins
    * `spark.sql.session.timeZone=UTC`) because streaming watermarks
    * reject NTZ event-time columns and the oracle compare was tuned on
    * TimestampType output. DuckDB sees the same naive micros either way.
    */
  private def withNanosTs(spark: SparkSession, dir: String, name: String,
      tsCols: Seq[String]): DataFrame = {
    // The NTZ->TimestampType cast below is value-preserving ONLY under a
    // UTC session zone; fail at load time rather than shift every event.
    val tz = spark.conf.get("spark.sql.session.timeZone", "")
    require(tz == "UTC",
      s"events loader requires spark.sql.session.timeZone=UTC (got '$tz'): " +
        "the TIMESTAMP_NTZ -> TIMESTAMP cast reinterprets naive micros in " +
        "the session zone, so any other zone silently shifts timestamps")
    val raw = load(spark, dir, name)
    tsCols.foldLeft(raw) { (df, c) =>
      df.schema(c).dataType match {
        case org.apache.spark.sql.types.LongType =>
          df.withColumn(c,
            org.apache.spark.sql.functions.timestamp_micros(
              org.apache.spark.sql.functions.expr(s"$c div 1000")))
        case org.apache.spark.sql.types.TimestampNTZType =>
          df.withColumn(c, org.apache.spark.sql.functions.col(c)
            .cast(org.apache.spark.sql.types.TimestampType))
        case org.apache.spark.sql.types.TimestampType => df
        case other => throw new IllegalStateException(
          s"testdata column $name.$c has unexpected parquet type $other " +
            "(generator drift?) — expected ns-as-long, TIMESTAMP_NTZ, or " +
            "TIMESTAMP; refusing to pass it through silently")
      }
    }
  }

  def region(s: SparkSession, d: String): DataFrame    = load(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame    = load(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame  = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = load(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame    = load(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame  = load(s, d, "lineitem")
  def events(s: SparkSession, d: String): DataFrame    =
    withNanosTs(s, d, "events", Seq("ts"))
  def documents(s: SparkSession, d: String): DataFrame = load(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = load(s, d, "embeddings")
}
