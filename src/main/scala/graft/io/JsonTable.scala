package graft.io

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, FloatType, StructType}

/** A1/A9: bit-compat JSON master-table IO. The reference stores the
  * master as one JSON array file rewritten per run; missing/corrupt →
  * empty table (parse_data.py:206-211), NaN scrubbed to null before
  * write (parse_data.py:187-204). Spark-side we use JSON-lines (one
  * object per line — the distributed-friendly framing); the array-file
  * shape is a trivial driver-side concat when bit-compat export matters.
  */
object JsonTable {

  /** Heals a crashed half-swap before probing (see [[AtomicParquet
    * .exists]]), so a table left at `path__old` reads back intact. */
  def read(spark: SparkSession, path: String, schema: StructType): DataFrame =
    if (AtomicParquet.exists(spark, path)) spark.read.schema(schema).json(path)
    else spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)

  /** NaN-scrubbed overwrite (A9); atomic through
    * [[AtomicParquet.publishDir]], the same tmp-swap as the parquet
    * master. */
  def write(df: DataFrame, path: String): Unit = {
    val scrubbed = df.schema.fields.foldLeft(df) { (acc, f) =>
      f.dataType match {
        case DoubleType | FloatType =>
          acc.withColumn(f.name,
            when(isnan(col(f.name)), lit(null)).otherwise(col(f.name)))
        case _ => acc
      }
    }
    AtomicParquet.publishDir(df.sparkSession, path)(tmp =>
      scrubbed.write.json(tmp))
  }
}
