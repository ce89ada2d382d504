package graft.io

import java.nio.file.Files

import graft.SparkSpec
import org.apache.hadoop.fs.Path

class AtomicParquetSpec extends SparkSpec {
  import spark.implicits._

  private def fs(path: String) =
    new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)

  test("publish swaps atomically: readers see old table, then new, never neither") {
    val dir = Files.createTempDirectory("graft_pub").toString + "/master"
    AtomicParquet.publish(Seq((1L, "a")).toDF("id", "v"), dir)
    assert(spark.read.parquet(dir).count() == 1)
    AtomicParquet.publish(Seq((1L, "a"), (2L, "b")).toDF("id", "v"), dir)
    assert(spark.read.parquet(dir).count() == 2)
    // no leftover tmp/old directories after a clean publish
    assert(!fs(dir).exists(new Path(dir + "__tmp")))
    assert(!fs(dir).exists(new Path(dir + "__old")))
  }

  test("recover restores the saved master after a mid-swap crash") {
    val dir = Files.createTempDirectory("graft_rec").toString + "/master"
    AtomicParquet.publish(Seq((1L, "a")).toDF("id", "v"), dir)
    // simulate a crash between the two renames: main moved to __old,
    // replacement never arrived
    assert(fs(dir).rename(new Path(dir), new Path(dir + "__old")))
    // read() heals on restart — the production entry path must never see
    // an empty master where __old still holds the data
    assert(AtomicParquet.read(spark, dir,
      Seq((0L, "z")).toDF("id", "v")).count() == 1)
    AtomicParquet.recover(spark, dir)
    assert(spark.read.parquet(dir).count() == 1)
    // healthy state: recover is a no-op
    AtomicParquet.recover(spark, dir)
    assert(spark.read.parquet(dir).count() == 1)
  }

  test("JsonTable.read heals a crash between the two renames of a write") {
    val dir = Files.createTempDirectory("graft_json_rec").toString + "/master"
    val schema = org.apache.spark.sql.types.StructType.fromDDL(
      "offer_id STRING, price_value DOUBLE")
    JsonTable.write(Seq(("1", 5.0), ("2", 7.0)).toDF("offer_id",
      "price_value"), dir)
    // crash after main moved to __old, before __tmp arrived
    assert(fs(dir).rename(new Path(dir), new Path(dir + "__old")))
    val back = JsonTable.read(spark, dir, schema)
      .as[(String, Double)].collect().toSet
    assert(back == Set(("1", 5.0), ("2", 7.0)))
    assert(fs(dir).exists(new Path(dir)))
  }
}
