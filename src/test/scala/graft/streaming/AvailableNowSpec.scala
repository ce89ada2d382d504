package graft.streaming

import java.nio.file.Files

import graft.SparkSpec
import org.apache.spark.sql.streaming.OutputMode

/** The micro-batch run seam's contract: runs over one checkpoint resume
  * where the last one stopped, and the sink callback sees the engine's
  * batch id unchanged — the key a replay-safe sink dedups on. */
class AvailableNowSpec extends SparkSpec {
  import spark.implicits._

  test("foreachBatch: two runs over one checkpoint see batch ids 0 then 1 " +
      "and only the newly delivered file") {
    val root = Files.createTempDirectory("graft-avnow").toString
    val inDir = s"$root/in"
    val seen = scala.collection.mutable.ArrayBuffer.empty[(Long, Set[Long])]
    def run(file: String, ids: Seq[Long]): Unit = {
      ids.toDF("id").coalesce(1).write.parquet(s"$root/staged/$file")
      graft.io.Scratch.deliverTree(s"$root/staged/$file", inDir)
      val stream = spark.readStream.schema("id LONG").parquet(inDir)
      AvailableNow.foreachBatch(stream, s"$root/ckpt", OutputMode.Append()) {
        (batch, batchId) =>
          val rows = batch.as[Long].collect().toSet
          seen.synchronized { seen += ((batchId, rows)) }
      }.awaitTermination()
    }
    run("a", Seq(1L, 2L))
    run("b", Seq(3L))
    assert(seen.toSeq == Seq((0L, Set(1L, 2L)), (1L, Set(3L))))
  }

  test("toMemory: runs to completion into a graft_stream memory table") {
    val root = Files.createTempDirectory("graft-avnow-mem").toString
    Seq(1L, 2L, 3L).toDF("id").write.parquet(s"$root/in")
    def tables = spark.catalog.listTables().collect()
      .filter(_.isTemporary).map(_.name).toSet
    val before = tables
    val out = AvailableNow.toMemory(
      spark.readStream.schema("id LONG").parquet(s"$root/in"),
      s"$root/ckpt", OutputMode.Append())
    assert(out.as[Long].collect().toSet == Set(1L, 2L, 3L))
    val added = tables -- before
    assert(added.size == 1 && added.head.startsWith("graft_stream_"))
  }
}
