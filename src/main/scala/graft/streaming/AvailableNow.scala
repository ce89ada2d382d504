package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.streaming.{DataStreamWriter, OutputMode,
  StreamingQuery, Trigger}

/** The one micro-batch run seam: every streaming run in the engine is an
  * `AvailableNow` run over a checkpoint — it processes what the source
  * holds since the last committed batch, then stops (one cron tick).
  * Checkpoint and trigger wiring lives only here, so whatever a sink
  * must do per batch id (an idempotent, replay-safe publish keyed by
  * `batchId`) has one place to land.
  */
object AvailableNow {

  /** Run `f` on each micro-batch. The batch id is passed through
    * unchanged: it is the key a replay-safe sink dedups on. */
  def foreachBatch[T](ds: Dataset[T], checkpointDir: String,
      outputMode: OutputMode)(f: (Dataset[T], Long) => Unit): StreamingQuery =
    writer(ds, checkpointDir, outputMode).foreachBatch(f).start()

  /** Run `df` to completion into a fresh memory table and return it as
    * a batch frame. The `graft_stream` prefix is what Bench drops after
    * each query and what its plan normalization collapses. */
  def toMemory(df: DataFrame, checkpointDir: String,
      outputMode: OutputMode): DataFrame = {
    val name = "graft_stream_" +
      java.util.UUID.randomUUID().toString.replace("-", "")
    writer(df, checkpointDir, outputMode)
      .format("memory").queryName(name).start().awaitTermination()
    df.sparkSession.table(name)
  }

  private def writer[T](ds: Dataset[T], checkpointDir: String,
      outputMode: OutputMode): DataStreamWriter[T] =
    ds.writeStream
      .outputMode(outputMode)
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
}
