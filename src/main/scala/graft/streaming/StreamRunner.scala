package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Row}
import org.apache.spark.sql.streaming.{OutputMode, StreamingQuery}

/** Run-to-completion for the engine's bounded streams: every stream the
  * registry, the index lifecycles and the ingest operators run is a
  * finite source drained once, so start / `processAllAvailable` / stop
  * is written here and nowhere else. `stop` runs on failure too, so a
  * batch that throws never leaves a query holding its source open.
  */
object StreamRunner {

  /** Process everything the query's sources hold, then stop it. */
  private[graft] def drain(q: StreamingQuery): Unit =
    try q.processAllAvailable() finally q.stop()

  /** Start an append-mode foreachBatch query running `f` on every
    * micro-batch; the caller decides when to drain it.
    */
  private[graft] def startEachBatch(stream: DataFrame)(
      f: DataFrame => Unit): StreamingQuery =
    stream.writeStream
      .foreachBatch((batch: Dataset[Row], _: Long) => f(batch.toDF()))
      .outputMode(OutputMode.Append())
      .start()

  /** [[startEachBatch]], drained. */
  private[graft] def drainEachBatch(stream: DataFrame)(f: DataFrame => Unit): Unit =
    drain(startEachBatch(stream)(f))

  /** Drain `df` into the memory sink `name` under `mode` and return the
    * sink's table.
    */
  private[graft] def drainToMemory(
      df: Dataset[_], name: String, mode: String): DataFrame = {
    drain(df.writeStream.format("memory").queryName(name)
      .outputMode(mode).start())
    df.sparkSession.table(name)
  }
}
