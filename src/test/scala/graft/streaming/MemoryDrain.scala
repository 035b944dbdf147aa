package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.OutputMode

/** Batch-parity harness for stream specs. */
object MemoryDrain {

  /** Run a streaming DataFrame to completion against currently-available
    * input (memory sink + processAllAvailable) and return the sink. */
  def runToMemory(df: DataFrame, queryName: String,
                  outputMode: OutputMode = OutputMode.Update): DataFrame = {
    val q = df.writeStream
      .format("memory")
      .queryName(queryName)
      .outputMode(outputMode)
      .start()
    q.processAllAvailable()
    q.stop()
    df.sparkSession.table(queryName)
  }
}
