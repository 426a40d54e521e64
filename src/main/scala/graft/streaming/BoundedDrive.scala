package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.streaming.{DataStreamWriter, OutputMode}
import org.apache.spark.sql.types.StructType

/** Shared bounded drivers for the streaming faces. Every bounded face
  * drives its query through [[drain]], which ALWAYS stops it — a
  * poisoned batch must not leak a live query holding the checkpoint. */
private[streaming] object BoundedDrive {

  /** Start `writer`, process everything available, stop in a finally. */
  def drain(writer: DataStreamWriter[_]): Unit = {
    val q = writer.start()
    try q.processAllAvailable()
    finally q.stop()
  }

  /** Read a drop-dir glob with an explicit schema, run the face's
    * transform and [[drain]] it into a memory sink named `queryName`;
    * returns the sink's table. */
  def run(spark: SparkSession, glob: String, queryName: String,
      schema: StructType, maxFilesPerTrigger: Option[Int])(
      toVerdicts: DataFrame => Dataset[_]): DataFrame = {
    val reader = spark.readStream.schema(schema)
    val stream = maxFilesPerTrigger
      .fold(reader)(n => reader.option("maxFilesPerTrigger", n))
      .parquet(glob)
    drain(toVerdicts(stream)
      .writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName(queryName))
    spark.table(queryName)
  }
}
