package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** O1 + O2: the Kinesis-record source boundary.
  *
  * The reference consumes `event["Records"]` from the Lambda/Kinesis event
  * envelope (/root/reference/lambda/main.py:39-41; fixture F1), where each
  * record's `kinesis.data` is base64. A real deployment would use a Kinesis
  * connector delivering binary `data` directly; this source parses the
  * Lambda-event JSON form so offline replays of captured events run through
  * the identical downstream pipeline (SURVEY.md §7.1.6: keep the source
  * behind a thin seam so parity is testable without AWS).
  *
  * Output schema: partition_key, sequence_number, arrival_ts, data(binary) —
  * `data` feeds LogPipeline.decode/run.
  */
object KinesisEventSource {

  // only the fields the output reads: nested-schema pruning does not reach
  // a from_json inside an explode, so every listed field is built per record
  val recordSchema: StructType = new StructType()
    .add("kinesis", new StructType()
      .add("partitionKey", StringType)
      .add("sequenceNumber", StringType)
      .add("data", StringType)
      .add("approximateArrivalTimestamp", DoubleType))

  val eventSchema: StructType = new StructType()
    .add("Records", ArrayType(recordSchema))

  /** One Lambda event JSON per input row (column `value`) → one row per
    * Kinesis record with the payload base64-decoded (O2: unbase64).
    */
  def fromLambdaEvents(events: DataFrame, valueCol: String = "value"): DataFrame =
    events
      // from_json stays inside the explode: projected on its own it would
      // bring the Generate into whole-stage codegen, but copying each parsed
      // event into an unsafe row costs more than the interpreted Generate
      .select(explode(from_json(col(valueCol), eventSchema).getField("Records")).as("r"))
      // unbase64 is null only on null text: a test on `data` would be pushed
      // under the projection and decode every record twice
      .filter(col("r.kinesis.data").isNotNull)
      .select(
        col("r.kinesis.partitionKey").as("partition_key"),
        col("r.kinesis.sequenceNumber").as("sequence_number"),
        timestamp_seconds(col("r.kinesis.approximateArrivalTimestamp")).as("arrival_ts"),
        unbase64(col("r.kinesis.data")).as("data"))

  /** Batch read of a directory/file of Lambda event JSON (one event per line). */
  def readLambdaEventFile(spark: SparkSession, path: String): DataFrame =
    fromLambdaEvents(spark.read.text(path))

  /** Streaming read of a directory of Lambda event JSON files — the offline
    * stand-in for the Kinesis connector's micro-batches.
    */
  def streamLambdaEventDir(spark: SparkSession, dir: String): DataFrame =
    fromLambdaEvents(spark.readStream.text(dir))
}
