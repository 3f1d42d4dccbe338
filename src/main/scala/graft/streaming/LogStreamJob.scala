package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.PipelineConfig
import graft.pipeline.LogPipeline

/** O1 + O15: the micro-batch driver. The reference's unit of work is one
  * Lambda invocation per ≤batch_size Kinesis records with at-least-once
  * redelivery (/root/reference/main.tf:56-62); here each micro-batch flows
  * through the same decode→parse→write chain under a checkpoint. Delivery is
  * exactly-once across clean stops and restarts. It stays at-least-once
  * across a crash: the batch appends files under fresh names, so a process
  * that dies after the write but before `commits/N` writes batch N again on
  * restart (SURVEY.md §2.1 O15).
  *
  * The source is abstracted as "any streaming DataFrame with a binary
  * `data` column" (SURVEY.md §7.1.6): a Kinesis connector, a file stream,
  * or MemoryStream in tests all satisfy it — connector availability is
  * environment-dependent and offline parity must stay testable.
  */
object LogStreamJob {

  /** Start the pipeline on a streaming frame of binary records. */
  def start(records: DataFrame, cfg: PipelineConfig, outRoot: String,
            checkpoint: String,
            trigger: Trigger = Trigger.AvailableNow(),
            dataCol: String = "data"): StreamingQuery = {
    PerBatch.start(records, checkpoint, trigger) { (batch, _) =>
      // one decode+parse pass, one dynamic-partition write for both routes
      LogPipeline.run(batch, cfg, outRoot, dataCol)
    }
  }

  /** File-source emulation of the Kinesis stream: each line of each file in
    * `inDir` is one record's payload bytes (the decode stage handles KPL /
    * gzip / CWL envelopes after this point when fed binary files).
    *
    * The reference's ESM knobs map onto source options: `batch_size`
    * (/root/reference/variables.tf:16-18) → maxFilesPerTrigger (per-batch
    * intake bound), `starting_position` (variables.tf:50-53) →
    * TRIM_HORIZON reads the backlog oldest-first, LATEST newest-first
    * (latestFirst — the file source still drains the backlog, which is the
    * closest offline analogue).
    */
  def startFromTextDir(spark: SparkSession, inDir: String, cfg: PipelineConfig,
                       outRoot: String, checkpoint: String,
                       maxFilesPerTrigger: Option[Int] = None,
                       startingPosition: String = "TRIM_HORIZON"): StreamingQuery = {
    import org.apache.spark.sql.functions._
    var reader = spark.readStream
      .option("latestFirst", (startingPosition.toUpperCase == "LATEST").toString)
    maxFilesPerTrigger.foreach(n => reader = reader.option("maxFilesPerTrigger", n))
    val lines = reader.text(inDir)
      .select(col("value").cast("binary").as("data"))
    start(lines, cfg, outRoot, checkpoint)
  }
}
