package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.ops.Mix

/** Streaming face of DoReMi domain reweighting
  * ([[graft.ops.Mix.doremiWeights]]): (stratum, loss) rows arrive as a
  * stream — per-document proxy/reference-model losses scored at ingest —
  * and every micro-batch emits the refreshed mixture table
  * (stratum, n_docs, avg_loss, ref_loss, excess, alpha) over EVERYTHING
  * seen so far. The live data-recipe dial: watch a domain's α rise as its
  * excess loss accumulates, instead of waiting for the nightly rebuild.
  *
  * Why this composes exactly: the state is the G-row (stratum, n_docs, sl)
  * cell table and exact Long sums merge across any partition of the
  * stream, so folding per-batch cells is BIT-IDENTICAL to a one-shot
  * build over the concatenation (StreamingSpec pins stream == batch); the
  * exp/normalize assembly runs on the merged G rows per trigger. Same
  * mergeable-summary contract as [[EvalMonitorJob]].
  *
  * Cost model at scale: each trigger pays one partial-combined aggregate
  * over its own increment plus a G-cell merge — the stream is never
  * rescanned and state never grows past G cells (G = domain count).
  *
  * Restart: the [[PerBatch.fold]] contract, through `cellsSink`,
  * `initialCells` and `initialBatchId`.
  *
  * Input schema: (stratum, loss) with loss an exact integer (the
  * doremiWeights contract). Output per trigger: the doremiFromCells table.
  */
object MixtureMonitorJob {

  def start(scored: DataFrame,
            outSink: DataFrame => Unit,
            checkpointDir: String,
            eta: Double = 1.0,
            epsMille: Int = 100,
            initialCells: Option[DataFrame] = None,
            initialBatchId: Long = Long.MinValue,
            cellsSink: Option[(Long, DataFrame) => Unit] = None,
            trigger: Trigger = Trigger.AvailableNow())
           (implicit spark: SparkSession): StreamingQuery =
    PerBatch.fold(scored, checkpointDir, trigger, initialCells, initialBatchId,
        spark.range(0).select(lit("").as("stratum"), lit(0L).as("n_docs"), lit(0L).as("sl")))(
      Mix.lossCells(_, col("stratum"), col("loss")),
      Mix.mergeLossCells,
      (id, cells) => {
        cellsSink.foreach(_(id, cells))
        outSink(Mix.doremiFromCells(cells, eta, epsMille))
      })
}
