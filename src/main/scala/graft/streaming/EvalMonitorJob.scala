package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.ops.Eval

/** Streaming face of the per-class confusion audit
  * ([[graft.ops.Eval.confusionStats]]): (prediction, gold) pairs arrive as
  * a stream — a deployed filter's routing decisions joined with delayed
  * human labels, a shadow classifier scored against the incumbent — and
  * every micro-batch emits the refreshed per-class
  * tp/fp/fn/precision/recall/F1 table over EVERYTHING seen so far. The
  * drift monitor: watch a class's precision decay live instead of at the
  * nightly rebuild.
  *
  * Why this composes exactly: the state is the (pred, gold, n) cell table
  * and integer counts sum across any partition of the corpus, so folding
  * per-batch cells into the running state is BIT-IDENTICAL to a one-shot
  * build over the concatenated stream (StreamingSpec pins stream ==
  * batch). Same mergeable-summary contract as [[SourceOverlapJob]].
  *
  * Cost model at scale: each trigger pays one partial-combined aggregate
  * over its own increment plus a C²-cell merge — the stream is never
  * rescanned and state never grows past C² cells (C = class count)
  * regardless of volume.
  *
  * Restart: the [[PerBatch.fold]] contract. `cellsSink` receives
  * `(batchId, cells)`; persist both and pass them back as `initialCells`
  * and `initialBatchId`.
  *
  * Input schema: (pred, gold). Output per trigger: the
  * [[graft.ops.Eval.confusionFromCells]] table.
  */
object EvalMonitorJob {

  def start(scored: DataFrame,
            outSink: DataFrame => Unit,
            checkpointDir: String,
            initialCells: Option[DataFrame] = None,
            initialBatchId: Long = Long.MinValue,
            cellsSink: Option[(Long, DataFrame) => Unit] = None,
            trigger: Trigger = Trigger.AvailableNow())
           (implicit spark: SparkSession): StreamingQuery =
    PerBatch.fold(scored, checkpointDir, trigger, initialCells, initialBatchId,
        spark.range(0).select(lit("").as("pred"), lit("").as("gold"), lit(0L).as("n")))(
      Eval.confusionCells(_, col("pred"), col("gold")),
      Eval.mergeConfusionCells,
      (id, cells) => {
        cellsSink.foreach(_(id, cells))
        outSink(Eval.confusionFromCells(cells))
      })
}
