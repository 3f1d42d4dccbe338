package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.ops.Profile

/** Streaming face of the column profiler
  * ([[graft.ops.Profile.columnProfile]]): rows arrive as a stream and
  * every micro-batch emits the refreshed per-column profile (nulls,
  * distincts, dominant value + share) over EVERYTHING seen so far — the
  * live schema-health dashboard: watch a feed's null fraction jump or a
  * "mode collapse" (one value swallowing the column) the trigger it
  * happens, instead of at the nightly rebuild.
  *
  * Why this composes exactly: the state is the (column, value, m) cell
  * table and exact Long counts merge across any partition of the stream,
  * so folding per-batch cells is BIT-IDENTICAL to a one-shot build over
  * the concatenation (StreamingSpec pins stream == batch); the summary
  * assembly runs on the merged cells per trigger. Same mergeable-summary
  * contract as [[MixtureMonitorJob]] / [[EvalMonitorJob]].
  *
  * Cost model at scale: each trigger pays one partial-combined aggregate
  * over its own increment plus a cell merge. State is bounded by the
  * profiled columns' CARDINALITY — profile categorical/bounded columns
  * (the contract of any streaming mode/distinct state); a near-unique
  * key column would grow state linearly, exactly as it would grow any
  * COUNT(DISTINCT) state.
  *
  * Restart: the [[PerBatch.fold]] contract, through `cellsSink`,
  * `initialCells` and `initialBatchId`.
  */
object ProfileMonitorJob {

  def start(rows: DataFrame,
            cols: Seq[String],
            outSink: DataFrame => Unit,
            checkpointDir: String,
            initialCells: Option[DataFrame] = None,
            initialBatchId: Long = Long.MinValue,
            cellsSink: Option[(Long, DataFrame) => Unit] = None,
            trigger: Trigger = Trigger.AvailableNow())
           (implicit spark: SparkSession): StreamingQuery =
    PerBatch.fold(rows, checkpointDir, trigger, initialCells, initialBatchId,
        spark.range(0).select(lit("").as("column"), lit("").as("v"), lit(0L).as("m")))(
      Profile.profileCells(_, cols),
      Profile.mergeProfileCells,
      (id, cells) => {
        cellsSink.foreach(_(id, cells))
        outSink(Profile.profileFromCells(cells))
      })
}
