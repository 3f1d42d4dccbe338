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
  * ==Restart contract==
  * Same shape as [[SourceOverlapJob]] — state lives in the DRIVER while
  * `checkpointLocation` commits only source offsets — but with one count-
  * specific addition: because count merges are NOT idempotent, `cellsSink`
  * receives `(batchId, cells)` and callers must persist BOTH (atomically,
  * latest-wins). On restart, pass the stored snapshot as `initialCells`
  * and its batch id as `initialBatchId`: a crash that died after the
  * snapshot landed but before the offset committed will replay that batch,
  * and the id check turns the replayed merge into a no-op instead of a
  * double count. A bare restart (neither param, same checkpoint dir) is a
  * stats-since-restart job.
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
           (implicit spark: SparkSession): StreamingQuery = {
    // foreachBatch triggers run sequentially, so plain refs are race-free
    val cpRef =
      new java.util.concurrent.atomic.AtomicReference[graft.ops.Caches.Checkpointed](null)
    @volatile var init = initialCells // consumed by the first trigger
    // Retry guard: a sink failure makes Structured Streaming re-run the
    // SAME batch id, and count merges — unlike SourceOverlapJob's
    // idempotent elementwise-min — would double-count it. Merging each
    // batch id at most once makes the retry re-emit from unchanged state;
    // initialBatchId extends the guard across a JVM restart.
    @volatile var lastMerged = initialBatchId
    PerBatch.start(scored, checkpointDir, trigger) { (batch, batchId) =>
      if (batchId > lastMerged) {
        val batchCells = Eval.confusionCells(batch, col("pred"), col("gold"))
        val base = Option(cpRef.get()).map(_.df).orElse(init)
        val merged = base
          .map(st => Eval.mergeConfusionCells(st, batchCells))
          .getOrElse(batchCells)
        // C²-cell state, lineage-cut per trigger; round N released the
        // moment N+1 is stored (the Caches loop contract)
        val next = graft.ops.Caches.checkpoint(merged)
        val prev = cpRef.getAndSet(next)
        if (prev != null) prev.release()
        init = None
        lastMerged = batchId
      }
      // raw state first: offsets commit after foreachBatch returns, so a
      // crash in outSink replays the batch — the guard above keeps the
      // replayed merge a no-op, and the persisted snapshot (not an
      // increment) stays exact under latest-wins overwrite. The
      // rehydrated-skip path (guard fired on the very first batch) emits
      // straight from initialCells.
      val cur: DataFrame = Option(cpRef.get()).map(_.df).orElse(init)
        .getOrElse(spark.range(0).select(lit("").as("pred"),
          lit("").as("gold"), lit(0L).as("n")))
      cellsSink.foreach(sink => sink(lastMerged, cur))
      outSink(Eval.confusionFromCells(cur))
    }
  }
}
