package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.ops.Dedup

/** Streaming face of the cross-source overlap sketch
  * ([[graft.ops.Dedup.sourceOverlapSketch]]): per-source minhash-union
  * signature cells are folded incrementally as documents arrive, and every
  * micro-batch emits the refreshed pairwise Jaccard estimate matrix.
  *
  * Why this composes exactly: the sketch state is (src, j, min-hash-v) and
  * elementwise min is associative/commutative, so folding per-batch cells
  * into the running state yields BIT-IDENTICAL state to a one-shot build
  * over the concatenated corpus (StreamingSpec pins stream == batch). This
  * is the textbook mergeable-summary contract — the same reason the batch
  * op can partial-aggregate per map task.
  *
  * Cost model at scale: each trigger pays one narrow signature pass over
  * its own increment plus a G×k-cell merge — the corpus is never rescanned
  * and the state never grows past G×k cells regardless of ingest volume.
  * (Contrast with the EXACT overlap matrix, whose distinct gram sets are
  * corpus-sized: that one is the nightly batch job; this one guards the
  * ingest window between rebuilds, like IncrementalDedupJob for dedup.)
  *
  * Input schema: (source, text). Output per trigger:
  * (src_a, src_b, jaccard_est).
  *
  * Restart: the [[PerBatch.fold]] contract. `cellsSink` receives the
  * G×k-cell (src, j, v) state; persist it latest-wins and pass it back as
  * `initialCells`. The min-merge is idempotent, so the snapshot needs no
  * batch id: a replayed batch merged again gives the same state.
  * StreamingSpec pins that kill → rehydrate → resume equals the
  * uninterrupted run.
  */
object SourceOverlapJob {

  def start(docs: DataFrame,
            outSink: DataFrame => Unit,
            checkpointDir: String,
            w: Int = 3,
            k: Int = 64,
            initialCells: Option[DataFrame] = None,
            cellsSink: Option[DataFrame => Unit] = None,
            trigger: Trigger = Trigger.AvailableNow())
           (implicit spark: SparkSession): StreamingQuery =
    PerBatch.fold(docs, checkpointDir, trigger, initialCells, Long.MinValue,
        spark.range(0).select(lit("").as("src"), lit(0).as("j"), lit(0L).as("v")))(
      Dedup.sourceSignatureCells(_, col("source"), col("text"), w, k),
      Dedup.mergeSignatureCells,
      (_, cells) => {
        cellsSink.foreach(_(cells))
        outSink(Dedup.overlapFromCells(cells, k))
      })
}
