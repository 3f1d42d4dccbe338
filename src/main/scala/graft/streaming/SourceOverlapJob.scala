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
  * ==Restart contract==
  * The sketch state lives in the DRIVER (a [[graft.ops.Caches.Checkpointed]]
  * ref), while `checkpointLocation` commits only SOURCE OFFSETS. After a
  * restart, Spark will NOT replay batches it already committed — but the
  * driver-side state is gone — so a bare restart silently loses all
  * pre-restart mass. Callers that need restart durability MUST close the
  * loop themselves: pass `cellsSink` and persist the raw (src, j, v) state
  * it receives each trigger (it is tiny — G×k cells — and elementwise-min
  * mergeable, so overwriting with the latest snapshot is always safe),
  * then rehydrate via `initialCells` on the next `start`. Restarting with
  * neither `initialCells` nor a FRESH `checkpointDir` is an
  * estimates-since-restart job, not a continuation. StreamingSpec pins
  * that kill → rehydrate → resume equals the uninterrupted run.
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
           (implicit spark: SparkSession): StreamingQuery = {
    // foreachBatch triggers run sequentially, so plain refs are race-free
    val cpRef =
      new java.util.concurrent.atomic.AtomicReference[graft.ops.Caches.Checkpointed](null)
    @volatile var init = initialCells // consumed by the first trigger
    PerBatch.start(docs, checkpointDir, trigger) { (batch, _) =>
      val batchCells = Dedup.sourceSignatureCells(
        batch, col("source"), col("text"), w, k)
      val base = Option(cpRef.get()).map(_.df).orElse(init)
      val merged = base
        .map(st => Dedup.mergeSignatureCells(st, batchCells))
        .getOrElse(batchCells)
      // materialize the G×k-cell state eagerly and cut it from the
      // batch's lineage: a foreachBatch frame is only valid inside its
      // own trigger, and the state must outlive it. Round N's blocks are
      // released the moment round N+1 is stored (the Caches loop
      // contract), so in-flight cache stays ONE G×k table deep.
      val next = graft.ops.Caches.checkpoint(merged)
      val prev = cpRef.getAndSet(next)
      if (prev != null) prev.release()
      init = None
      // raw state first: if outSink throws, the caller still has the
      // snapshot that includes this batch (offsets commit after
      // foreachBatch returns, so a crash here replays the batch — min
      // re-merge is idempotent)
      cellsSink.foreach(sink => sink(next.df))
      outSink(Dedup.overlapFromCells(next.df, k))
    }
  }
}
