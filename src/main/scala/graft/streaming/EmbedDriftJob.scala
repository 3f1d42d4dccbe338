package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.ops.LinAlg

/** Streaming face of the exact embedding-covariance audit
  * ([[graft.ops.LinAlg.embedCovariance]]): embedding vectors arrive as a
  * stream — a live ingest's encoder output, a shadow encoder being
  * compared against production — and every micro-batch emits the
  * refreshed covariance matrix over EVERYTHING seen so far. The
  * embedding-distribution drift monitor: watch the per-dimension
  * variances (diagonal) and cross-dimension structure move live; a
  * collapsing trace or a rotating dominant axis is an encoder regression
  * you want at ingest time, not at the nightly rebuild.
  *
  * Why this composes exactly: the state is the (i, j) integer moments
  * table and integer sums merge across any split of the corpus, so
  * folding per-batch moments is BIT-IDENTICAL to a one-shot pass over the
  * concatenated stream (StreamingSpec pins stream == batch). Each
  * trigger pays ONE GramMatrix aggregate over its own increment plus a
  * dim²-row merge; the stream is never rescanned and state never grows
  * past dim·(dim+1)/2 rows regardless of volume.
  *
  * ==Restart contract==
  * Identical to [[EvalMonitorJob]] (count-like sums are NOT
  * retry-idempotent): `momentsSink` receives `(batchId, moments)`;
  * persist both atomically (latest-wins), rehydrate via `initialMoments`
  * + `initialBatchId`, and a replayed batch's merge becomes a no-op
  * instead of a double count.
  *
  * Input schema: an embedding column named by `vecCol`. Output per
  * trigger: the [[graft.ops.LinAlg.covarianceFromMoments]] table.
  */
object EmbedDriftJob {

  def start(emb: DataFrame,
            outSink: DataFrame => Unit,
            checkpointDir: String,
            vecCol: String = "embedding",
            dim: Int = 64,
            scale: Int = 1000,
            initialMoments: Option[DataFrame] = None,
            initialBatchId: Long = Long.MinValue,
            momentsSink: Option[(Long, DataFrame) => Unit] = None,
            trigger: Trigger = Trigger.AvailableNow())
           (implicit spark: SparkSession): StreamingQuery = {
    // foreachBatch triggers run sequentially, so plain refs are race-free
    val cpRef =
      new java.util.concurrent.atomic.AtomicReference[graft.ops.Caches.Checkpointed](null)
    @volatile var init = initialMoments // consumed by the first trigger
    @volatile var lastMerged = initialBatchId
    PerBatch.start(emb, checkpointDir, trigger) { (batch, batchId) =>
      if (batchId > lastMerged) {
        val batchMoments = LinAlg.secondMoments(batch, vecCol, dim, scale)
        val base = Option(cpRef.get()).map(_.df).orElse(init)
        val merged = base
          .map(st => LinAlg.mergeMoments(st, batchMoments))
          .getOrElse(batchMoments)
        // dim²-row state, lineage-cut per trigger; round N released the
        // moment N+1 is stored (the Caches loop contract)
        val next = graft.ops.Caches.checkpoint(merged)
        val prev = cpRef.getAndSet(next)
        if (prev != null) prev.release()
        init = None
        lastMerged = batchId
      }
      val cur: DataFrame = Option(cpRef.get()).map(_.df).orElse(init)
        .getOrElse(spark.range(0).selectExpr("0 as i", "0 as j",
          "cast(0 as long) as n", "cast(0 as long) as s_ij",
          "cast(0 as long) as s_i", "cast(0 as long) as s_j"))
      momentsSink.foreach(sink => sink(lastMerged, cur))
      outSink(LinAlg.covarianceFromMoments(cur))
    }
  }
}
