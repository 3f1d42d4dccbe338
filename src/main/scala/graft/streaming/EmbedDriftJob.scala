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
  * Restart: the [[PerBatch.fold]] contract, through `momentsSink`,
  * `initialMoments` and `initialBatchId`.
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
           (implicit spark: SparkSession): StreamingQuery =
    PerBatch.fold(emb, checkpointDir, trigger, initialMoments, initialBatchId,
        spark.range(0).selectExpr("0 as i", "0 as j", "cast(0 as long) as n",
          "cast(0 as long) as s_ij", "cast(0 as long) as s_i", "cast(0 as long) as s_j"))(
      LinAlg.secondMoments(_, vecCol, dim, scale),
      LinAlg.mergeMoments,
      (id, moments) => {
        momentsSink.foreach(_(id, moments))
        outSink(LinAlg.covarianceFromMoments(moments))
      })
}
