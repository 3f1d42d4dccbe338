package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.io.ForkFreeLocalFs
import graft.ops.Caches

/** How every graft streaming job starts: a checkpointed query whose
  * micro-batches each run `op` as a plain batch frame, with the batch id.
  *
  * Spark's default checkpoint manager writes the offsets, commits and
  * file-source logs (and state-store files) through Hadoop's `FileContext`.
  * On `file:` checkpoints without libhadoop, its stock `LocalFs` forks a
  * `chmod` per log file it creates and four `readlink`s per rename, five
  * processes per log entry. So before the start, unless the session or the
  * SparkContext's Hadoop conf already names one, this sets Hadoop's
  * `fs.AbstractFileSystem.file.impl` on the stream's session to
  * [[ForkFreeLocalFs]]. The checkpoint manager, its rename-with-overwrite
  * and the log formats stay Spark's; other schemes never read the key.
  */
object PerBatch {
  val LocalFsKey = "fs.AbstractFileSystem.file.impl"

  def start(stream: DataFrame, checkpoint: String, trigger: Trigger = Trigger.AvailableNow())
           (op: (DataFrame, Long) => Unit): StreamingQuery = {
    useForkFreeLocalFs(stream.sparkSession)
    stream.writeStream
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .foreachBatch(op)
      .start()
  }

  /** A running merge of per-batch cell tables, kept in the driver: each
    * batch's `cells` are merged into the state, the merged state is stored
    * cut from the batch's lineage ([[Caches.checkpoint]]) so that it
    * outlives its trigger, the previous round is released, and `emit` gets
    * the id of the last batch merged with the state. With no state yet (no
    * `initial`, nothing merged) `emit` gets `empty`.
    *
    * ==Restart contract==
    * The state lives in the driver, while `checkpoint` commits only source
    * offsets, so a restart loses it. A caller that needs a continuation
    * persists both values `emit` receives, atomically and latest-wins, and
    * passes them back as `initial` and `initialBatchId`. Offsets commit
    * after `emit` returns, so a crash after the snapshot landed replays that
    * batch. A batch whose id is not above the last merged one is not merged
    * again: `emit` repeats the unchanged state, so count and sum merges
    * stay exact across a replay. The jobs hand the state to its sink before
    * their output sink, so a failing output still leaves a snapshot that
    * holds the batch. A bare restart over the same checkpoint is a fold
    * since the restart.
    */
  def fold(stream: DataFrame, checkpoint: String, trigger: Trigger,
           initial: Option[DataFrame], initialBatchId: Long, empty: => DataFrame)
          (cells: DataFrame => DataFrame,
           merge: (DataFrame, DataFrame) => DataFrame,
           emit: (Long, DataFrame) => Unit): StreamingQuery = {
    // foreachBatch runs one trigger at a time, on the stream's own thread
    var state = initial
    var stored: Option[Caches.Checkpointed] = None
    var lastMerged = initialBatchId
    start(stream, checkpoint, trigger) { (batch, batchId) =>
      if (batchId > lastMerged) {
        val batchCells = cells(batch)
        val next = Caches.checkpoint(state.fold(batchCells)(merge(_, batchCells)))
        stored.foreach(_.release())
        stored = Some(next)
        state = Some(next.df)
        lastMerged = batchId
      }
      emit(lastMerged, state.getOrElse(empty))
    }
  }

  private def useForkFreeLocalFs(spark: SparkSession): Unit = {
    // Hadoop's own default comes from core-default.xml
    val inHadoopConf = Option(spark.sparkContext.hadoopConfiguration.getPropertySources(LocalFsKey))
      .exists(_.exists(_ != "core-default.xml"))
    if (spark.conf.getOption(LocalFsKey).isEmpty && !inHadoopConf)
      spark.conf.set(LocalFsKey, classOf[ForkFreeLocalFs].getName)
  }
}
