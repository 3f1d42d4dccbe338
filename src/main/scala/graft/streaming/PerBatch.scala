package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.io.ForkFreeLocalFs

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

  private def useForkFreeLocalFs(spark: SparkSession): Unit = {
    // Hadoop's own default comes from core-default.xml
    val inHadoopConf = Option(spark.sparkContext.hadoopConfiguration.getPropertySources(LocalFsKey))
      .exists(_.exists(_ != "core-default.xml"))
    if (spark.conf.getOption(LocalFsKey).isEmpty && !inHadoopConf)
      spark.conf.set(LocalFsKey, classOf[ForkFreeLocalFs].getName)
  }
}
