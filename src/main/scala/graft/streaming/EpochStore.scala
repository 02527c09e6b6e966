package graft.streaming

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{AnalysisException, DataFrame, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery

/** The crash-replay contract of every graft streaming operator, in one
  * place. Structured Streaming can crash BETWEEN a trigger's writes and
  * the checkpoint's offset commit, so the SAME batchId re-runs with the
  * same input. Two layouts make that replay idempotent:
  *
  *  - outputs own a `batch_id=N` dir per trigger and overwrite it;
  *  - state lives in an epoch-keyed store: trigger `N` reads the newest
  *    `epoch=M` with `M < N` ([[before]]) and overwrites `epoch=N`
  *    ([[write]]). A replay recomputes against the untouched `epoch=M`
  *    and rewrites its own epoch — no re-append, no double merge.
  *
  * Every operator writes its outputs first and its state last. After
  * `epoch=N` lands, only `M` is replay-reachable (a replay of `N` reads
  * it, never anything older), so [[write]] deletes every epoch below
  * `M`: a parquet store keeps at most 2 epochs, whatever the trigger
  * count.
  * Listing and deletes go through Hadoop `FileSystem`, so any store
  * path a parquet write accepts works.
  */
final case class EpochStore(path: String) {

  private def dir(epoch: Long): Path = new Path(path, s"epoch=$epoch")

  private def fileSystem(spark: SparkSession): FileSystem =
    new Path(path).getFileSystem(spark.sessionState.newHadoopConf())

  /** Epoch ids present in the store, ascending. */
  private[graft] def epochs(spark: SparkSession): Seq[Long] = {
    val root = new Path(path)
    val fs = fileSystem(spark)
    if (!fs.exists(root)) Nil
    else fs.listStatus(root).toSeq
      .filter(_.isDirectory)
      .flatMap(st => st.getPath.getName match {
        case n if n.startsWith("epoch=") => n.drop(6).toLongOption
        case _ => None
      })
      .sorted
  }

  private def newestBelow(spark: SparkSession, batchId: Long): Option[Long] =
    epochs(spark).filter(_ < batchId).lastOption

  /** The state a trigger with this `batchId` must consume: the newest
    * epoch strictly below it (a replayed trigger's own crashed
    * `epoch=batchId` write is thereby invisible to itself). None when no
    * prior epoch exists, or when it holds no parquet footer (a trigger
    * that wrote an empty frame) — the same "nothing yet" either way.
    */
  def before(spark: SparkSession, batchId: Long): Option[DataFrame] =
    newestBelow(spark, batchId).flatMap { m =>
      try Some(spark.read.parquet(dir(m).toString))
      catch { case _: AnalysisException => None }
    }

  /** The current (newest-epoch) state, if any trigger ran. */
  def latest(spark: SparkSession): Option[DataFrame] = before(spark, Long.MaxValue)

  /** Overwrite `epoch=batchId` with `df`, then collect the epochs no
    * replay can reach. */
  def write(df: DataFrame, batchId: Long): Unit = {
    df.write.mode("overwrite").parquet(dir(batchId).toString)
    collect(df.sparkSession, batchId)
  }

  /** [[before]] for a store whose epochs hold one binary file `name`. */
  private[graft] def bytesBefore(spark: SparkSession, batchId: Long,
      name: String): Option[Array[Byte]] =
    newestBelow(spark, batchId).map { m =>
      val in = fileSystem(spark).open(new Path(dir(m), name))
      try in.readAllBytes() finally in.close()
    }

  /** [[write]] for a store whose epochs hold one binary file `name`.
    * These epochs are NOT collected: a merged sketch (the Bloom dedup
    * filter) cannot be un-merged, so re-running ANY earlier trigger —
    * StreamingSpec's Bloom case replays trigger 1 after trigger 2 ran —
    * needs that trigger's own input epoch. Storage is one fixed-size
    * blob per trigger.
    */
  private[graft] def writeBytes(spark: SparkSession, bytes: Array[Byte],
      batchId: Long, name: String): Unit = {
    val out = fileSystem(spark).create(new Path(dir(batchId), name), true)
    try out.write(bytes) finally out.close()
  }

  private def collect(spark: SparkSession, batchId: Long): Unit = {
    val fs = fileSystem(spark)
    epochs(spark).filter(_ < batchId).dropRight(1)
      .foreach(e => fs.delete(dir(e), true))
  }
}

object EpochStore {

  /** Start `stream`, calling `trigger(batch, batchId)` once per
    * micro-batch — the one trigger runner every graft sink operator
    * uses. */
  def run(stream: DataFrame, checkpointPath: String)(
      trigger: (DataFrame, Long) => Unit): StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpointPath)
      .foreachBatch(trigger)
      .start()
}
