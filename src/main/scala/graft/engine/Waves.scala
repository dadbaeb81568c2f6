package graft.engine

import graft.core.MigrationSpec

/** Chunk sizing shared by the parquet and live JDBC engines — ONE
  * definition of the contract: at most [[maxChunks]] chunks per table
  * (checkpoint cadence scales with table size instead of emitting
  * millions of tiny jobs), floored at the configured batch size /
  * checkpoint threshold. */
private[graft] object ChunkSizing {
  val maxChunks = 256
  def chunkRows(total: Long, batchSize: Int, rowThreshold: Int): Long = {
    val base = math.max(batchSize.toLong, rowThreshold.toLong)
    math.max(base, math.ceil(total.toDouble / maxChunks).toLong)
  }
  def chunkCount(total: Long, batchSize: Int, rowThreshold: Int): Int =
    math.max(1, math.min(maxChunks, math.ceil(
      total.toDouble / chunkRows(total, batchSize, rowThreshold)).toInt))
}

/** The chunk loop of both engines ([[TableTransferJob]],
  * [[JdbcTransferJob]]): plan chunks run in WAVES — the next up to
  * `chunk_parallelism` chunks that passed their cancel check, written by
  * ONE Spark query. A Spark query's fixed cost (planning, job submit,
  * task launch) dominates a chunk's data work, so a wave of k chunks
  * costs about what one chunk alone costs; within the query Spark
  * parallelism is untouched.
  *
  * Checkpoints only ever record a fully-committed prefix: a wave
  * commits before the checkpoint may advance to its last chunk, so at
  * most `chunk_parallelism` chunks are ever uncommitted. On cancel, the
  * partly assembled wave is flushed and the checkpoint saved at the last
  * chunk that passed its check — `cancelAfterChecks(k)` leaves it at
  * chunk `k − 1` whatever the wave width.
  *
  * Per wave, on the table thread: progress stats, checkpoint cadence
  * ([[CheckpointPolicy]]), then the rate-limit charge (the checkpoint is
  * saved BEFORE the limiter sleeps, so a kill during the sleep loses no
  * committed wave), then a progress line when the interval elapsed.
  */
private[engine] final class Waves(mig: MigrationSpec, table: String,
                                  totalRows: Long, control: TransferControl,
                                  limiter: RateLimiter, log: String => Unit) {
  val stats = new ProgressStats(table, totalRows)
  private val policy = new CheckpointPolicy(mig.checkpointRowThreshold.toLong,
    mig.checkpointIntervalSec * 1000L)
  private val width = math.max(1, mig.chunkParallelism)
  private var lastReport = System.currentTimeMillis()

  /** Runs this run's plan chunks `0 until n` (indices relative to its
    * first chunk). `write(first, last)` writes chunks `first..last` as one
    * query and returns the rows written; `save(last)` checkpoints through
    * chunk `last` (-1 = before this run's first chunk). Returns
    * `Some(k)` when cancelled after `k` chunks passed their check, `None`
    * when every chunk committed. */
  def run(n: Int)(write: (Int, Int) => Long)(save: Int => Unit): Option[Int] = {
    var first = 0 // first chunk of the wave being assembled
    var i = 0     // chunks that passed their cancel check
    while (i < n) {
      if (control.isCancelled) {
        if (i > first) stats.add(write(first, i - 1))
        save(i - 1)
        return Some(i)
      }
      i += 1
      if (i - first == width || i == n) {
        val rows = write(first, i - 1)
        stats.add(rows)
        if (policy.observe(rows)) save(i - 1)
        limiter.acquire(rows)
        if (System.currentTimeMillis() - lastReport >= mig.progressIntervalSec * 1000L) {
          log(stats.report()); lastReport = System.currentTimeMillis()
        }
        first = i
      }
    }
    None
  }
}
