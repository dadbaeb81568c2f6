package graft.engine

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.core.{ExpressionValidator, TableMapping, TransferSpec}

/** Outcome of one table's transfer. */
sealed trait TransferOutcome
object TransferOutcome {
  case object Completed extends TransferOutcome
  case object SkippedComplete extends TransferOutcome
  /** Interrupted by cancel; checkpoint saved at the last finished chunk. */
  final case class Interrupted(chunksDone: Int) extends TransferOutcome
}

/** Cooperative cancellation shared by all table jobs (R8): the CLI wires
  * a JVM shutdown hook to `cancel()`; jobs observe it between chunks and
  * flush their checkpoint (reference: SIGINT → ctx cancel →
  * checkpoint-on-interrupt, `main.go:299-308`, `mysql.go:357-367`). */
class TransferControl {
  @volatile private var cancelled = false
  private val active = new java.util.concurrent.atomic.AtomicInteger(0)
  def cancel(): Unit = cancelled = true
  def isCancelled: Boolean = cancelled
  /** Jobs register while running so a shutdown hook can wait for their
    * checkpoint flush instead of sleeping a fixed grace period. */
  def jobStarted(): Unit = active.incrementAndGet()
  def jobFinished(): Unit = active.decrementAndGet()
  def activeJobs: Int = active.get()
}

object TransferControl {
  /** Control that cancels after `n` chunk-boundary checks — the
    * deterministic simulated kill used by resume tests and benchmarks. */
  def cancelAfterChecks(n: Int): TransferControl = new TransferControl {
    private val seen = new java.util.concurrent.atomic.AtomicInteger(0)
    override def isCancelled: Boolean = seen.incrementAndGet() > n
  }
}

/** One table's transfer: the reference's `migrateTable` pipeline
  * (`mysql.go:186-380`) re-expressed Spark-first.
  *
  * Pipeline: existence check (S7) → checkpoint load, skip-if-complete
  * (R6) → DDL mirror (S8: schema sidecar at the target) → transform
  * validation (P6) → chunked write loop with progress (R7), rate limit
  * (R2), retry (K5), checkpoint cadence (R4/R5), cancel checks (R8) →
  * completion marker.
  *
  * Chunking IS the keyset scan, distributed (SURVEY §4: "keyset
  * pagination → range-partitioned parallel read"): every key Spark can
  * order — numeric, string, date/timestamp, decimal, composite — is cut
  * into contiguous key ranges, chunk j being `key > bound(j-1) AND key
  * <= bound(j)` (the reference's resume predicate `pk > lastKey`,
  * `mysql.go:617-631`). A composite key compares lexicographically over
  * the whole tuple, in the expanded form `k1 > a OR (k1 = a AND k2 > b)`
  * the parquet reader can push down, so a low-cardinality leading column
  * still yields a full-width plan. The first chunk's only lower bound is
  * the resume cursor, if any, and the last chunk has no upper bound, so
  * every row lands in exactly one chunk whatever the bounds; bounds only
  * shape chunk balance. Each chunk is internally a parallel Spark job, so
  * "batch" granularity costs no serialism.
  *
  * Planning reads the source's own metadata, like the reference's
  * indexed-PK plan plus a `COUNT(*)` the database answers without
  * reading rows: [[ParquetFooters]] reads one footer per data file on
  * the driver, so no Spark job runs before the first wave. The footers
  * give the schema (when every file carries the same Spark schema; else
  * Spark infers it, one job), the row count, the key's NULL counts, and
  * — for a single signed INT32/INT64 key — the bounds themselves, from
  * per-row-group key min/max. Every other key, and every footer
  * fallback, is planned by ONE aggregate over the key columns only: the
  * exact max key tuple and a sorted Bernoulli sample of key tuples whose
  * size the chunk count sets. It runs only when a bound is used — a wave
  * that ends below the top, a cancel that flushes a partial wave, or the
  * completion cursor of a single numeric key — so a table that fits in
  * one wave runs no planning job. The footer bounds fall back for a row
  * group without key statistics or a null count and for row groups that
  * overlap on the key. The footers give no plan at all — the row and
  * NULL counts then come from one `count()` job — for a visible source
  * entry that is not a regular `.parquet` file, more files than
  * `spark.sql.sources.parallelPartitionDiscovery.threshold` (footers are
  * read serially), a row group without a key null count, or an extension
  * above a stored cursor. Each table logs the planner it used, with the
  * fallback reason.
  *
  * Bounds are applied to the SOURCE key, BEFORE column transformations
  * (like the reference, which paginates on the raw PK and transforms
  * only in the SELECT list, `mysql.go:599-631`) — a transform that
  * rewrites the PK column must not shift chunk membership. Bounds travel
  * as strings rendered by Spark itself (timestamps as epoch
  * microseconds, binary as hex), and back through a Spark cast, so the
  * driver never compares key values: 64-bit ids >= 2^53 keep every
  * digit, and a timestamp bound means the same instant in every session
  * time zone.
  *
  * The plan's bounds, the row total and the key identity live in the
  * checkpoint, which always records the bounds of the chunks still
  * ahead of it, so a resume continues the same plan by chunk index — no
  * re-plan, no re-count.
  *
  * Chunks are range-disjoint, so up to `chunk_parallelism` consecutive
  * chunks run as one [[Waves]] wave: one query over the wave's key range
  * writing `mode=overwrite` into ONE subdirectory,
  * `chunk-<first chunk index>`. The checkpoint only ever records a
  * fully-committed prefix and always lands on a wave's last chunk, so a
  * wave dir is either wholly at or below the checkpoint or wholly above
  * it; dirs above a crash's checkpoint are dropped by
  * `cleanupChunksAbove` on resume.
  *
  * 100 TB posture: no `.collect()` of data (only per-wave counts and
  * plan bounds reach the driver); chunk count is capped so checkpoint
  * cadence adapts upward with table size instead of producing millions of
  * tiny jobs; within a wave Spark parallelism is untouched.
  */
final class TableTransferJob(
    spark: SparkSession,
    spec: TransferSpec,
    table: TableMapping,
    control: TransferControl = new TransferControl,
    log: String => Unit = s => System.err.println(s"[transfer] $s"),
    sharedLimiter: Option[RateLimiter] = None) {
  import TableTransferJob.Key

  /** Process-wide rows/sec budget: one limiter shared by every table job
    * of a run (TransferRunner injects it); standalone jobs fall back to
    * their own. Matches the reference's GLOBAL limiter semantics
    * (`migration.go:212-268`) — without sharing, aggregate throughput
    * would be workers × rate_limit. */
  private val limiter: RateLimiter =
    sharedLimiter.getOrElse(new RateLimiter(spec.migration.rateLimit.toLong))

  private val mig = spec.migration
  private val kind = spec.source.kind
  private val srcFile = s"${spec.source.path}/${table.name}.parquet"
  private val destDir = s"${spec.destination.path}/${table.target}"
  private val maxChunks = ChunkSizing.maxChunks

  private def pkCols: Seq[String] =
    table.primaryKeyCols
      .orElse(graft.sources.Tables.primaryKeys.get(table.name))
      .getOrElse(sys.error(
        s"table '${table.name}' has no primary key configured — refusing " +
          "(reference rejects PK-less tables, mysql.go:216-218)"))

  /** Checkpoint identity scoped to SOURCE and DESTINATION: a table name
    * alone would let a complete marker from an earlier spec (different
    * destination path) silently skip this run, and a destination-only
    * scope would let a spec re-pointed at a DIFFERENT source resume an
    * old source's persisted plan — rows above that plan's max bound
    * would never transfer (ADVICE r4; same collision class fixed on the
    * live path by JdbcTransferJob.checkpointName). */
  private val cpName: String = TableTransferJob.checkpointName(spec, table)

  def run(): TransferOutcome = {
    // S7: existence check, loud failure like `mysql.go:200-207`
    require(Files.exists(Paths.get(srcFile)), s"source table not found: $srcFile")

    val cp0 = Checkpoint.load(mig.checkpointDir, kind, cpName)
    // A complete checkpoint skips (R6) — unless the mapping opted into
    // incremental sync (same contract as the live JDBC path): the
    // complete checkpoint becomes the BASE the delta extends.
    if (cp0.exists(_.complete) && !table.incremental) {
      log(s"${table.name}: checkpoint complete, skipping (R6)")
      return TransferOutcome.SkippedComplete
    }

    ExpressionValidator.validateAll(spark, table)

    val footers = ParquetFooters.read(srcFile, spark.sessionState.newHadoopConf(),
      spark.sessionState.conf.parallelPartitionDiscoveryThreshold)
    val source = footers.toOption.flatMap(_.schema)
      .fold(spark.read)(spark.read.schema).parquet(srcFile)
    // S8: DDL mirror — schema sidecar written once (CREATE TABLE IF NOT
    // EXISTS analog for a file destination; `mysql.go:254-274`).
    Files.createDirectories(Paths.get(destDir))
    val ddlPath = Paths.get(destDir, "_schema.ddl")
    if (!Files.exists(ddlPath))
      Files.writeString(ddlPath,
        ExpressionValidator.applyAll(source, table).schema.toDDL + "\n")
    // S9: Cassandra destinations also get the dependency migration DDL —
    // CREATE TYPE per reachable struct (innermost first) + the table DDL
    // referencing them (`cassandra.go:293-443`); a deployment executes
    // the statements in file order through its session.
    if (spec.destination.kind == "cassandra") {
      val cqlPath = Paths.get(destDir, "_cassandra.ddl")
      if (!Files.exists(cqlPath)) {
        val ks = if (spec.destination.database.nonEmpty)
          spec.destination.database else "graft"
        val schema = ExpressionValidator.applyAll(source, table).schema
        val stmts = graft.sinks.CassandraDdl.createTypeDdl(ks, table.target, schema) :+
          graft.sinks.CassandraDdl.createTableDdl(ks, table.target, schema, pkCols)
        Files.writeString(cqlPath, stmts.mkString(";\n") + ";\n")
      }
    }

    val pk = pkCols
    val types = pk.map(c => source.schema(c).dataType)
    val keyName = pk.mkString(", ")
    // the one key shape whose completion cursor an increment extends
    val numericKey = pk.size == 1 && types.head.isInstanceOf[NumericType]

    // Resume state. An incremental run over a COMPLETE checkpoint extends
    // a single numeric key above its completion cursor (`lastKey`, the
    // exact key max): the delta plans only `pk > cursor` and its chunk
    // dirs append after the published prefix. Every other key degrades to
    // a full idempotent re-transfer (chunk dirs wiped and rewritten) with
    // a log line instead of silently missing rows: VARCHAR and composite
    // rows can arrive anywhere in the key order. Append-only contract:
    // rows inserted at or below the old max are not re-read. An in-flight
    // checkpoint of an older format (v3 hash buckets, or a plan this
    // engine does not index the same way) restarts cleanly.
    val cp: Option[Checkpoint] = cp0 match {
      case Some(base) if base.complete && numericKey && base.lastKey.contains(pk.head) =>
        checkKey(base, pk)
        log(s"${table.name}: incremental — extending above the last synced key")
        Some(base.copy(complete = false, bounds = Nil, boundCols = Nil))
      case Some(base) if base.complete =>
        log(s"${table.name}: incremental over key ($keyName) degrades to a full " +
          "idempotent re-transfer (the parquet range cursor orders on a single " +
          "numeric key)")
        // The old COMPLETE state must not survive the wipe below: a
        // crash between cleanupChunksAbove(-1) and the re-transfer's
        // first checkpoint save would otherwise leave destroyed chunk
        // dirs shielded by complete+marker — R6 would skip the rerun
        // and pruneCompleted would trust it.
        Checkpoint.delete(mig.checkpointDir, kind, cpName)
        Files.deleteIfExists(Paths.get(destDir, "_GRAFT_COMPLETE"))
        None
      case Some(c) if c.version < Checkpoint.FormatVersion =>
        checkKey(c, pk)
        log(s"${table.name}: restarting — the in-flight checkpoint holds a v${c.version} " +
          s"${if (c.bucketCount > 0) "hash-bucket" else "range"} plan, which this " +
          "engine does not resume")
        Checkpoint.delete(mig.checkpointDir, kind, cpName)
        None
      case other =>
        other.foreach(checkKey(_, pk))
        other
    }

    // A crash can leave chunk dirs written AFTER the last checkpoint save
    // (cadence saves at-most-per-wave): on resume those ranges are
    // rewritten, so stale dirs above the checkpoint would duplicate rows.
    // Drop them first — checkpoint is truth. (With no checkpoint this
    // wipes every chunk dir and the rewrite starts clean.)
    cleanupChunksAbove(cp.map(_.chunkIndex).getOrElse(-1))
    val startChunk = cp.map(_.chunkIndex).getOrElse(-1) + 1
    // the upper bound of the last committed chunk
    val cursor: Option[Key] = cp.filter(_.lastKey.nonEmpty).map(c => pk.map(c.lastKey))
    val stored = cp.map(c => if (pk.size == 1) c.bounds.map(Seq(_)) else c.boundCols)
      .filter(_.nonEmpty)
    val rows = cursor.fold(source)(k => source.where(compare(pk, types, k, _ > _, _ > _)))

    val (total: Long, chunks: Int, eager: Option[Seq[Key]]) = stored match {
      case Some(b) =>
        log(s"${table.name}: planner checkpoint (stored plan)")
        (cp.get.totalRows, b.size, Some(b))
      case None =>
        // The footers plan a whole table; the rows above a stored cursor
        // (an incremental extension) are counted by Spark.
        val whole = footers.filterOrElse(_ => cursor.isEmpty, "extension above a stored cursor")
        val fromFooters = for {
          f <- whole
          _ <- Either.cond(pk.size == 1, (), s"key ($keyName) is composite")
          k <- f.keyStats(pk.head)
        } yield (f, k)
        logPlanner(fromFooters.map(_._1))
        val (n0, nulls) = fromFooters.toOption.map { case (_, k) => (k.rows, k.nulls) }
          .orElse(whole.toOption.flatMap(f => f.nulls(pk).map(f.rows -> _)))
          .getOrElse(countRows(rows, pk))
        // range predicates are null-rejecting, so NULL keys would be
        // silently dropped — refuse them, like the reference refuses
        // PK-less tables, mysql.go:216-218
        require(nulls == 0,
          s"table '${table.name}' has $nulls NULL values in key '$keyName' " +
            "— refusing (rows would be lost by range chunking)")
        if (n0 == 0) {
          // Incremental no-op: the on-disk state (complete checkpoint,
          // marker, publish layout, registration) is already exactly
          // right — running finish() would rewrite a partitioned
          // -final layout and drop/recreate the registered table on
          // every scheduled re-run that found nothing new.
          if (cursor.isDefined) {
            log(s"${table.name}: incremental — no rows above the last synced key")
            return TransferOutcome.Completed
          }
          // one empty wave, so the destination reads back as an empty
          // table with the source's columns
          writeWave(ExpressionValidator.applyAll(source, table).limit(0), startChunk)
          return finish(startChunk, None, 0L)
        }
        val n = chunkCount(n0)
        fromFooters match {
          case Right((_, k)) =>
            val b = ParquetFooters.rangeBounds(k.groups, n).map(v => Seq(v.toString))
            (n0, b.size, Some(b))
          // a single numeric key's completion cursor needs the plan
          case Left(_) if numericKey =>
            (n0, n, Some(sampledBounds(rows, pk, types, n0, n)))
          case Left(_) => (n0, n, None)
        }
    }
    var plan = eager
    def bounds: Seq[Key] = plan.getOrElse {
      val b = sampledBounds(rows, pk, types, total, chunks)
      plan = Some(b); b
    }
    // bound of this run's chunk j (j = -1: the resume cursor)
    def bound(j: Int): Option[Key] = if (j < 0) cursor else Some(bounds(j))
    // checkpoint through this run's chunk j, with the bounds still ahead
    def save(j: Int): Unit = {
      val ahead = plan.fold(Seq.empty[Key])(_.drop(j + 1))
      Checkpoint.save(mig.checkpointDir, kind, cpName, Checkpoint(
        keyMap(pk, bound(j)), System.currentTimeMillis(), complete = false,
        startChunk + j, bounds = if (pk.size == 1) ahead.map(_.head) else Nil,
        totalRows = total, boundCols = if (pk.size == 1) Nil else ahead, keyCols = pk))
    }
    // persist a plan computed up front so any resume continues it; a
    // sampled plan is persisted by the first checkpoint that uses it
    if (stored.isEmpty && plan.isDefined) save(-1)

    val waves = new Waves(mig, table.name, total, control, limiter, log)
    waves.run(chunks) { (f, l) =>
      // Both bounds on the SOURCE key, BEFORE transformation — a
      // transform targeting the PK column must not shift chunk
      // membership (ADVICE r2; reference paginates on the raw PK,
      // mysql.go:599-631). A wave ending at the last chunk takes
      // everything above its lower bound.
      val lo = bound(f - 1).map(compare(pk, types, _, _ > _, _ > _))
      val hi = if (l == chunks - 1) None else bound(l).map(compare(pk, types, _, _ <= _, _ < _))
      val wave = (lo ++ hi).reduceOption(_ && _).fold(source)(source.where)
      writeWave(ExpressionValidator.applyAll(wave, table), startChunk + f)
      // the last chunk's checkpoint is the completion save in finish()
    }(l => if (l < chunks - 1) save(l)) match {
      case Some(k) =>
        log(s"${table.name}: interrupted, checkpoint at chunk ${startChunk + k - 1}")
        TransferOutcome.Interrupted(k)
      case None =>
        log(waves.stats.report())
        finish(startChunk + chunks - 1, plan.map(_.last), total)
    }
  }

  /** The one log line naming a table's planner. */
  private def logPlanner(planner: Either[String, ParquetFooters.Footers]): Unit =
    log(s"${table.name}: planner " + planner.fold(reason => s"aggregate: $reason",
      f => s"footers (${f.files} files, ${f.rowGroups} row groups)"))

  /** Chunk membership is a function of the key: resuming a plan computed
    * over a different key remaps chunks and silently loses or duplicates
    * rows. v3+ checkpoints carry the plan's key identity; older files
    * name their key through the resume cursor's columns. Refuse any
    * mismatch outright. */
  private def checkKey(c: Checkpoint, pk: Seq[String]): Unit =
    if (c.keyCols.nonEmpty)
      require(c.keyCols.map(_.toLowerCase) == pk.map(_.toLowerCase),
        s"checkpoint for '${table.name}' was planned over key " +
          s"(${c.keyCols.mkString(", ")}) but the spec now keys on " +
          s"(${pk.mkString(", ")}) — clear the checkpoint to restart")
    else
      require(c.lastKey.keySet.subsetOf(pk.toSet),
        s"checkpoint for '${table.name}' stores a resume cursor for key " +
          s"(${c.lastKey.keys.mkString(", ")}) but the spec now keys on " +
          s"(${pk.mkString(", ")}) — clear the checkpoint to restart")

  private def cleanupChunksAbove(idx: Int): Unit = {
    val d = new java.io.File(destDir)
    Option(d.listFiles()).getOrElse(Array.empty).foreach { f =>
      if (f.isDirectory && f.getName.startsWith("chunk-") &&
          f.getName.stripPrefix("chunk-").toIntOption.exists(_ > idx))
        graft.util.Fs.deleteRecursive(f)
    }
  }

  private def chunkCount(total: Long): Int =
    ChunkSizing.chunkCount(total, mig.batchSize, mig.checkpointRowThreshold)

  /** Rows to plan and their NULL keys (a NULL in any key column), in one
    * job — the plan's row count when the footers cannot give it. */
  private def countRows(rows: DataFrame, pk: Seq[String]): (Long, Long) = {
    val r = rows.agg(count(lit(1)),
      count(when(pk.map(col(_).isNull).reduce(_ || _), 1))).head()
    (r.getLong(0), r.getLong(1))
  }

  /** The planning aggregate, over the key columns of `rows` only: the
    * exact max key tuple and a sorted Bernoulli sample of key tuples,
    * [[TableTransferJob.SamplePerChunk]] per chunk whatever the table's
    * size. Bound j of n is the sample's j/n point; the last is the exact
    * max. Bounds never decrease, and an equal pair only leaves a chunk
    * empty. */
  private def sampledBounds(rows: DataFrame, pk: Seq[String], types: Seq[DataType],
                            total: Long, n: Int): Seq[Key] = {
    def encode(t: Column): Column = array(pk.zip(types).map { case (c, dt) =>
      TableTransferJob.encode(t.getField(c), dt)
    }: _*)
    val fraction = math.min(1.0, TableTransferJob.SamplePerChunk.toDouble * n / total)
    val r = rows.select(struct(pk.map(col): _*).as("k"), (rand(0) < fraction).as("s"))
      .agg(encode(max(col("k"))),
        transform(array_sort(collect_list(when(col("s"), col("k")))), encode(_))).head()
    val top = r.getSeq[String](0).toSeq
    val sample = r.getSeq[collection.Seq[String]](1).map(_.toSeq)
    (1 until n).map { j =>
      if (sample.isEmpty) top else sample((j * sample.size + n - 1) / n - 1)
    } :+ top
  }

  /** `key > k` (`_ > _, _ > _`) or `key <= k` (`_ <= _, _ < _`) over
    * the key tuple, lexicographic, in the expanded form the parquet
    * reader pushes down: `k1 > a OR (k1 = a AND k2 > b)`. */
  private def compare(pk: Seq[String], types: Seq[DataType], k: Key,
                      last: (Column, Column) => Column,
                      step: (Column, Column) => Column): Column = {
    val cs = pk.zip(types).zip(k).map { case ((c, dt), v) =>
      (col(c), TableTransferJob.decode(v, dt))
    }
    cs.init.foldRight(last(cs.last._1, cs.last._2)) { case ((c, v), rest) =>
      step(c, v) || (c === v && rest)
    }
  }

  private def keyMap(pk: Seq[String], k: Option[Key]): Map[String, String] =
    k.fold(Map.empty[String, String])(pk.zip(_).toMap)

  /** Idempotent wave write into `chunk-<idx>` (idx = the wave's first
    * chunk) with retry; returns rows written. The count rides the write
    * itself via `observe` — no caching, no second scan (a cache would
    * materialize the whole wave into executor storage, which does not
    * survive the 100 TB posture). */
  private def writeWave(wave: DataFrame, idx: Int): Long = {
    val dir = f"$destDir/chunk-$idx%05d"
    Retry(attempts = 3, delayMs = 1000,
      onError = (i, e) => log(s"${table.name}: wave $idx attempt $i failed: ${e.getMessage}")) {
      val obs = org.apache.spark.sql.Observation(f"chunk-$idx%05d-${System.nanoTime()}")
      wave.observe(obs, count(lit(1)).as("rows"))
        .write.mode("overwrite").parquet(dir)
      obs.get("rows").asInstanceOf[Long]
    }
  }

  private def finish(lastChunk: Int, lastKey: Option[Key],
                     totalRows: Long): TransferOutcome = {
    val hasChunks = Option(new java.io.File(destDir).listFiles())
      .getOrElse(Array.empty).exists(f => f.isDirectory && f.getName.startsWith("chunk-"))
    // Publish step: when the spec asks for a partitioned target layout,
    // rewrite the chunk dirs into hive-style partitions once, at the end
    // (a one-time full pass — partition values can span chunks, so
    // per-chunk dynamic overwrite would clobber earlier chunks). An
    // EMPTY table has no chunk dirs (and no schema to publish) — skip.
    if (table.partitionBy.nonEmpty && hasChunks) {
      spark.read.option("recursiveFileLookup", "true").parquet(destDir)
        .write.mode("overwrite").partitionBy(table.partitionBy: _*)
        .parquet(s"$destDir-final")
    }
    // a '-final' dir left by an EARLIER partitioned run would shadow the
    // fresh chunk dirs in readTarget — drop it whenever this run did not
    // publish one, INCLUDING a partitioned spec over a now-empty source
    // (hasChunks=false skips the publish above; the stale dir would keep
    // serving the previous run's rows, ADVICE r4)
    if (table.partitionBy.isEmpty || !hasChunks)
      graft.util.Fs.deleteRecursive(new java.io.File(s"$destDir-final"))
    // S8, catalog half: the reference EXECUTES `CREATE TABLE IF NOT
    // EXISTS` at the destination (`mysql.go:254-274`); the session-
    // catalog analog makes the target queryable by name. External
    // table, so dropping it never deletes the transferred data.
    // Partitioned layouts point at the published dir (hive-style
    // partition discovery); chunked layouts need the recursive lookup.
    if (table.registerTable && hasChunks) {
      val (loc, opts) =
        if (table.partitionBy.nonEmpty) (s"$destDir-final", "")
        else (destDir, ", recursiveFileLookup 'true'")
      // Drop-then-create (v1 session catalog has no REPLACE TABLE): a
      // stale registration from an earlier run would silently keep
      // pointing at the OLD destination/layout (ADVICE r3). Only an
      // EXTERNAL table may be replaced — our own registrations are
      // external, so the drop never touches data; a same-named MANAGED
      // table or view belongs to someone else, and dropping a managed
      // table would DELETE its warehouse files. BOTH interpolants are
      // escaped: a quote in the path and a backtick in the target name
      // must not break out of their quoting (an unescaped backtick
      // terminates the identifier early — parse error at best,
      // statement injection at worst).
      val ident = s"`${TableTransferJob.escapeIdent(table.target)}`"
      if (spark.catalog.tableExists(table.target)) {
        val isExternal = spark.sql(s"DESCRIBE TABLE EXTENDED $ident")
          .where(col("col_name") === "Type")
          .collect().headOption.exists(_.getString(1).toUpperCase.contains("EXTERNAL"))
        require(isExternal,
          s"refusing to replace '${table.target}': the existing catalog entry " +
            "is not an external table registered by a transfer (dropping a " +
            "managed table would delete its data)")
        spark.sql(s"DROP TABLE $ident")
      }
      val escaped = loc.replace("'", "''")
      spark.sql(s"CREATE TABLE $ident USING parquet " +
        s"OPTIONS (path '$escaped'$opts)")
    }
    Checkpoint.save(mig.checkpointDir, kind, cpName,
      Checkpoint(keyMap(pkCols, lastKey), System.currentTimeMillis(),
        complete = true, lastChunk, totalRows = totalRows, keyCols = pkCols))
    Files.writeString(Paths.get(destDir, "_GRAFT_COMPLETE"), "")
    TransferOutcome.Completed
  }
}

object TableTransferJob {
  /** A key tuple, one Spark-rendered string per key column
    * ([[encode]]). */
  private type Key = Seq[String]

  /** Sampled key tuples per planned chunk. */
  private val SamplePerChunk = 32

  /** A key value as the string a checkpoint stores: Spark's own cast,
    * except timestamps (epoch microseconds: a rendered local time would
    * depend on the session time zone) and binary (hex). [[decode]]
    * inverts it exactly. */
  private def encode(c: Column, dt: DataType): Column = dt match {
    case TimestampType => unix_micros(c).cast(StringType)
    case BinaryType => hex(c)
    case _ => c.cast(StringType)
  }

  /** The key literal a stored string stands for. */
  private def decode(v: String, dt: DataType): Column = dt match {
    case TimestampType => timestamp_micros(lit(v.toLong))
    case BinaryType => unhex(lit(v))
    case _ => lit(v).cast(dt)
  }

  /** Escape a Spark SQL backtick-quoted identifier: backticks double
    * (the identifier analog of `''` in string literals). */
  private[graft] def escapeIdent(name: String): String =
    name.replace("`", "``")

  /** Source+destination-scoped checkpoint identity (see the field note). */
  def checkpointName(spec: TransferSpec, table: TableMapping): String = {
    val id = java.security.MessageDigest.getInstance("MD5")
      .digest(s"${spec.source.path} ${spec.destination.path} ${table.target}"
        .getBytes("UTF-8"))
      .take(4).map("%02x".format(_)).mkString
    s"${table.name}_$id"
  }

  /** Artifact GC for a COMPLETED transfer (CLI `--prune-completed`,
    * VERDICT r5 #7): completed runs otherwise leave checkpoint JSONs —
    * and, for partitioned targets, intermediate chunk dirs — forever;
    * at 100× tables the checkpoint dir is its own small-files problem.
    *
    * Deletes the per-table checkpoint file, plus the chunk dirs when a
    * partitioned `-final` publish layout serves reads (for chunked
    * layouts the chunk dirs ARE the data and stay). Refuses (returns
    * false) unless BOTH the checkpoint says complete AND the
    * destination carries `_GRAFT_COMPLETE` — pruning an in-flight
    * table would destroy its resume point. A pruned table simply
    * re-transfers from scratch on the next run (chunk overwrite +
    * `cleanupChunksAbove(-1)` make that clean). */
  def pruneCompleted(spec: TransferSpec, table: TableMapping,
                     log: String => Unit = _ => ()): Boolean = {
    val mig = spec.migration
    val cpName = checkpointName(spec, table)
    val destDir = s"${spec.destination.path}/${table.target}"
    val cp = Checkpoint.load(mig.checkpointDir, spec.source.kind, cpName)
    val marker = Files.exists(Paths.get(destDir, "_GRAFT_COMPLETE"))
    if (!cp.exists(_.complete) || !marker) {
      log(s"${table.name}: not pruned (transfer not verifiably complete)")
      return false
    }
    if (table.partitionBy.nonEmpty &&
        Files.isDirectory(Paths.get(s"$destDir-final"))) {
      Option(new java.io.File(destDir).listFiles()).getOrElse(Array.empty)
        .filter(f => f.isDirectory && f.getName.startsWith("chunk-"))
        .foreach(graft.util.Fs.deleteRecursive)
      log(s"${table.name}: pruned intermediate chunk dirs " +
        s"(reads serve from ${table.target}-final)")
    }
    Checkpoint.delete(mig.checkpointDir, spec.source.kind, cpName)
    log(s"${table.name}: pruned checkpoint")
    true
  }

  /** Read a transferred table back: the partitioned publish layout when
    * present, else the chunk dirs. */
  def readTarget(spark: SparkSession, spec: TransferSpec, target: String): DataFrame = {
    val finalDir = s"${spec.destination.path}/$target-final"
    if (Files.exists(Paths.get(finalDir))) spark.read.parquet(finalDir)
    else spark.read.option("recursiveFileLookup", "true")
      .parquet(s"${spec.destination.path}/$target")
  }
}
