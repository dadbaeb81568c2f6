package graft.engine

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
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
  * pagination → range-partitioned parallel read"):
  *  - numeric PK → range chunks over the *remaining* rows (`WHERE pk >
  *    lastKey`, exactly the reference's resume predicate
  *    `mysql.go:617-631`); each chunk is internally a parallel Spark
  *    job, so "batch" granularity costs no serialism;
  *  - non-numeric PK → deterministic hash buckets (`pmod(hash(pk), n)`),
  *    the Cassandra token-range analog (S4, `cassandra.go:1066-1142`);
  *    the bucket count is PERSISTED in the checkpoint and reused on
  *    resume — recomputing it from a changed row count or config would
  *    remap `pmod(hash(pk), n)` and silently lose or duplicate rows.
  *
  * Planning reads the source's own metadata, like the reference's
  * indexed-PK plan plus a `COUNT(*)` the database answers without
  * reading rows: [[ParquetFooters]] reads one footer per data file on
  * the driver, so no Spark job runs before the first wave. The footers
  * give the schema (when every file carries the same Spark schema; else
  * Spark infers it, one job), the hash path's row count, and the range
  * path's bounds from per-row-group key min/max/null counts. The Spark
  * planners stay as the fallback — a `source.count()` for hash buckets,
  * one aggregate (row count, exact max, NULL probe, approximate
  * quantiles) for ranges — whenever the footers cannot plan: a key that
  * is not a signed INT32/INT64 column, a row group without key
  * statistics or a null count, row groups that overlap on the key, a
  * visible source entry that is not a regular `.parquet` file, more
  * files than `spark.sql.sources.parallelPartitionDiscovery.threshold`
  * (footers are read serially), or an extension above a stored cursor.
  * Each table logs the planner it used, with the fallback reason.
  *
  * Both range bounds are applied to the SOURCE key, BEFORE column
  * transformations (like the reference, which paginates on the raw PK
  * and transforms only in the SELECT list, `mysql.go:599-631`) — a
  * transform that rewrites the PK column must not shift chunk membership.
  * Integral keys are chunked and checkpointed in their own domain
  * (Long/Decimal), never through Double: snowflake-scale ids >= 2^53
  * would round, and a rounded-down resume bound re-transfers rows.
  *
  * Chunks are range-disjoint, so up to `chunk_parallelism` consecutive
  * chunks run as one [[Waves]] wave: one query over the wave's key range
  * (or bucket range) writing `mode=overwrite` into ONE subdirectory,
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
    val incBase = if (table.incremental) cp0.filter(_.complete) else None
    if (cp0.exists(_.complete) && incBase.isEmpty) {
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
    val firstPk = pk.head
    val srcNumericPk = source.schema(firstPk).dataType.isInstanceOf[NumericType]

    // Incremental extension: the range path's resume cursor (`lastKey`,
    // the exact key max at completion) already makes the planner chunk
    // only `pk > cursor` — so extending a COMPLETE range checkpoint is
    // exactly "strip the complete flag": the delta plans above the old
    // max and its chunk dirs append after the published prefix. The
    // cursor orders on a SINGLE numeric key; hash-bucketed and
    // composite-range bases have no usable key order, so they degrade
    // to a full idempotent re-transfer (chunk dirs wiped and rewritten)
    // with a log line instead of silently missing rows. Append-only
    // contract: rows inserted at or below the old max are not re-read.
    var extendedBase = false
    val cp: Option[Checkpoint] = incBase match {
      case Some(base) if base.bucketCount <= 0 && srcNumericPk && pk.size == 1 =>
        log(s"${table.name}: incremental — extending above the last synced key")
        extendedBase = true
        Some(base.copy(complete = false))
      case Some(base) =>
        log(s"${table.name}: incremental over a " +
          s"${if (base.bucketCount > 0) "hash-bucketed" else "composite-key"} plan " +
          "degrades to a full idempotent re-transfer (the parquet range " +
          "cursor orders on a single numeric key)")
        // The old COMPLETE state must not survive the wipe below: a
        // crash between cleanupChunksAbove(-1) and the re-transfer's
        // first checkpoint save would otherwise leave destroyed chunk
        // dirs shielded by complete+marker — R6 would skip the rerun
        // and pruneCompleted would trust it.
        Checkpoint.delete(mig.checkpointDir, kind, cpName)
        Files.deleteIfExists(Paths.get(destDir, "_GRAFT_COMPLETE"))
        None
      case None => cp0
    }

    // A crash can leave chunk dirs written AFTER the last checkpoint save
    // (cadence saves at-most-per-chunk, and parallel dispatch can finish
    // chunks above the prefix): on resume those ranges are re-chunked
    // with fresh bounds, so stale dirs above the checkpoint would
    // duplicate rows. Drop them first — checkpoint is truth. (For an
    // incremental DEGRADE, cp is None, so this wipes every chunk dir and
    // the rewrite starts clean.)
    cleanupChunksAbove(cp.map(_.chunkIndex).getOrElse(-1))
    // Chunk membership (range bounds AND hash buckets) is a function of
    // the key: resuming a plan computed over a different key remaps
    // chunks and silently loses or duplicates rows. v3 checkpoints carry
    // the plan's key identity — refuse any mismatch outright (the
    // mode-specific guards below then only have to police legacy files).
    cp.filter(_.keyCols.nonEmpty).foreach { c =>
      require(c.keyCols.map(_.toLowerCase) == pk.map(_.toLowerCase),
        s"checkpoint for '${table.name}' was planned over key " +
          s"(${c.keyCols.mkString(", ")}) but the spec now keys on " +
          s"(${pk.mkString(", ")}) — clear the checkpoint to restart")
    }
    val numericPk = srcNumericPk
    // Chunking mode. Fresh runs: numeric single-column keys take the
    // range path (quantile bounds + parquet min/max pruning); composite
    // keys take it only when the LEADING column's cardinality can
    // actually resolve the target chunk count — quantile bounds over a
    // 5-value column dedup to ≤5 giant chunks (the same degeneracy the
    // live path fixed with full-tuple plans; here hash buckets over the
    // FULL key are the cardinality-independent alternative). Resumes:
    // the checkpoint's persisted mode fields decide — chunk membership
    // must never shift mid-transfer; a mode that contradicts the
    // current key type refuses loudly.
    val useRange = cp match {
      case Some(c) if c.bucketCount > 0 =>
        // A hash checkpoint is legal for any non-numeric key and for any
        // COMPOSITE numeric-leading key (the cardinality probe is
        // approximate and data can drift, so the persisted mode wins).
        // A single-column numeric key NEVER writes one — this state can
        // only mean the key changed since the checkpoint, and resuming
        // would remap bucket membership and silently lose rows. Probing
        // rangeResolvable here would excuse exactly that corruption when
        // the new key happens to be low-cardinality.
        require(!numericPk || pk.size > 1,
          s"checkpoint for '${table.name}' was written by the hash-bucket " +
            "path but the key now takes the range path — clear the " +
            "checkpoint to restart")
        false
      case Some(c) if c.bounds.nonEmpty =>
        require(numericPk,
          s"checkpoint for '${table.name}' was written by the range path " +
            "but the key is now non-numeric — clear the checkpoint to restart")
        true
      case _ =>
        numericPk && (pk.size == 1 || rangeResolvable(source, firstPk))
    }
    if (useRange) runRangeChunks(source, footers, firstPk, cp, extendedBase)
    else runHashChunks(source, footers, pk, cp)
  }

  /** The one log line naming a table's planner. */
  private def logPlanner(planner: Either[String, ParquetFooters.Footers]): Unit =
    log(s"${table.name}: planner " + planner.fold(reason => s"aggregate: $reason",
      f => s"footers (${f.files} files, ${f.rowGroups} row groups)"))

  /** Can quantile bounds over `pkCol` alone resolve a useful chunk
    * count? One aggregate probe (composite numeric-leading keys only):
    * the approximate distinct count must comfortably exceed the chunk
    * target, else the range plan degenerates and hash buckets win. */
  private def rangeResolvable(source: DataFrame, pkCol: String): Boolean = {
    val probe = source.agg(count(lit(1)).as("n"),
      approx_count_distinct(col(pkCol)).as("d")).head()
    probe.getLong(1) >= 4L * chunkCount(probe.getLong(0))
  }

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

  // -- PK value codec ----------------------------------------------------

  /** Key values move through chunk bounds, checkpoint strings, and
    * resume filters in the key's OWN domain. The previous Double routing
    * lost precision on 64-bit ids >= 2^53 (ADVICE r2): a rounded-down
    * resume bound re-transfers (bound, trueBound] and duplicates rows. */
  private sealed trait KeyCodec {
    def fromRow(v: Any): Any
    def parse(s: String): Any
    def fmt(v: Any): String
    def lt(a: Any, b: Any): Boolean
  }
  private object LongKey extends KeyCodec {
    def fromRow(v: Any): Any = v.asInstanceOf[Number].longValue
    def parse(s: String): Any =
      s.toLongOption.getOrElse(s.toDouble.toLong) // legacy "42.0" checkpoints
    def fmt(v: Any): String = v.toString
    def lt(a: Any, b: Any): Boolean = a.asInstanceOf[Long] < b.asInstanceOf[Long]
  }
  private object DecimalKey extends KeyCodec {
    private def bd(v: Any): java.math.BigDecimal = v match {
      case d: java.math.BigDecimal => d
      case d: scala.math.BigDecimal => d.bigDecimal
      case other => new java.math.BigDecimal(other.toString)
    }
    def fromRow(v: Any): Any = bd(v)
    def parse(s: String): Any = new java.math.BigDecimal(s)
    def fmt(v: Any): String = bd(v).toPlainString
    def lt(a: Any, b: Any): Boolean = bd(a).compareTo(bd(b)) < 0
  }
  private object DoubleKey extends KeyCodec {
    def fromRow(v: Any): Any = v.asInstanceOf[Number].doubleValue
    def parse(s: String): Any = s.toDouble
    /** Integer-valued keys render without a trailing `.0` so the
      * string-encoded lastKey matches the reference's convention. */
    def fmt(v: Any): String = {
      val d = v.asInstanceOf[Double]
      if (d == math.rint(d) && !d.isInfinite) d.toLong.toString else d.toString
    }
    def lt(a: Any, b: Any): Boolean =
      a.asInstanceOf[Double] < b.asInstanceOf[Double]
  }
  private def keyCodec(dt: DataType): KeyCodec = dt match {
    case ByteType | ShortType | IntegerType | LongType => LongKey
    case _: DecimalType => DecimalKey
    case _ => DoubleKey
  }

  /** The fallback range planner: ONE aggregate over the rows to plan —
    * row count, TRUE max of the key in its native type (the plan's final
    * bound must cover every row — a quantile max can undershoot), a
    * NULL-key probe, and the quantile sketch. The chunk count n depends
    * on the row count of this same pass, so the sketch is read on a
    * fixed maxChunks-point grid: bound j of n is grid point
    * ceil(j·maxChunks/n) − 1, i.e. exactly the j/n quantile whenever n
    * divides maxChunks. */
  private def aggregatePlan(rows: DataFrame, pkCol: String,
                            codec: KeyCodec): TableTransferJob.KeyPlan = {
    val grid = (1 to maxChunks).map(g => lit(g.toDouble / maxChunks))
    val probe = rows.agg(
      count(lit(1)).as("n"),
      max(col(pkCol)).as("mx"),
      count(when(col(pkCol).isNull, 1)).as("nulls"),
      percentile_approx(col(pkCol), array(grid: _*), lit(10000)).as("q")).head()
    TableTransferJob.KeyPlan(probe.getLong(0), probe.getLong(2), { n =>
      // percentile_approx keeps the key's native type (no Double
      // round-trip); the last bound is replaced by the exact max.
      val sketch = probe.getSeq[Any](3)
      val qb = (1 to n).map(j => sketch((j * maxChunks + n - 1) / n - 1))
        .map(codec.fromRow).distinct.sortWith(codec.lt)
      (qb.dropRight(1) :+ codec.fromRow(probe.get(1))).distinct
    })
  }

  /** Numeric-PK path: contiguous key ranges, resume via `pk > lastKey`.
    *
    * The chunk PLAN (upper bounds, last = exact key max) is computed once
    * — from the footers, else by [[aggregatePlan]] — and persisted in the
    * checkpoint; a resume continues the same plan from the last completed
    * bound — no re-plan, so resume overhead is a checkpoint read (mirrors
    * the hash path's persisted bucket count). */
  private def runRangeChunks(source: DataFrame,
                             footers: Either[String, ParquetFooters.Footers],
                             pkCol: String, cp: Option[Checkpoint],
                             extendedBase: Boolean = false): TransferOutcome = {
    val codec = keyCodec(source.schema(pkCol).dataType)
    // Legacy (pre-v3) files carry no key_cols; their lastKey map is keyed
    // by the column the plan was computed over, so a cursor stored under
    // a DIFFERENT name is a key swap — restarting the plan would rewrite
    // every bound into fresh chunk dirs while the old prefix dirs
    // survive, duplicating rows on read-back. Refuse instead.
    cp.filter(c => c.keyCols.isEmpty && c.lastKey.nonEmpty).foreach { c =>
      require(c.lastKey.contains(pkCol),
        s"checkpoint for '${table.name}' stores a resume cursor for key " +
          s"(${c.lastKey.keys.mkString(", ")}) but the spec now keys on " +
          s"'$pkCol' — clear the checkpoint to restart")
    }
    val lastKey = cp.flatMap(_.lastKey.get(pkCol)).map(codec.parse)
    val startChunk = cp.map(_.chunkIndex).getOrElse(-1) + 1
    val stored = cp.filter(c => c.bounds.nonEmpty && c.totalRows >= 0)

    val (planBounds: Seq[Any], total: Long) = stored match {
      case Some(c) =>
        log(s"${table.name}: planner checkpoint (stored plan)")
        (c.bounds.map(codec.parse), c.totalRows)
      case None =>
        // The footers plan a whole table; the rows above a stored cursor
        // (an incremental extension) take the aggregate over `pk > cursor`.
        val fromFooters = for {
          f <- footers
          _ <- Either.cond(lastKey.isEmpty, (), "extension above a stored cursor")
          _ <- Either.cond(codec eq LongKey, (),
            s"key '$pkCol' is not a signed INT32/INT64 column")
          k <- f.keyStats(pkCol)
        } yield (f, k)
        logPlanner(fromFooters.map(_._1))
        val plan = fromFooters match {
          case Right((_, k)) =>
            TableTransferJob.KeyPlan(k.rows, k.nulls,
              n => ParquetFooters.rangeBounds(k.groups, n))
          case Left(_) => aggregatePlan(
            lastKey.fold(source)(k => source.where(col(pkCol) > lit(k))), pkCol, codec)
        }
        val n0 = plan.rows
        // range predicates are null-rejecting, so NULL keys would be
        // silently dropped — refuse them, like the reference refuses
        // PK-less tables, mysql.go:216-218
        require(plan.nulls == 0,
          s"table '${table.name}' has ${plan.nulls} NULL values in key " +
            s"'$pkCol' — refusing (rows would be lost by range chunking)")
        if (n0 == 0) {
          // Incremental no-op: the on-disk state (complete checkpoint,
          // marker, publish layout, registration) is already exactly
          // right — running finish() would rewrite a partitioned
          // -final layout and drop/recreate the registered table on
          // every scheduled re-run that found nothing new.
          if (extendedBase) {
            log(s"${table.name}: incremental — no rows above the last synced key")
            return TransferOutcome.Completed
          }
          // one empty wave, like the hash path's, so the destination
          // reads back as an empty table with the source's columns
          writeWave(ExpressionValidator.applyAll(source, table).limit(0), startChunk)
          return finish(startChunk, lastKey.map(k => Map(pkCol -> codec.fmt(k))))
        }
        (plan.bounds(chunkCount(n0)), n0)
    }
    val boundsStr = planBounds.map(codec.fmt)
    def save(lk: Option[Any], idx: Int, complete: Boolean): Unit =
      Checkpoint.save(mig.checkpointDir, kind, cpName,
        Checkpoint(lk.map(k => Map(pkCol -> codec.fmt(k))).getOrElse(Map.empty),
          System.currentTimeMillis(), complete, idx,
          bounds = boundsStr, totalRows = total, keyCols = pkCols))
    // persist the plan up front so any resume continues it
    if (stored.isEmpty) save(lastKey, startChunk - 1, complete = false)

    // bounds still ahead of the resume cursor (a completed chunk's bound
    // IS an element of the plan, so strict > resumes exactly after it)
    val todo = lastKey match {
      case Some(k) => planBounds.filter(b => codec.lt(k, b))
      case None => planBounds
    }
    if (todo.isEmpty)
      return finish(startChunk, Some(Map(pkCol -> codec.fmt(planBounds.last))))

    // bound of todo chunk j (j = -1: the resume cursor)
    def bound(j: Int): Option[Any] = if (j < 0) lastKey else Some(todo(j))
    val waves = new Waves(mig, table.name, total, control, limiter, log)
    waves.run(todo.length) { (f, l) =>
      // Both bounds on the SOURCE key, BEFORE transformation — a
      // transform targeting the PK column must not shift chunk
      // membership (ADVICE r2; reference paginates on the raw PK,
      // mysql.go:599-631). A wave ending at the last chunk takes
      // everything above its lower bound (the planned bound is the exact
      // max; the open top end also absorbs any rows above a legacy
      // checkpoint's undershot max).
      val lo = bound(f - 1).map(col(pkCol) > lit(_))
      val hi = if (l == todo.length - 1) None else bound(l).map(col(pkCol) <= lit(_))
      val wave = (lo ++ hi).reduceOption(_ && _).fold(source)(source.where)
      writeWave(ExpressionValidator.applyAll(wave, table), startChunk + f)
    }(l => save(bound(l), startChunk + l, complete = false)) match {
      case Some(k) =>
        log(s"${table.name}: interrupted, checkpoint at chunk ${startChunk + k - 1}")
        TransferOutcome.Interrupted(k)
      case None =>
        log(waves.stats.report())
        finish(startChunk + todo.length - 1,
          Some(Map(pkCol -> codec.fmt(planBounds.last))))
    }
  }

  /** Non-numeric-PK path: deterministic hash buckets (token-range
    * analog); resume = skip bucket indices <= checkpointed. The bucket
    * count comes from the CHECKPOINT on resume (ADVICE r2): recomputing
    * it from a changed source count or config would remap
    * `pmod(hash(pk), n)` across buckets and lose/duplicate rows. */
  private def runHashChunks(source: DataFrame,
                            footers: Either[String, ParquetFooters.Footers],
                            pk: Seq[String],
                            cp: Option[Checkpoint]): TransferOutcome = {
    // Row count comes from the CHECKPOINT on resume (it was persisted at
    // plan time, like the range path's totalRows) — a resume must not pay
    // a full count scan just to size progress (VERDICT r3 #8). A fresh
    // plan counts from the footers, else with one `count()`.
    val total = cp.map(_.totalRows).filter(_ >= 0) match {
      case Some(t) =>
        log(s"${table.name}: planner checkpoint (stored plan)")
        t
      case None =>
        logPlanner(footers)
        footers.fold(_ => source.count(), _.rows)
    }
    val n = cp.map(_.bucketCount).filter(_ > 0).getOrElse(chunkCount(total))
    val doneBucket = cp.map(_.chunkIndex).getOrElse(-1)
    val bucketExpr = pmod(hash(pk.map(col): _*), lit(n))
    val waves = new Waves(mig, table.name, total, control, limiter, log)
    waves.run(n - doneBucket - 1) { (f, l) =>
      val (b0, b1) = (doneBucket + 1 + f, doneBucket + 1 + l)
      writeWave(ExpressionValidator.applyAll(
        source.where(bucketExpr.between(b0, b1)), table), b0)
    }(l => saveCp(None, doneBucket + 1 + l, complete = false, bucketCount = n,
      totalRows = total)) match {
      case Some(k) => TransferOutcome.Interrupted(k)
      case None =>
        log(waves.stats.report())
        finish(n - 1, None, bucketCount = n, totalRows = total)
    }
  }

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

  private def saveCp(lastKey: Option[Map[String, String]], chunkIdx: Int,
                     complete: Boolean, bucketCount: Int = -1,
                     totalRows: Long = -1L): Unit =
    Checkpoint.save(mig.checkpointDir, kind, cpName,
      Checkpoint(lastKey.getOrElse(Map.empty), System.currentTimeMillis(),
        complete, chunkIdx, bucketCount, totalRows = totalRows,
        keyCols = pkCols))

  private def finish(lastChunk: Int, lastKey: Option[Map[String, String]],
                     bucketCount: Int = -1,
                     totalRows: Long = -1L): TransferOutcome = {
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
    saveCp(lastKey, lastChunk, complete = true, bucketCount = bucketCount,
      totalRows = totalRows)
    Files.writeString(Paths.get(destDir, "_GRAFT_COMPLETE"), "")
    TransferOutcome.Completed
  }
}

object TableTransferJob {
  /** A range plan before sizing: the rows to plan, their NULL keys, and
    * the upper bounds of `n` chunks over them (last = the exact key max). */
  private final case class KeyPlan(rows: Long, nulls: Long, bounds: Int => Seq[Any])

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
