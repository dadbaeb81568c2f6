package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.ops.{Dedup, MediaKeys, Multimodal}

/** Structured Streaming ingest of the `events` table (SURVEY §2.7: the
  * reference has no streaming; its resumable-cursor + checkpoint file is
  * a poor-man's offset store. Here the real thing: `readStream` →
  * watermark → tumbling window → sink).
  *
  * For the correctness gate the stream runs bounded with
  * `Trigger.AvailableNow` into an in-memory sink and the resulting table
  * is returned — stream results must equal the batch computation, which
  * is exactly what the DuckDB oracle checks.
  */
object StreamingIngest {

  /** The shared events source: schema probe (nanos→long via session
    * conf), file stream, micros timestamp. ONE definition — the ts
    * conversion previously lived in seven copies, and fixes were
    * already drifting between them (the work-dir hashing divergence
    * found in review). No watermark here: consumers that rename `ts`
    * before watermarking (the stream-stream join) would otherwise trip
    * "Redefining watermark is disallowed". */
  private def eventsRaw(spark: SparkSession, dir: String): DataFrame = {
    val schema = spark.read.parquet(s"$dir/events.parquet").schema
    graft.sources.Tables.normalizeTs(
      spark.readStream.schema(schema).parquet(s"$dir/events.*"))
  }

  /** [[eventsRaw]] + the standard 1-hour watermark on `ts` (every
    * single-stream consumer). */
  private def eventsStream(spark: SparkSession, dir: String): DataFrame =
    eventsRaw(spark, dir).withWatermark("ts", "1 hour")

  /** Run a bounded stream into a uniquely-named memory sink and return
    * the sink table. Gate-harness shape only: the memory sink collects
    * on the driver, which is fine for a bounded correctness run and
    * wrong for production (the durable twins write parquet/JDBC). */
  private def runToMemory(stream: DataFrame, prefix: String,
                          mode: String): DataFrame = {
    val spark = stream.sparkSession
    val name = prefix + java.util.UUID.randomUUID().toString.replace("-", "")
    val q = stream.writeStream.format("memory").queryName(name)
      .outputMode(mode).trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    spark.table(name)
  }

  /** Work dir unique to (purpose, identity strings): a real digest, not
    * a 32-bit `hashCode` — colliding identities would wipe each other's
    * ACTIVE streaming checkpoint mid-run (found once on the JDBC sink,
    * then AGAIN on the append sink in review; now one definition).
    * Refuses a purpose missing from [[WorkDirPurposes]]: the prune GC
    * would never collect its dirs. */
  private[graft] def workDir(purpose: String, identity: String): String = {
    require(WorkDirPurposes.contains(purpose),
      s"streaming work-dir purpose '$purpose' is not in WorkDirPurposes, " +
        "so pruneWorkDirs would never collect it")
    val work = graft.util.Fs.workDir(purpose, identity)
    graft.util.Fs.deleteRecursive(new java.io.File(work))
    work
  }

  /** The streaming work-dir purposes [[workDir]] accepts — the prune
    * target set. */
  private[graft] val WorkDirPurposes =
    Seq("stream_append", "sjdbc", "stream_img_dedup", "stream_vid_dedup",
      "stream_span_index", "stream_media_quarantine", "stream_ann_index",
      "stream_vid_quarantine") ++ MediaKeys.all.map(_.streamWorkDir)

  /** Run a bounded append-mode stream into a DURABLE parquet sink under
    * a fresh [[workDir]] and read the sink back; `afterRun` runs once
    * the stream has terminated (release static-side checkpoints
    * there). */
  private def runToParquet(stream: DataFrame, purpose: String,
                           dir: String)(afterRun: => Unit): DataFrame = {
    val work = workDir(purpose, dir)
    val q = stream.writeStream
      .format("parquet")
      .option("path", s"$work/out")
      .option("checkpointLocation", s"$work/checkpoint")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    afterRun
    stream.sparkSession.read.parquet(s"$work/out")
  }

  /** The one idempotent per-batch sink: runs `stream` bounded with its
    * checkpoint under `work`, hands every micro-batch to `body` with a
    * writer that OVERWRITES `<work>/<sub>/batch_<id>`, and returns every
    * directory under `<work>/<sub>` (sorted). Exactly-once by
    * composition, like the JDBC sink's MERGE: a checkpoint-replayed
    * batch keeps its id, so it rewrites its own directory instead of
    * appending duplicate rows. The dirs are listed, never globbed: a
    * glob path makes `FileStreamSink` probe the glob's
    * `_spark_metadata` and log a fatal-looking `FileNotFoundException`
    * trace on every passing run. */
  private[graft] def perBatchSink(stream: DataFrame, work: String, sub: String)(
      body: (DataFrame, DataFrame => Unit) => Unit): Seq[String] = {
    val q = stream.writeStream
      .foreachBatch { (b: DataFrame, id: Long) =>
        body(b, _.write.mode("overwrite").parquet(s"$work/$sub/batch_$id"))
      }
      .option("checkpointLocation", s"$work/checkpoint")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    Option(new java.io.File(s"$work/$sub").listFiles()).getOrElse(Array.empty)
      .filter(_.isDirectory).map(_.getAbsolutePath).sorted.toSeq
  }

  /** The `events` table as a file stream in file-granular micro-batches
    * (`maxFilesPerTrigger` 4), the source of every media stream. A
    * corpus-scale source in ONE AvailableNow batch holds the whole run's
    * pair state at once no matter how the dedup ages it (measured OOM at
    * 10×); file-granular batches keep a source row's band hits co-batch
    * while the watermark purges pair state between batches. */
  private[graft] def mediaEvents(spark: SparkSession, dir: String): DataFrame = {
    val schema = spark.read.parquet(s"$dir/events.parquet").schema
    spark.readStream.schema(schema).option("maxFilesPerTrigger", "4")
      .parquet(s"$dir/events.*")
  }

  /** A stream-static band screen over a 64-bit signature: `hashCol`
    * cut into 4 bands of `bandBits` within `group`, corpus buckets
    * capped at 64, hits confirmed at Hamming ≤ `maxHamming`. */
  private[graft] final case class Screen(hashCol: String, group: Column,
                                         bandBits: Int, maxHamming: Int) {

    /** Every `(batch_id, corpus_id, hamming)` hit of `batch` against
      * `corpus`, uncapped (`row_number` windows are illegal on streams),
      * through [[graft.ops.Multimodal.incrementalScreen]] with the batch
      * hash carried through the band join, so both joins are
      * stream-static. The static sides always shuffle: streaming has no
      * AQE to re-plan the planner's size underestimate, which picked a
      * broadcast that died at 10× data (measured). */
    def hits(corpus: DataFrame, batch: DataFrame, tag: String): DataFrame =
      Multimodal.incrementalScreen(corpus, batch, hashCol, group,
        bandBits = bandBits, numBands = 4, maxHamming = maxHamming,
        bucketCap = 64, metric = tag, observed = false, noBroadcast = true)
  }

  /** The one stream-static near-dup screen: `batch` signatures (a
    * stream) against the standing `corpus` signatures, uncapped, into a
    * durable parquet sink under `purpose`. The corpus is MATERIALIZED
    * first (eager localCheckpoint): it feeds both sides of the screen,
    * a lazy plan would re-derive it per consumer per micro-batch, and
    * the checkpoint's conservative stats keep the joins shuffled.
    *
    * A pair confirms once per shared band, and its multi-band hits are
    * born in ONE micro-batch (a source row's band rows never straddle
    * batches), so watermark-aged dedup on `current_timestamp()` (the
    * batch-constant trigger time) is EXACT, not the lossy
    * [[streamingDedupLive]] trade, while holding state to ~one
    * micro-batch of pairs: 1 second of slack lets it purge between
    * batches. The plain stateful `dropDuplicates` kept every emitted
    * pair forever, so state grew with the OUTPUT and OOMed the 10× run
    * (measured). The parquet sink, not the memory sink, because the
    * uncapped pair stream is corpus-sized. Stream ≡ the batch screen
    * minus its candidate cap, hit for hit. */
  private[graft] def screenStream(corpus: DataFrame, batch: DataFrame, screen: Screen,
                                  tag: String, purpose: String, dir: String): DataFrame = {
    val index = corpus.localCheckpoint(true)
    val confirmed = screen.hits(index, batch, tag)
      .withColumn("arr_ts", current_timestamp())
      .withWatermark("arr_ts", "1 second")
      .dropDuplicatesWithinWatermark("batch_id", "corpus_id")
      .drop("arr_ts")
    runToParquet(confirmed, purpose, dir)(Dedup.releaseLocalCheckpoint(index))
  }

  /** One media modality as the dedup and quarantine streams see it:
    * the `(event_id div parity)` split into corpus (even) and incoming
    * (odd), the clean payload generator, the strict signer, the
    * fault-isolated `*Safe` decoder and its persisted artifact under
    * [[graft.SparkEntry.quarantineSignatureIndex]], the corruption
    * kinds, the signature columns and the band screen. */
  private final case class Modality(parity: Int, clean: Long => Array[Byte],
                                    sign: (DataFrame, String, String) => DataFrame,
                                    safe: (DataFrame, String, String) => DataFrame,
                                    artifact: String, poisons: Seq[Long => Array[Byte]],
                                    sigCols: Seq[String], screen: Screen) {
    /** The corpus (`r` = 0) or incoming (`r` = 1) half by `idCol`. */
    def half(idCol: String, r: Int): Column = expr(s"$idCol div $parity") % 2 === r
  }

  private val ImageAHash = Modality(20, Multimodal.syntheticBmp,
    Multimodal.imageAHash(_, _, _).toDF(), Multimodal.imageAHashSafe,
    "img_ahash_safe", Multimodal.ImagePoisons, Seq("id", "width", "height", "ahash"),
    Screen("ahash", concat(col("width").cast("string"), lit("x"),
      col("height").cast("string")), bandBits = 12, maxHamming = 4))

  // (id div 2) parity puts each content's {v0, v1} in the corpus and
  // {v2, v3} in the batch, so every transcode family straddles
  private val VideoPHash = Modality(2, Multimodal.syntheticVideoMp4,
    Multimodal.videoPerceptualHash(_, _, _).toDF(),
    Multimodal.videoPerceptualHashSafe(_, _, _),
    "vid_phash_safe", Multimodal.VideoPoisons,
    Seq("id", "width", "height", "n_key", "sig"),
    Screen("sig", concat(col("width").cast("string"), lit("x"),
      col("height").cast("string"), lit(":"), col("n_key").cast("string")),
      bandBits = 16, maxHamming = 6))

  /** [[screenStream]] over modality `m`'s strict signatures: clean
    * assets of the even half as the corpus, of the odd half arriving as
    * a stream, decoded and signed inside the micro-batch. */
  private def dedupStream(spark: SparkSession, dir: String, m: Modality,
                          tag: String, purpose: String): DataFrame = {
    def signed(events: DataFrame) = m.sign(
      MediaKeys.payloads(MediaKeys.spread(events), m.clean, "payload"), "id", "payload")
    screenStream(
      signed(spark.read.parquet(s"$dir/events.parquet").where(m.half("event_id", 0))),
      signed(mediaEvents(spark, dir).where(m.half("event_id", 1))),
      m.screen, tag, purpose, dir)
  }

  /** The QUARANTINE tier at the STREAM boundary: in a stream, a corrupt
    * asset is strictly WORSE than in batch — the failed micro-batch
    * retries the same files forever and the pipeline wedges. Incoming
    * assets (the odd half's clean asset plus, per 5th source row, one of
    * the modality's corruption kinds) safe-decode INSIDE the per-batch
    * sink: malformed payloads become per-asset quarantine rows
    * `(ok=false, reason=decode:<kind>, dup=false)`; good payloads screen
    * against the standing corpus index and emit
    * `(ok=true, dup=<has a corpus near-dup>)`. The standing index is the
    * PERSISTED safe-signature artifact (its ok rows carry exactly the
    * strict decode's signatures, spec-pinned), so the stream scans a
    * columnar artifact instead of re-decoding half the corpus per run —
    * the production shape. Every asset is seen in exactly one
    * micro-batch and the corpus is static, so per-asset verdicts are
    * independent of batch slicing — stream output ≡ the batch
    * computation, which is what the oracle replays. (Contract: `dup` is
    * vs the CORPUS only; batch-internal pairs are the all-pairs ops'
    * job.) */
  private def quarantineStream(spark: SparkSession, dir: String, m: Modality,
                               tag: String, purpose: String): DataFrame = {
    import spark.implicits._
    val sig = m.sigCols.map(col)
    val corpus = spark.read
      .parquet(s"${graft.SparkEntry.quarantineSignatureIndex(spark, dir)}/${m.artifact}")
      .where(col("ok") && col("id") < Multimodal.QBase && m.half("id", 0))
      .select(sig: _*)
    val incoming = mediaEvents(spark, dir).where(m.half("event_id", 1))
    val (clean, poisons) = (m.clean, m.poisons) // the task closure's only captures
    val batches = perBatchSink(incoming, workDir(purpose, dir), "out") { (b, write) =>
      val assets = MediaKeys.spread(b)
        .mapPartitions(_.flatMap(e =>
          Iterator((e, clean(e))) ++ Multimodal.poisoned(e, poisons)))
        .toDF("id", "payload")
      // decode once per micro-batch: the safe frame feeds the
      // quarantine rows, the screen, AND the verdict join
      val safe = m.safe(assets, "id", "payload").localCheckpoint(true)
      val dupIds = m.screen.hits(corpus, safe.where(col("ok")).select(sig: _*), tag)
        .select(col("batch_id").as("id")).distinct()
        .withColumn("dup", lit(true))
      write(safe.select(col("id"), col("ok"), col("reason"))
        .join(dupIds, Seq("id"), "left")
        .select(col("id"), col("ok"), col("reason"),
          (col("ok") && coalesce(col("dup"), lit(false))).as("dup")))
      Dedup.releaseOwnCheckpoint(safe)
    }
    spark.read.parquet(batches: _*)
  }

  /** GC terminated streaming work dirs (VERDICT r6 #7): the durable
    * sinks key scratch space (checkpoints + parquet out dirs) by
    * (purpose, identity) digest under tmpdir, and nothing deleted them
    * after termination — a long-lived host accumulates one dir per
    * (dataset, sink) forever while `--prune-completed` GC'd only the
    * TRANSFER side's artifacts. Deletes every graft streaming work dir
    * except those named in `activeCheckpoints` (pass the checkpoint
    * locations of any still-running queries; the CLI prunes after its
    * session stopped, so none exist there). Pruning only costs the next
    * run its resume state: every entry point wipes and recreates its
    * own dir at start, so a rerun after prune is a clean bounded run —
    * proven in the spec. Returns the pruned count. */
  def pruneWorkDirs(activeCheckpoints: Seq[String] = Nil,
                    log: String => Unit = _ => ()): Int = {
    val tmp = new java.io.File(System.getProperty("java.io.tmpdir"))
    val prefixes = WorkDirPurposes.map(p => s"graft_${p}_")
    val victims = Option(tmp.listFiles()).getOrElse(Array.empty[java.io.File])
      .filter(f => f.isDirectory && prefixes.exists(f.getName.startsWith))
      .filterNot(f => activeCheckpoints.exists(_.contains(f.getName)))
    victims.foreach { f =>
      graft.util.Fs.deleteRecursive(f)
      log(s"pruned streaming work dir ${f.getName}")
    }
    victims.length
  }

  private def windowCountsAgg(stream: DataFrame): DataFrame = stream
    .groupBy(window(col("ts"), "1 hour"), col("event_type"))
    .agg(count(lit(1)).as("cnt"))
    .select(col("window.start").as("w_start"), col("event_type"), col("cnt"))

  /** Watermarked 1-hour tumbling-window counts per event type. Output
    * mode is `complete` so bounded runs emit every window (with `append`,
    * windows inside the final watermark delay would be withheld). */
  def windowCounts(spark: SparkSession, dir: String): DataFrame =
    runToMemory(windowCountsAgg(eventsStream(spark, dir)), "graft_stream_", "complete")

  /** The PRODUCT-SURFACE variant of [[windowCounts]] (VERDICT r2 #3):
    * append mode to a DURABLE parquet sink with a streaming checkpoint.
    * Complete-mode + memory sink is right for the bounded oracle gate
    * but accumulates every window in state forever; here the watermark
    * CLOSES windows — each is emitted exactly once when the watermark
    * passes its end, then evicted from state, so state size is bounded
    * by the watermark horizon regardless of how long the stream runs.
    * Windows newer than `max(ts) - 1 hour` are still open at end of
    * input and deliberately withheld (they would emit on the next
    * trigger of a live stream).
    *
    * Returns the rows read back from the parquet sink — for a bounded
    * run that is exactly the batch aggregation restricted to closed
    * windows, which is what the oracle checks. */
  def windowCountsAppend(spark: SparkSession, dir: String): DataFrame =
    runToParquet(windowCountsAgg(eventsStream(spark, dir)), "stream_append", dir)(())

  /** Custom stateful aggregation via `mapGroupsWithState` (the
    * KeyValueGroupedDataset path for state machines the built-in windows
    * can't express): running per-user event counts held in explicit
    * state. Counts are cumulative, so the final value per user is the
    * MAX over every emitted update — equal to the batch
    * `GROUP BY user_id` count whether the bounded run lands in one
    * micro-batch or several. NULL user ids are excluded up front (the
    * typed `.as[Long]` would throw on them). */
  def statefulUserCounts(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.streaming.GroupStateTimeout
    val updates = eventsStream(spark, dir)
      .where(col("user_id").isNotNull)
      .select(col("user_id").cast("long")).as[Long]
      .groupByKey(identity)
      .mapGroupsWithState[Long, (Long, Long)](GroupStateTimeout.NoTimeout) {
        (user, events, state) =>
          val total = state.getOption.getOrElse(0L) + events.size
          state.update(total)
          (user, total)
      }
      .toDF("user_id", "cnt")
    runToMemory(updates, "graft_state_", "update")
      .groupBy("user_id").agg(max(col("cnt")).as("cnt"))
  }

  /** Streaming DEDUPLICATION, gate variant: `dropDuplicates` on the key
    * set. The emitted KEY SET equals the batch `SELECT DISTINCT`, which
    * is what the oracle checks; only the keys are returned because
    * "which duplicate arrived first" is an arrival-order artifact, not
    * a property of the data.
    *
    * State honesty: because the event-time column is NOT part of the
    * key set, Spark keeps one state entry per distinct key FOREVER —
    * the watermark does not evict it. That is the price of the exact
    * global-distinct contract, acceptable for a bounded gate run and
    * for key spaces that fit state. A LIVE pipeline should use
    * [[streamingDedupLive]], whose within-watermark contract bounds
    * state by the horizon. */
  def streamingDedup(spark: SparkSession, dir: String): DataFrame =
    runToMemory(
      eventsStream(spark, dir)
        .dropDuplicates("user_id", "event_type")
        .select(col("user_id"), col("event_type")),
      "graft_dedup_", "append")

  /** Streaming dedup, LIVE variant: `dropDuplicatesWithinWatermark` —
    * duplicates are suppressed when they arrive within the watermark
    * horizon of the kept row, and state IS evicted as the watermark
    * advances, so state size is bounded by the horizon regardless of
    * how long the stream runs or how many distinct keys exist. The
    * trade: re-occurrences farther apart than the horizon re-emit (an
    * order-dependent result — no deterministic batch-SQL oracle, so
    * this variant is test-gated on set bounds rather than hash-gated:
    * its output is a superset of the distinct key set and a subset of
    * the raw key stream). */
  def streamingDedupLive(spark: SparkSession, dir: String): DataFrame =
    runToMemory(
      eventsStream(spark, dir)
        .dropDuplicatesWithinWatermark("user_id", "event_type")
        .select(col("user_id"), col("event_type")),
      "graft_dedupw_", "append")

  /** Stream-STATIC incremental dedup — the streaming twin of
    * [[graft.ops.Dedup.incrementalNearDups]]: incoming documents are
    * screened against the standing corpus index in micro-batches
    * (near-real-time admission control for the training corpus). The
    * static side is the batch operator's own capped band buckets plus
    * the corpus shingle sets; the stream side bands its rows with the
    * aggregation-free signature ([[graft.ops.Dedup.narrowBandRows]] —
    * a streaming groupBy could not feed a join in append mode), then
    * candidates flow through two stream-static equi-joins and the
    * exact-Jaccard confirm, all append-safe.
    *
    * A pair confirms once per shared band; watermark-aged keyed dedup
    * collapses the duplicates EXACTLY (a source row's band rows never
    * straddle micro-batches, so pair duplicates are co-batch by
    * construction — the r10 media-twin argument), with state bounded
    * at ~one micro-batch of pairs instead of the whole output (the
    * plain stateful dropDuplicates grew state with the RESULT — the
    * shape the 10× media sweep OOMed; `maxFilesPerTrigger` keeps
    * AvailableNow micro-batches file-granular so the watermark has
    * boundaries to purge across). Result equals the batch operator
    * row-for-row — asserted in the spec and hash-gated against the
    * SAME DuckDB oracle as `dedup_incremental`. */
  def incrementalDedupStream(spark: SparkSession, dir: String): DataFrame = {
    import graft.ops.Dedup
    val docsSchema = spark.read.parquet(s"$dir/documents.parquet").schema
    val corpus = spark.read.parquet(s"$dir/documents.parquet")
      .where(col("doc_id") % 2 === 0)
    val cBuckets = Dedup.cappedBuckets(corpus, numHashes = 12, bands = 4,
      shingleLen = 3, bucketCap = 256, observed = false)
    val cSh = Dedup.shingleSets(corpus, 3)
      .select(col("doc_id").as("corpus_id"), col("sh").as("shc"))
    val batch = spark.readStream.schema(docsSchema)
      .option("maxFilesPerTrigger", "4")
      .parquet(s"$dir/documents.*")
      .where(col("doc_id") % 2 === 1)
    val confirmed = Dedup.narrowBandRows(batch)
      .join(cBuckets, "bk")
      .select(col("doc_id").as("batch_id"), col("sh").as("shb"),
        explode(col("ids")).as("corpus_id"))
      .join(cSh, "corpus_id")
      .withColumn("jaccard", Dedup.jaccard(col("shb"), col("shc")))
      .where(col("jaccard") >= 0.5)
      .withColumn("arr_ts", current_timestamp())
      .withWatermark("arr_ts", "1 second")
      .dropDuplicatesWithinWatermark("batch_id", "corpus_id")
      .select("batch_id", "corpus_id", "jaccard")
    runToMemory(confirmed, "graft_incr_", "append")
  }

  /** The incremental IMAGE near-dup screen as a stream — new image
    * batches arriving continuously, screened against the standing
    * corpus aHash index: the media analog of [[incrementalDedupStream]]
    * through [[screenStream]], the per-row decode + fingerprint running
    * inside the micro-batch (mapPartitions on the streaming frame —
    * embarrassingly parallel, no shuffle). Result equals the batch
    * screen minus the cap — hash-gated against the same CTE chain. */
  def imageDedupStream(spark: SparkSession, dir: String): DataFrame =
    dedupStream(spark, dir, ImageAHash, "image_ahash_stream", "stream_img_dedup")

  /** The image [[quarantineStream]] (poison kinds: truncated BMP,
    * CRC-valid PNG bomb, flipped PNG checksum), screened with
    * [[imageDedupStream]]'s aHash screen. */
  def mediaQuarantineStream(spark: SparkSession, dir: String): DataFrame =
    quarantineStream(spark, dir, ImageAHash, "media_quarantine_stream",
      "stream_media_quarantine")

  /** The incremental VIDEO perceptual screen as a stream — new clips
    * arriving continuously, parsed + keyframe-decoded + signed INSIDE
    * the micro-batch, screened against the standing clip-signature
    * index through [[screenStream]], like [[imageDedupStream]]. Stream
    * == batch screen minus the cap, hash-gated against the same CTE
    * chain uncapped. */
  def videoDedupStream(spark: SparkSession, dir: String): DataFrame =
    dedupStream(spark, dir, VideoPHash, "video_phash_stream", "stream_vid_dedup")

  /** Streaming INTO a live database: watermark-closed windows upserted
    * per micro-batch into a JDBC store via `foreachBatch` + the MERGE
    * sink — the streaming half of the transfer product. Exactly-once
    * lands by composition: the streaming checkpoint replays a failed
    * batch, and the keyed MERGE makes the replay a no-op (the same
    * idempotence contract as the batch engine's chunk writes).
    *
    * The MERGE dialect comes from the URL, as in the transfer job
    * (Derby when the URL names no known store). Against a server-grade
    * store each batch writes per-partition in parallel; in-process
    * embedded URLs use one writer (the store serializes anyway).
    * The target table is probe-then-created so a RERUN — exactly the
    * checkpoint-replay scenario the exactly-once story rests on — falls
    * through to the idempotent MERGE instead of dying on
    * table-already-exists (ADVICE r3). */
  def windowCountsToJdbc(spark: SparkSession, dir: String, url: String,
                         table: String): Unit = {
    import graft.sinks.JdbcUpsert
    val dialect = graft.engine.JdbcTransferJob.dialectFor(url).getOrElse(JdbcUpsert.Derby)
    if (!graft.sources.JdbcCatalog.tableExists(url, table))
      graft.sources.JdbcCatalog.execute(url, s"CREATE TABLE $table (" +
        "w_start TIMESTAMP NOT NULL, event_type VARCHAR(64) NOT NULL, " +
        "cnt BIGINT, PRIMARY KEY (w_start, event_type))")
    val parallelism = JdbcUpsert.effectiveWriteParallelism(url)
    // identity includes the TABLE: two streams to different tables must
    // never share (and wipe) one checkpoint
    val work = workDir("sjdbc", s"$dir $url $table")
    val q = windowCountsAgg(eventsStream(spark, dir)).writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val toWrite = if (parallelism > 0) batch.coalesce(parallelism) else batch
        JdbcUpsert.write(toWrite, dialect, table,
          Seq("w_start", "event_type")) { () => new JdbcUpsert.ConnectionExecutor(url) }
        ()
      }
      .option("checkpointLocation", s"$work/checkpoint")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
  }

  /** R2 parity for STREAMS (VERDICT r6 #6): the reference's global
    * rows/s contract (`migration.go:232-268`) applied to a micro-batch
    * pipeline. Two levers compose: `maxFilesPerTrigger` bounds how much
    * a single micro-batch can ADMIT (the offsets-per-trigger sizing —
    * without it, AvailableNow would swallow the whole backlog in one
    * batch and pacing would be meaningless), and the driver-side
    * [[graft.engine.RateLimiter]] charges each batch's row count
    * against the shared budget before the next batch starts — between
    * batches, never inside a task (the same granularity decision as
    * the batch engine, for the same reasons: per-row pacing on
    * executors would serialize the cluster). The limiter instance can
    * be SHARED with concurrent batch transfer jobs, making the budget
    * global across both halves of the product, exactly like the
    * reference's process-wide limiter.
    *
    * Returns per-batch `(batch_id, rows, slept_ms)` observability rows;
    * sustained throughput is bounded by `rowsPerSec` plus the limiter's
    * 1-second burst credit. */
  def ratedIngest(spark: SparkSession, dir: String, rowsPerSec: Long,
                  maxFilesPerTrigger: Int = 1,
                  limiter: Option[graft.engine.RateLimiter] = None): DataFrame = {
    import spark.implicits._
    val schema = spark.read.parquet(s"$dir/events.parquet").schema
    val src = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .parquet(s"$dir/events.*")
    val lim = limiter.getOrElse(new graft.engine.RateLimiter(rowsPerSec))
    val stats = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long, Long)]()
    val q = src.writeStream
      .foreachBatch { (batch: DataFrame, id: Long) =>
        val n = batch.count()
        val slept = lim.acquire(n)
        stats.add((id, n, slept))
        ()
      }
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    import scala.jdk.CollectionConverters._
    stats.asScala.toSeq.toDF("batch_id", "rows", "slept_ms")
  }

  /** STREAM-STREAM interval join: each click joined to the same user's
    * purchases within the following 30 minutes — two watermarked
    * streams, state on both sides bounded by watermark + the interval
    * condition (Spark evicts a side's rows once the other side's
    * watermark passes the join range). Inner joins emit matches as
    * soon as both rows exist, so a bounded run emits exactly the batch
    * interval-join, which the oracle recomputes. */
  def streamStreamJoin(spark: SparkSession, dir: String): DataFrame = {
    val clicks = eventsRaw(spark, dir)
      .where(col("event_type") === "click")
      .select(col("user_id"), col("event_id").as("click_id"), col("ts").as("click_ts"))
      .withWatermark("click_ts", "1 hour")
    val purchases = eventsRaw(spark, dir)
      .where(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("event_id").as("purchase_id"),
        col("ts").as("purchase_ts"))
      .withWatermark("purchase_ts", "1 hour")
    val joined = clicks.join(purchases,
      col("user_id") === col("p_user") &&
        col("purchase_ts") >= col("click_ts") &&
        col("purchase_ts") <= col("click_ts") + expr("INTERVAL 30 MINUTES"))
      .select(col("click_id"), col("purchase_id"), col("user_id"))
    runToMemory(joined, "graft_ssj_", "append")
  }

  /** Streaming AS-OF enrichment — the stream-stream twin of
    * `ops/AsOf.asofJoin` (gate `join_asof`): every purchase is emitted
    * with the same user's latest at-or-before click, via
    * `flatMapGroupsWithState` running the identical sweep the batch
    * union+window form encodes: per user, events sorted by
    * (ts, side(click first), event_id) with the last click carried —
    * so the INCLUSIVE bound, the max-event_id tie-break at an instant,
    * and LEFT semantics all fall out of the same algorithm, and the
    * gate reuses the batch query's DuckDB ASOF oracle verbatim.
    *
    * State per user is ONE (ts, click_id) pair — O(keys), not O(rows),
    * unlike the interval join's watermark-bounded row buffers. The
    * per-batch `toSeq.sortBy` buffers one user's single-batch slice
    * (same bound as every mapGroups op). Cross-batch honesty: the carry
    * is exact when micro-batch boundaries respect event-time order per
    * user (a replayed file source; a kafka topic partitioned by user);
    * out-of-order arrivals WITHIN the watermark enrich later lefts
    * correctly but cannot retract an already-emitted left row — the
    * append-mode contract every streaming enrichment shares. */
  def streamingAsOf(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    val ev = eventsStream(spark, dir)
      .where(col("event_type").isin("purchase", "click") && col("user_id").isNotNull)
      .select(col("user_id").cast("long"), unix_micros(col("ts")),
        col("event_type"), col("event_id").cast("long"), col("value"))
      .as[(Long, Long, String, Long, Option[Double])]
    val out = ev.groupByKey(_._1)
      .flatMapGroupsWithState[(Long, Long), AsOfRow](
        OutputMode.Append, GroupStateTimeout.NoTimeout) { (user, it, state) =>
          val evs = it.toSeq.sortBy(e => (e._2, if (e._3 == "click") 0 else 1, e._4))
          var last = state.getOption
          val res = Seq.newBuilder[AsOfRow]
          evs.foreach { e =>
            if (e._3 == "click") last = Some((e._2, e._4))
            else res += AsOfRow(e._4, user, e._2, e._5,
              last.map(_._1), last.map(_._2), last.map(e._2 - _._1))
          }
          last.foreach(state.update)
          res.result().iterator
        }
    runToMemory(out.toDF(), "graft_asof_", "append")
      .select("event_id", "user_id", "ts_us", "value",
        "asof_ts_us", "asof_click_id", "gap_us")
  }

  /** Sessionized per-user event counts with a 30-minute gap — the
    * `session_window` stateful-aggregation shape (extension surface;
    * exercised by tests against a batch recomputation). */
  def sessionCounts(spark: SparkSession, dir: String): DataFrame =
    runToMemory(
      eventsStream(spark, dir)
        .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
        .agg(count(lit(1)).as("cnt"))
        .select(col("session_window.start").as("s_start"),
          col("session_window.end").as("s_end"), col("user_id"), col("cnt")),
      "graft_sess_", "complete")

  /** Streaming HLL register maintenance: distinct-user cardinality per
    * event type as STREAM state — `Sketch.hllRegisters` is a pure
    * select + groupBy/max, so the same code runs on the stream; state
    * is bounded at shards×4096 register rows no matter how many events
    * flow (the sketch property, now as streaming state). Complete-mode
    * output IS the register table, row-equal to the batch build — the
    * gate's oracle replays the batch SQL, proving stream == batch. */
  def hllRegisters(spark: SparkSession, dir: String): DataFrame =
    runToMemory(
      graft.ops.Sketch.hllRegisters(eventsRaw(spark, dir),
        col("user_id"), col("event_type")),
      "graft_hll_", "complete")

  /** The documents table as a file stream (schema from the batch
    * footer) — source for the text-sketch streaming twins. */
  private def documentsRaw(spark: SparkSession, dir: String): DataFrame = {
    val schema = spark.read.parquet(s"$dir/documents.parquet").schema
    spark.readStream.schema(schema).parquet(s"$dir/documents.*")
  }

  /** The span screen as a STREAM — new document batches screened
    * against the standing corpus's distinct gram index
    * ([[graft.ops.Curation.incrementalSpanDedup]]'s front half as a
    * stream): the stride-1 gram explode runs inside the micro-batch
    * (stateless, no shuffle beyond the explode), the membership screen
    * is a stream-static LEFT SEMI join on the md5 gram key, and the
    * emitted rows are the raw `(doc_id, pos)` HITS. Island
    * consolidation deliberately stays the batch pass's job downstream
    * (`row_number` windows are illegal on streams — and the
    * online-screen / offline-consolidate split is exactly how a
    * production deployment runs this). Stateless end to end: no
    * watermark, no stored state, append mode. Oracle = the batch
    * screen's dup CTE — stream equals batch hit-for-hit. */
  def spanScreenStream(spark: SparkSession, dir: String): DataFrame = {
    import graft.ops.Curation
    val corpus = spark.read.parquet(s"$dir/documents.parquet")
      .where(col("doc_id") % 2 === 0)
    val index = Curation.stride1Grams(corpus, 10).select("g").distinct()
    val hits = Curation.stride1Grams(
        documentsRaw(spark, dir).where(col("doc_id") % 2 === 1), 10)
      .join(index, Seq("g"), "left_semi")
      .select(col("doc_id"), col("pos"))
    runToMemory(hits, "graft_spanscr_", "append")
  }

  /** STREAMING MAINTENANCE of the span-gram index (VERDICT r10 #5):
    * where [[spanScreenStream]] only READS the standing `(g, df)`
    * artifact, this stream also WRITES it — each micro-batch screens
    * its documents against the standing corpus gram set (any gram hit
    * → rejected, the `dedup_span_index_lifecycle` admission rule) and
    * the ADMITTED documents' gram counts merge into the index store
    * through [[perBatchSink]] — the span analog of
    * [[windowCountsToJdbc]]'s MERGE sink, in the log-structured form a
    * parquet store supports: one `(g, df)` increment directory per
    * micro-batch, compacted by the additive groupBy on read (exactly
    * [[graft.ops.Curation.spanIndexAppend]]'s arithmetic).
    *
    * Admission deliberately screens against the ORIGINAL index
    * SNAPSHOT, not the growing one: that makes the admitted set — and
    * therefore the maintained index — independent of micro-batch
    * slicing (stream-appended ≡ batch rebuild over the same final doc
    * set, the gate's equality), and it is the right concurrency
    * posture at 100 TB, where parallel ingest streams must not race on
    * read-your-own-writes admission. Cross-batch duplicates among
    * ADMITTED docs are the next compaction's `spanIndexCompact` /
    * re-screen concern, the same contract as the batch lifecycle.
    * Returns the maintained index — `(g, df)` over corpus ∪ admitted. */
  def spanIndexMaintainStream(spark: SparkSession, dir: String): DataFrame = {
    import graft.ops.Curation
    val corpus = spark.read.parquet(s"$dir/documents.parquet")
      .where(col("doc_id") % 2 === 0)
    // the standing artifact, materialized once: the screen's read side
    // AND the base of the final merge (a lazy plan would re-derive the
    // corpus explode per micro-batch — the streaming-media lesson)
    val index0 = Curation.spanIndexBuild(corpus).localCheckpoint(true)
    val increments = perBatchSink(documentsRaw(spark, dir).where(col("doc_id") % 2 === 1),
        workDir("stream_span_index", dir), "increments") { (b, write) =>
      val dupDocs = Curation.stride1Grams(b, 10)
        .join(index0.select("g"), Seq("g"), "left_semi")
        .select("doc_id").distinct()
      write(Curation.spanIndexBuild(b.join(dupDocs, Seq("doc_id"), "left_anti")))
    }
    val maintained = increments
      .map(spark.read.parquet(_))
      .foldLeft(index0)(_ unionByName _)
      .groupBy("g").agg(sum(col("df")).as("df"))
      .localCheckpoint(true)
    graft.ops.Dedup.releaseOwnCheckpoint(index0)
    maintained
  }

  /** [[mediaQuarantineStream]]'s VIDEO twin — the decode-heaviest
    * stream (container parse + per-keyframe image decode per asset),
    * where an unisolated corrupt clip is the most expensive possible
    * wedge. Its poison kinds include a corrupt keyframe payload inside a
    * VALID container: the parse succeeds and only the keyframe image
    * decode quarantines, the video-specific hazard. Good clips screen
    * with [[videoDedupStream]]'s perceptual screen. */
  def videoQuarantineStream(spark: SparkSession, dir: String): DataFrame =
    quarantineStream(spark, dir, VideoPHash, "video_quarantine_stream",
      "stream_vid_quarantine")

  /** Stream-MAINTAINED IVF vector index (round 12): the ANN sibling of
    * [[spanIndexMaintainStream]], completing the set — every standing
    * index (LSH bands, span gram counts, IVF cells) now has a
    * stream-maintained variant. New vectors arrive as micro-batches
    * and each batch's cell assignments (`Similarity.ivfAssign` against
    * the FROZEN coarse centroids — the `ann_index_lifecycle` append
    * contract, so there is no global state to drift) land as one
    * [[perBatchSink]] increment directory (checkpoint replay rewrites
    * its own dir — the parquet analog of the MERGE sink). The
    * probe then reads the UNION of generations; because assignment is
    * per-vector against frozen centroids, stream-appended ≡ rebuilt
    * over the full collection — the gate's oracle replays the
    * single-build probe. At 100 TB: the standing generations are the
    * persisted artifact; per-batch cost is batch × broadcast(centroids). */
  def annIndexMaintainStream(spark: SparkSession, dir: String): DataFrame = {
    import graft.ops.Similarity
    val embSchema = spark.read.parquet(s"$dir/embeddings.parquet").schema
    val all = spark.read.parquet(s"$dir/embeddings.parquet")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))
    val cents = all.where(col("vec_id") < 16)
      .select(col("vec_id").as("cid"), col("emb").as("ce"))
      .localCheckpoint(true) // 16 rows; frozen for every generation
    val work = workDir("stream_ann_index", dir)
    Similarity.ivfAssign(all.where(col("vec_id") % 2 === 0), cents)
      .write.mode("overwrite").parquet(s"$work/increments/gen_0")
    val added = spark.readStream.schema(embSchema)
      .option("maxFilesPerTrigger", "1")
      .parquet(s"$dir/embeddings.*")
      .where(col("vec_id") % 2 === 1)
    // every generation: gen_0 AND the batch_* dirs
    val generations = perBatchSink(added, work, "increments") { (b, write) =>
      write(Similarity.ivfAssign(b.select(col("vec_id"),
        col("embedding").cast("array<double>").as("emb")), cents))
    }
    val index = spark.read.parquet(generations: _*)
    val out = Similarity.ivfProbe(index, all, cents).localCheckpoint(true)
    graft.ops.Dedup.releaseOwnCheckpoint(cents)
    out
  }

  /** DSIR scoring as a STREAM — the serving shape of the
    * [[graft.ops.TextAnalysis.dsirBucketRatios]] artifact: the dense
    * bucket-ratio model is fitted ONCE on the standing corpus (the
    * even-id docs; target = the src0/src1 curated slice), collected
    * (`buckets` rows — the artifact is broadcast-sized by
    * construction), and every arriving document folds its grams
    * through the literal map — map-only, no join, no shuffle, no
    * state; append mode. Stream scores are bit-identical to the batch
    * scorer's `logw` over the same docs (integer micro-unit sum ≡
    * DECIMAL sum — spec-pinned), so the oracle replays the batch
    * formula: model from even ids, scores for odd ids. Top-k
    * SELECTION deliberately stays a batch pass downstream (a global
    * rank is not streamable; the online-score / offline-select split
    * is how production runs DSIR anyway). */
  def dsirScoreStream(spark: SparkSession, dir: String): DataFrame = {
    import graft.ops.TextAnalysis
    val corpus = spark.read.parquet(s"$dir/documents.parquet")
      .where(col("doc_id") % 2 === 0)
    val ratios = TextAnalysis.dsirBucketRatios(corpus,
        col("source").isin("src0", "src1"))
      .collect().map(r => (r.getLong(0), r.getDecimal(1)))
    val scored = TextAnalysis.dsirScoreWith(
      documentsRaw(spark, dir).where(col("doc_id") % 2 === 1), ratios)
    runToMemory(scored, "graft_dsirsc_", "append")
  }

  /** Streaming CMS cell maintenance — the frequency-sketch twin of
    * [[hllRegisters]] (VERDICT r7 #7): `Sketch.cmsSketch` is a pure
    * explode + groupBy/count whose cells are ADDITIVE under union, so
    * the same code runs on the document stream and the complete-mode
    * state IS the corpus sketch — bounded at 4×1024 counter rows no
    * matter how many documents flow. The gate's oracle replays the
    * batch build: stream == batch by hash. */
  def cmsCells(spark: SparkSession, dir: String): DataFrame =
    runToMemory(graft.ops.Sketch.cmsSketch(documentsRaw(spark, dir)),
      "graft_cms_", "complete")

  /** Streaming Bloom word maintenance — the membership-sketch twin:
    * `Sketch.bloomBuild` is explode + groupBy/bit_or, and OR is
    * idempotent-associative, so the running complete-mode state is the
    * per-source filter table (≤ sources × 1041 word rows forever); a
    * live pipeline would probe it with `Sketch.bloomScreen` to ask
    * "was this content ever admitted?" without replaying the corpus.
    * Oracle = batch build: stream == batch by hash. */
  def bloomWords(spark: SparkSession, dir: String): DataFrame =
    runToMemory(graft.ops.Sketch.bloomBuild(documentsRaw(spark, dir),
        md5(col("text")), col("source")),
      "graft_bloom_", "complete")

  /** Streaming min-k priority sample: `Sampling.MinKSample` runs as a
    * complete-mode streaming AGGREGATION (sort+limit is illegal on
    * streams; an aggregate whose buffer IS the k-row sample is not),
    * so the maintained state is bounded at k rows and after every
    * micro-batch the output row holds the exact whole-corpus sample —
    * the mergeable-reservoir law as stream state. The k-row array is
    * exploded on the returned (batch) sink table; oracle = the batch
    * sample SQL, proving stream == batch. */
  def prioritySample(spark: SparkSession, dir: String,
                     k: Int = 100): DataFrame = {
    import spark.implicits._
    import graft.ops.Sampling
    val agg = new Sampling.MinKSample(k)
    val rows = Sampling.priorityRows(documentsRaw(spark, dir))
      .as[Sampling.SampleRow]
    val sampled = rows.groupByKey(_ => 1)
      .agg(agg.toColumn.name("sample"))
      .toDF("g", "sample")
    runToMemory(sampled, "graft_minks_", "complete")
      .select(explode(col("sample")).as("r"))
      .select(col("r.doc_id").as("doc_id"), col("r.source").as("source"),
        col("r.priority").as("priority"))
  }
}

/** Output row of [[StreamingIngest.streamingAsOf]] — the `join_asof`
  * gate's schema (Options encode the LEFT-join nulls). */
final case class AsOfRow(event_id: Long, user_id: Long, ts_us: Long,
                         value: Option[Double], asof_ts_us: Option[Long],
                         asof_click_id: Option[Long], gap_us: Option[Long])
