package graft.engine

import java.io.File
import java.nio.channels.FileChannel
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths, StandardCopyOption, StandardOpenOption}

/** Per-table resume token (reference `Checkpoint`,
  * `internal/migration/migration.go:30-34`):
  * `lastKey` maps key column → last fully-written upper bound (string
  * encoded, like the reference), `complete` marks the table done so
  * reruns skip it (R6, `mysql.go:226-229`).
  */
final case class Checkpoint(
    lastKey: Map[String, String],
    lastUpdated: Long,
    complete: Boolean,
    chunkIndex: Int = -1,
    /** Read only, to recognise a legacy plan: the bucket count of a v3
      * parquet hash-bucket checkpoint. The parquet engine restarts such a
      * plan when it is in flight; nothing writes this field any more. */
    bucketCount: Int = -1,
    /** Single-column key plans: string-encoded chunk upper bounds (last =
      * the exact key max). Persisted so a resume CONTINUES the same plan
      * instead of re-planning the remainder — the fixed resume cost drops
      * to a checkpoint read. The live JDBC engine stores the whole plan
      * and indexes it by `chunkIndex`; the parquet engine stores the
      * bounds of the chunks after `chunkIndex`. */
    bounds: Seq[String] = Nil,
    /** Row count at plan time (progress denominator on resume). */
    totalRows: Long = -1L,
    /** Composite-key chunk plans: each bound is a TUPLE of key-column
      * values (one per planned column, in key-sequence order). Single-
      * column plans keep using `bounds` so v1 checkpoints stay readable. */
    boundCols: Seq[Seq[String]] = Nil,
    /** The key columns (in key-sequence order) the persisted plan was
      * computed OVER. Chunk membership is a function of the key, so
      * resuming a plan under a different key silently remaps chunks and
      * loses rows; readers refuse on mismatch. Empty in pre-v3 files
      * (legacy guards apply). */
    keyCols: Seq[String] = Nil,
    /** On-disk format version this checkpoint was written with. A reader
      * older than the file REFUSES rather than silently misreading a
      * persisted chunk plan mid-transfer. */
    version: Int = Checkpoint.FormatVersion)

/** A checkpoint file written by a NEWER engine than this one — resuming
  * through a misread plan could skip or re-map chunks, so the load
  * refuses loudly instead of returning None (None means "no checkpoint"
  * and would silently restart the transfer from a fresh plan). */
final class CheckpointFormatException(msg: String)
  extends RuntimeException(msg)

/** Atomic JSON checkpoint files, one per table:
  * `<dir>/<kind>_<table>.checkpoint` (naming per `mysql.go:533-576`).
  *
  * Save is write-tmp → fsync → atomic rename → fsync of the directory,
  * matching the MySQL/PG/Mongo engines (`mysql.go:554-573`) and
  * deliberately FIXING the reference's Cassandra path, which writes in
  * place and can tear on crash (`cassandra.go:1059-1061`). Without the
  * directory fsync a power loss can undo the rename.
  */
object Checkpoint {

  /** Current on-disk format. v1 = flat single-column `bounds`;
    * v2 adds `bound_cols` (composite-key tuple bounds) and the
    * `version` field itself; v3 adds `key_cols` (the plan's key
    * identity); v4 drops `bucket_count` and gives parquet plans of any
    * key, composite ones as `bound_cols` tuples (an older reader would
    * take an empty `bounds` for "no plan"). Readers accept any version ≤
    * current (missing = 1) and refuse anything newer. */
  val FormatVersion = 4

  def path(dir: String, kind: String, table: String): Path =
    Paths.get(dir, s"${kind}_$table.checkpoint")

  def save(dir: String, kind: String, table: String, cp: Checkpoint): Unit = {
    val target = path(dir, kind, table)
    Files.createDirectories(target.getParent)
    val tmp = Files.createTempFile(target.getParent, s".$table", ".tmp")
    try {
      Files.writeString(tmp, toJson(cp))
      val ch = FileChannel.open(tmp, StandardOpenOption.WRITE)
      try ch.force(true) finally ch.close()
      Files.move(tmp, target,
        StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
      forceDir(target.getParent)
    } finally Files.deleteIfExists(tmp)
  }

  /** fsync a directory so a rename inside it is durable. Best-effort:
    * false where the file system refuses to open a directory (Windows). */
  private[graft] def forceDir(dir: Path): Boolean =
    try {
      val ch = FileChannel.open(dir, StandardOpenOption.READ)
      try ch.force(true) finally ch.close()
      true
    } catch { case _: java.io.IOException => false }

  def load(dir: String, kind: String, table: String): Option[Checkpoint] = {
    val p = path(dir, kind, table)
    if (!Files.exists(p)) None
    else fromJson(new String(Files.readAllBytes(p), StandardCharsets.UTF_8))
  }

  def delete(dir: String, kind: String, table: String): Unit =
    Files.deleteIfExists(path(dir, kind, table))

  def deleteAll(dir: String): Unit = {
    val d = new File(dir)
    Option(d.listFiles()).getOrElse(Array.empty[File])
      .filter(_.getName.endsWith(".checkpoint")).foreach(_.delete())
  }

  // -- JSON (hand-rolled: flat schema, no library dependency drift) -----

  private[graft] def toJson(cp: Checkpoint): String = {
    import graft.util.Fs.{jsonEscape => q}
    val keys = cp.lastKey.toSeq.sortBy(_._1)
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ", ", "}")
    // last_updated is RFC3339, matching the reference's time.Time JSON
    // encoding (migration.go:30-34) so checkpoint files are
    // format-compatible; read-side accepts legacy epoch-millis too.
    val ts = java.time.Instant.ofEpochMilli(cp.lastUpdated).toString
    val bs = cp.bounds.map(q).mkString("[", ", ", "]")
    val bcs = cp.boundCols
      .map(_.map(q).mkString("[", ", ", "]")).mkString("[", ", ", "]")
    val kcs = cp.keyCols.map(q).mkString("[", ", ", "]")
    s"""{"version": ${cp.version}, "last_key": $keys, "last_updated": ${q(ts)}, "complete": ${cp.complete}, "chunk_index": ${cp.chunkIndex}, "bounds": $bs, "bound_cols": $bcs, "key_cols": $kcs, "total_rows": ${cp.totalRows}}"""
  }

  private[graft] def fromJson(s: String): Option[Checkpoint] = {
    // json4s ships with Spark; used read-side only (writes stay
    // hand-rolled so the on-disk format is pinned by our code).
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    val parsed =
      try Some(JsonMethods.parse(s)) catch { case _: Exception => None }
    parsed.flatMap { j =>
      val version = (j \ "version") match {
        case JInt(n) => n.toInt; case _ => 1
      }
      // refusal must ESCAPE load(): a torn/garbled file degrades to None
      // (fresh start, idempotent writes absorb it), but a well-formed
      // file from a newer format is a real plan this reader cannot be
      // trusted to interpret.
      if (version > FormatVersion) throw new CheckpointFormatException(
        s"checkpoint format v$version is newer than this engine's " +
          s"v$FormatVersion — upgrade the engine or remove the checkpoint")
      fromParsed(j, version)
    }
  }

  private def fromParsed(j: org.json4s.JValue, version: Int): Option[Checkpoint] =
    try {
      import org.json4s._
      val lastKey = (j \ "last_key") match {
        case JObject(fs) => fs.map { case (k, v) => k -> v.values.toString }.toMap
        case _ => Map.empty[String, String]
      }
      val updated = (j \ "last_updated") match {
        case JInt(n) => n.toLong; case JLong(n) => n
        case JString(s) => java.time.Instant.parse(s).toEpochMilli
        case _ => 0L
      }
      val complete = (j \ "complete") match {
        case JBool(b) => b; case _ => false
      }
      val chunk = (j \ "chunk_index") match {
        case JInt(n) => n.toInt; case _ => -1
      }
      val buckets = (j \ "bucket_count") match {
        case JInt(n) => n.toInt; case _ => -1
      }
      val bounds = (j \ "bounds") match {
        case JArray(vs) => vs.collect { case JString(s) => s }
        case _ => Nil
      }
      val boundCols = (j \ "bound_cols") match {
        case JArray(rows) => rows.collect {
          case JArray(vs) => vs.collect { case JString(s) => s }
        }
        case _ => Nil
      }
      val keyCols = (j \ "key_cols") match {
        case JArray(vs) => vs.collect { case JString(s) => s }
        case _ => Nil
      }
      val totalRows = (j \ "total_rows") match {
        case JInt(n) => n.toLong; case JLong(n) => n; case _ => -1L
      }
      Some(Checkpoint(lastKey, updated, complete, chunk, buckets, bounds,
        totalRows, boundCols, keyCols, version))
    } catch { case _: Exception => None }
}

/** Cadence: save when either `checkpoint_row_threshold` rows were
  * processed since the last save or `checkpoint_interval` seconds
  * elapsed (reference `config.go:71-79`, applied `mysql.go:332-355`). */
final class CheckpointPolicy(rowThreshold: Long, intervalMs: Long) {
  private var rowsSinceSave = 0L
  private var lastSaveAt = System.currentTimeMillis()

  def observe(rows: Long): Boolean = {
    rowsSinceSave += rows
    val now = System.currentTimeMillis()
    if (rowsSinceSave >= rowThreshold || now - lastSaveAt >= intervalMs) {
      rowsSinceSave = 0L; lastSaveAt = now; true
    } else false
  }
}
