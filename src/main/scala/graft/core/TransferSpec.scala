package graft.core

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** Column transformation: a scalar SQL expression replacing a source
  * column, keeping its name (reference:
  * `internal/config/config.go:28-31`; example
  * `configs/config.yaml:11-21`). Expressions are Spark SQL, evaluated by
  * Catalyst via `expr()` — strictly richer than the reference, which
  * forwards the string to the source DB unparsed. */
final case class ColumnTransformation(sourceColumn: String, expression: String)

/** One table's transfer config (reference `config.go:21-26`). `primaryKey`
  * accepts a comma-separated composite key; when empty the engine falls
  * back to its table-metadata defaults and otherwise refuses the table
  * (the reference likewise rejects PK-less tables, `mysql.go:216-218`). */
final case class TableMapping(
    name: String,
    targetName: Option[String] = None,
    primaryKey: Option[String] = None,
    columnTransformations: Seq[ColumnTransformation] = Nil,
    partitionBy: Seq[String] = Nil,
    /** Execute `CREATE TABLE IF NOT EXISTS` against the session catalog
      * after the transfer (S8's real DDL-at-destination semantics,
      * `mysql.go:254-274`) — the target becomes queryable by name via
      * `spark.table`/SQL, alongside the `_schema.ddl` sidecar. */
    registerTable: Boolean = false,
    /** Live-destination schema evolution: when the SOURCE gains columns
      * the destination lacks, ALTER the destination to add them
      * (nullable) before transferring, instead of failing the MERGE.
      * Opt-in — a deliberately narrower destination stays untouched by
      * default. Dest-only columns are never dropped or retyped. */
    evolveSchema: Boolean = false,
    /** Incremental append-only sync: re-running a COMPLETED transfer
      * plans and transfers only the rows whose key tuple sorts ABOVE the
      * last synced key, instead of skipping (R6's default). Assumes the
      * source is append-only above that bound — in-place updates below
      * it are not re-read (that is CDC, a different contract). */
    incremental: Boolean = false) {
  def target: String = targetName.getOrElse(name)
  def primaryKeyCols: Option[Seq[String]] =
    primaryKey.map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
}

/** Source/destination endpoint (reference `DBConfig`, `config.go:9-19`).
  * `kind` is the backend type; this engine executes `parquet` natively
  * (the offline testdata analog of all four reference backends) and
  * treats the connector kinds (`mysql`, `postgresql`, `mongodb`,
  * `cassandra`, `jdbc`) as declared-but-unconnected: spec parsing,
  * validation and template generation understand them, execution requires
  * the corresponding Spark connector on the classpath. */
final case class EndpointSpec(
    kind: String,
    path: String = "",
    hosts: Seq[String] = Nil,
    database: String = "",
    tables: Seq[TableMapping] = Nil)

/** Engine knobs (reference `MigrationConfig`, `config.go:34-47`); defaults
  * mirror `SetDefaults` (`config.go:49-80`). */
final case class MigrationSpec(
    batchSize: Int = 1000,
    workers: Int = 4,
    rateLimit: Int = 10000,
    timeoutSec: Int = 30,
    checkpointDir: String = "./data/checkpoints",
    progressIntervalSec: Int = 10,
    checkpointRowThreshold: Int = 1000,
    checkpointIntervalSec: Int = 1,
    /** Plan chunks per wave: consecutive chunks written by ONE query
      * per table (no reference analog — its read loop is strictly serial
      * per table, `mysql.go:302-368`; chunks here are disjoint +
      * idempotent, so one query can write several of them, paying one
      * query's fixed cost instead of one per chunk). Also the most chunks
      * ever uncommitted. */
    chunkParallelism: Int = 4,
    /** R9: interface language, `zh`/`en`/`""` (= detect from env) —
      * reference config `language:` (`main.go:94,256-258`). */
    language: String = "")

final case class TransferSpec(
    source: EndpointSpec,
    destination: EndpointSpec,
    migration: MigrationSpec = MigrationSpec())

/** YAML loader for [[TransferSpec]] (reference `main.go:216-243`
  * `loadConfig`). Field names match the reference's YAML schema so a
  * dbtransfer config ports by changing the endpoint `type`/`path`. */
object TransferSpec {

  def fromYamlFile(path: String): TransferSpec =
    fromYaml(Files.readString(Paths.get(path)))

  def fromYaml(yaml: String): TransferSpec = {
    val root = asMap(new org.yaml.snakeyaml.Yaml().load[Any](yaml))
    TransferSpec(
      source = endpoint(asMap(root.getOrElse("source", null))),
      destination = endpoint(asMap(root.getOrElse("destination", null))),
      migration = migration(asMap(root.getOrElse("migration", null))))
  }

  private def asMap(v: Any): Map[String, Any] = v match {
    case m: java.util.Map[_, _] =>
      m.asScala.map { case (k, v) => k.toString -> v }.toMap
    case null => Map.empty
    case other => sys.error(s"expected a YAML mapping, got: $other")
  }
  private def asList(v: Any): Seq[Any] = v match {
    case l: java.util.List[_] => l.asScala.toSeq
    case null => Nil
    case other => sys.error(s"expected a YAML list, got: $other")
  }
  private def str(m: Map[String, Any], k: String, dflt: String = ""): String =
    m.get(k).map(_.toString).getOrElse(dflt)
  private def optStr(m: Map[String, Any], k: String): Option[String] =
    m.get(k).map(_.toString).filter(_.nonEmpty)
  /** Zero falls back to the default — Go-struct parity: the reference
    * cannot distinguish an explicit 0 from an omitted field and its
    * SetDefaults replaces zero values (`config.go:49-80`). Negative
    * values are unambiguously invalid and refuse loudly. */
  private def int(m: Map[String, Any], k: String, dflt: Int): Int =
    m.get(k).map(_.toString.toInt) match {
      case Some(v) if v < 0 => sys.error(s"migration.$k must not be negative: $v")
      case Some(v) if v > 0 => v
      case _ => dflt
    }

  private def endpoint(m: Map[String, Any]): EndpointSpec =
    EndpointSpec(
      // absent `type` stays EMPTY so the CLI can autodetect from the
      // path (R11, main.go:342-363) — defaulting to "parquet" here made
      // the sniffing unreachable and ran JDBC URLs as parquet dirs
      kind = str(m, "type", ""),
      path = str(m, "path"),
      hosts = asList(m.getOrElse("hosts", null)).map(_.toString),
      database = str(m, "database"),
      tables = asList(m.getOrElse("tables", null)).map(t => table(asMap(t))))

  private def table(m: Map[String, Any]): TableMapping =
    TableMapping(
      name = str(m, "name"),
      targetName = optStr(m, "target_name"),
      primaryKey = optStr(m, "primary_key"),
      columnTransformations = asList(m.getOrElse("column_transformations", null))
        .map(asMap).map(c =>
          ColumnTransformation(str(c, "source_column"), str(c, "expression"))),
      partitionBy = asList(m.getOrElse("partition_by", null)).map(_.toString),
      registerTable = m.get("register_table").exists(_.toString.toBoolean),
      evolveSchema = m.get("evolve_schema").exists(_.toString.toBoolean),
      incremental = m.get("incremental").exists(_.toString.toBoolean))

  private def migration(m: Map[String, Any]): MigrationSpec = {
    val d = MigrationSpec()
    MigrationSpec(
      batchSize = int(m, "batch_size", d.batchSize),
      workers = int(m, "workers", d.workers),
      rateLimit = int(m, "rate_limit", d.rateLimit),
      timeoutSec = int(m, "timeout", d.timeoutSec),
      checkpointDir = str(m, "checkpoint_dir", d.checkpointDir),
      progressIntervalSec = int(m, "progress_interval", d.progressIntervalSec),
      checkpointRowThreshold = int(m, "checkpoint_row_threshold", d.checkpointRowThreshold),
      checkpointIntervalSec = int(m, "checkpoint_interval", d.checkpointIntervalSec),
      chunkParallelism = int(m, "chunk_parallelism", d.chunkParallelism),
      language = str(m, "language", d.language))
  }

  /** `--generate-template` output (reference `main.go:60-213`). */
  def template(kind: String): String =
    s"""source:
       |  type: $kind
       |  path: "/data/source"          # parquet: directory of <table>.parquet
       |  tables:
       |    - name: "users"
       |      target_name: "users_new"
       |      primary_key: "id"
       |      column_transformations:
       |        - source_column: "name"
       |          expression: "UPPER(name)"
       |        - source_column: "price"
       |          expression: "price * 100"
       |    - name: "orders"
       |      register_table: true    # CREATE TABLE IF NOT EXISTS in the session catalog
       |      evolve_schema: true     # ALTER destination when the source gains columns
       |      incremental: true       # append-only delta sync on re-run (vs skip)
       |      column_transformations:
       |        - source_column: "status"
       |          expression: "CONCAT('Status: ', status)"
       |
       |destination:
       |  type: $kind
       |  path: "/data/destination"
       |
       |migration:
       |  batch_size: 1000        # rows per read/write unit
       |  workers: 4              # tables transferred concurrently
       |  rate_limit: 10000       # rows/sec across the job (best-effort)
       |  timeout: 30
       |  checkpoint_dir: "./data/checkpoints"
       |  progress_interval: 10   # seconds between progress reports
       |  checkpoint_row_threshold: 1000
       |  checkpoint_interval: 1
       |  chunk_parallelism: 4    # plan chunks per wave (one query)
       |  language: "en"          # interface language (zh: 中文, en: English)
       |""".stripMargin
}
