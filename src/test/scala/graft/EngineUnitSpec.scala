package graft


import graft.core.TransferSpec
import graft.engine._

/** Unit tests for the engine-internal machinery: checkpoint atomicity +
  * JSON round-trip, cadence policy, rate-limiter math, retry/backoff,
  * progress stats, YAML spec loading with reference-parity defaults. */
class EngineUnitSpec extends SparkTestBase {

  // --- Checkpoint (R4) --------------------------------------------------

  test("checkpoint JSON round-trips") {
    val cp = Checkpoint(Map("o_orderkey" -> "1500"), 1723400000000L, complete = false, 7)
    assert(Checkpoint.fromJson(Checkpoint.toJson(cp)).contains(cp))
  }

  test("checkpoint save is atomic and leaves no tmp files") {
    val dir = tempDir("cp")
    val cp = Checkpoint(Map("id" -> "42"), 1L, complete = true, 3)
    Checkpoint.save(dir, "parquet", "users", cp)
    assert(Checkpoint.load(dir, "parquet", "users").contains(cp))
    val leftovers = new java.io.File(dir).listFiles().map(_.getName)
      .filter(_.endsWith(".tmp"))
    assert(leftovers.isEmpty, s"tmp files left behind: ${leftovers.toSeq}")
    // overwrite keeps the file readable (atomic replace)
    Checkpoint.save(dir, "parquet", "users", cp.copy(chunkIndex = 9))
    assert(Checkpoint.load(dir, "parquet", "users").exists(_.chunkIndex == 9))
  }

  test("checkpoint save fsyncs its directory after the rename; round-trips, leaves no tmp") {
    val dir = java.nio.file.Paths.get(tempDir("cpdur"))
    // the directory fsync is best-effort; on this platform's file
    // systems a directory opens, and a missing one reports false
    assert(Checkpoint.forceDir(dir))
    assert(!Checkpoint.forceDir(dir.resolve("absent")))
    val cp = Checkpoint(Map("id" -> "99"), 1723400000000L, complete = false, 5,
      bounds = Seq("10", "20", "99"), totalRows = 30L, keyCols = Seq("id"))
    (1 to 5).foreach { i =>
      Checkpoint.save(dir.toString, "jdbc", "t", cp.copy(chunkIndex = i))
      assert(Checkpoint.load(dir.toString, "jdbc", "t").contains(cp.copy(chunkIndex = i)))
    }
    assert(dir.toFile.list().toSeq == Seq("jdbc_t.checkpoint"),
      s"left behind: ${dir.toFile.list().toSeq}")
  }

  test("checkpoint timestamp serializes as RFC3339; legacy epoch-millis still parses") {
    val cp = Checkpoint(Map("id" -> "7"), 1723400000000L, complete = false, 2)
    val json = Checkpoint.toJson(cp)
    assert(json.contains("\"last_updated\": \"2024-08-11T"), json)
    assert(Checkpoint.fromJson(json).contains(cp))
    // r2-format checkpoints carried epoch millis — still readable
    // (and a missing version field reads as format v1)
    val legacy = """{"last_key": {"id": "7"}, "last_updated": 1723400000000, "complete": false, "chunk_index": 2}"""
    assert(Checkpoint.fromJson(legacy).contains(cp.copy(version = 1)))
  }

  test("corrupt checkpoint reads as None, not a crash") {
    val dir = tempDir("cp")
    java.nio.file.Files.writeString(
      Checkpoint.path(dir, "parquet", "t"), "{not json")
    assert(Checkpoint.load(dir, "parquet", "t").isEmpty)
  }

  test("composite tuple bounds round-trip through checkpoint JSON (format v2)") {
    val cp = Checkpoint(Map("region" -> "R2", "id" -> "400"), 1723400000000L,
      complete = false, chunkIndex = 3,
      boundCols = Seq(Seq("R0", "125"), Seq("R1", "50"), Seq("R4", "200")),
      totalRows = 1000L)
    val json = Checkpoint.toJson(cp)
    assert(json.contains(s""""version": ${Checkpoint.FormatVersion}"""), json)
    assert(Checkpoint.fromJson(json).contains(cp))
  }

  test("key identity round-trips through checkpoint JSON (format v3); v2 files read keyCols empty") {
    val cp = Checkpoint(Map("id" -> "400"), 1723400000000L, complete = false,
      chunkIndex = 3, bounds = Seq("100", "400"), totalRows = 500L,
      keyCols = Seq("region", "id"))
    val json = Checkpoint.toJson(cp)
    assert(json.contains(""""key_cols": ["region", "id"]"""), json)
    assert(Checkpoint.fromJson(json).contains(cp))
    // a v2 file (no key_cols) parses with empty key identity — the
    // engines then fall back to their legacy lastKey-name guards
    val v2 = """{"version": 2, "last_key": {"id": "7"}, "last_updated": 1, "complete": false, "chunk_index": 2, "bounds": ["10", "20"], "total_rows": 40}"""
    val parsed = Checkpoint.fromJson(v2).get
    assert(parsed.keyCols.isEmpty && parsed.version == 2)
  }

  test("catalog identifier escaping doubles backticks") {
    import graft.engine.TableTransferJob.escapeIdent
    assert(escapeIdent("plain") == "plain")
    assert(escapeIdent("t`x") == "t``x")
    assert(escapeIdent("``") == "````")
  }

  test("checkpoint from a NEWER format refuses loudly instead of misreading (VERDICT r4 #7)") {
    val future = s"""{"version": ${Checkpoint.FormatVersion + 1}, "last_key": {"id": "7"}, "last_updated": 1, "complete": false, "chunk_index": 2, "bounds": ["10", "20"], "total_rows": 40}"""
    val e = intercept[CheckpointFormatException](Checkpoint.fromJson(future))
    assert(e.getMessage.contains(s"v${Checkpoint.FormatVersion + 1}"))
    // the refusal must escape load() too — None would mean "no
    // checkpoint" and silently restart the transfer on a fresh plan
    val dir = tempDir("cp")
    java.nio.file.Files.writeString(Checkpoint.path(dir, "jdbc", "t"), future)
    intercept[CheckpointFormatException](Checkpoint.load(dir, "jdbc", "t"))
    // …while a GARBLED file (no trustworthy version claim) still
    // degrades to None (fresh start; idempotent writes absorb it)
    java.nio.file.Files.writeString(Checkpoint.path(dir, "jdbc", "t"), "{torn")
    assert(Checkpoint.load(dir, "jdbc", "t").isEmpty)
  }

  test("JDBC URL subprotocol derives the destination dialect (ADVICE r4)") {
    import graft.sinks.JdbcUpsert
    assert(JdbcTransferJob.dialectFor("jdbc:mysql://h/db").contains(JdbcUpsert.MySql))
    assert(JdbcTransferJob.dialectFor("jdbc:mariadb://h/db").contains(JdbcUpsert.MySql))
    assert(JdbcTransferJob.dialectFor("jdbc:postgresql://h/db").contains(JdbcUpsert.Postgres))
    assert(JdbcTransferJob.dialectFor("JDBC:DERBY:memory:x").contains(JdbcUpsert.Derby))
    assert(JdbcTransferJob.dialectFor("jdbc:h2:mem:x").isEmpty)
    assert(JdbcTransferJob.dialectFor(null).isEmpty)
  }

  // --- Cadence (R5) -----------------------------------------------------

  test("cadence: saves on row threshold OR time interval") {
    val p = new CheckpointPolicy(rowThreshold = 1000, intervalMs = 100000)
    assert(!p.observe(400))
    assert(!p.observe(400))
    assert(p.observe(400))   // 1200 >= 1000 → save, counter resets
    assert(!p.observe(400))
    val q = new CheckpointPolicy(rowThreshold = Long.MaxValue, intervalMs = 1)
    Thread.sleep(5)
    assert(q.observe(1))     // interval elapsed
  }

  // --- Rate limiter (R2) ------------------------------------------------

  test("rate limiter sleeps to hold rows/sec; no sleep when under budget") {
    var t = 0L; var slept = 0L
    val rl = new RateLimiter(1000, now = () => t, sleep = s => slept += s)
    assert(rl.acquire(500) == 500)  // 500 rows at t=0 → ideal 500ms ahead
    t = 1000; slept = 0
    assert(rl.acquire(100) == 0)    // 600 rows by t=1s → under 1000/s budget
    assert(slept == 0)
  }

  test("rate limiter slides its window: idle time banks at most maxCreditMs of burst") {
    var t = 0L; var slept = 0L
    val rl = new RateLimiter(1000, now = () => t, sleep = s => slept += s,
      maxCreditMs = 1000)
    rl.acquire(100)          // t=0: 100 rows, ideal 100ms ahead → sleeps 100
    t = 60000                // one minute idle: naive credit = ~60s of budget
    slept = 0
    // a 5000-row burst would be fully admitted with unbounded credit;
    // with the slide only ~1s of credit is banked → must sleep ~4s
    val s = rl.acquire(5000)
    assert(s >= 3500, s"burst admitted with only ${s}ms sleep — window did not slide")
  }

  // --- Retry (K5) -------------------------------------------------------

  test("retry retries then succeeds; exhausts then throws") {
    var n = 0
    val r = Retry(attempts = 3, delayMs = 0, sleep = _ => ()) {
      n += 1; if (n < 3) sys.error("boom") else "ok"
    }
    assert(r == "ok" && n == 3)
    var m = 0
    intercept[RuntimeException] {
      Retry(attempts = 2, delayMs = 0, sleep = _ => ()) { m += 1; sys.error("x") }
    }
    assert(m == 2)
  }

  // --- Progress (R7) ----------------------------------------------------

  test("progress stats: percent, windowed rate, remaining") {
    var t = 0L
    val s = new ProgressStats("t", totalRows = 1000, now = () => t)
    s.add(250); t = 1000
    val r1 = s.report()
    assert(r1.contains("250/1000") && r1.contains("25.0%") && r1.contains("250 rows/s"))
    s.add(250); t = 2000
    val r2 = s.report() // window = last 1s, 250 rows
    assert(r2.contains("500/1000") && r2.contains("250 rows/s"))
    assert(s.remaining == 500)
  }

  // --- Spec loading (config.go parity) ----------------------------------

  test("YAML spec parses with reference field names and defaults") {
    val spec = TransferSpec.fromYaml(
      """source:
        |  type: parquet
        |  path: "/data/in"
        |  tables:
        |    - name: "users"
        |      target_name: "users_new"
        |      primary_key: "id"
        |      column_transformations:
        |        - source_column: "name"
        |          expression: "UPPER(name)"
        |    - name: "orders"
        |destination:
        |  type: parquet
        |  path: "/data/out"
        |migration:
        |  batch_size: 2000
        |  workers: 8
        |""".stripMargin)
    assert(spec.source.tables.map(_.name) == Seq("users", "orders"))
    assert(spec.source.tables.head.target == "users_new")
    assert(spec.source.tables.head.primaryKeyCols.contains(Seq("id")))
    assert(spec.source.tables.head.columnTransformations.head.expression == "UPPER(name)")
    assert(spec.source.tables(1).target == "orders") // rename defaults to name
    assert(spec.migration.batchSize == 2000 && spec.migration.workers == 8)
    // defaults mirror reference SetDefaults (config.go:49-80)
    assert(spec.migration.rateLimit == 10000)
    assert(spec.migration.timeoutSec == 30)
    assert(spec.migration.checkpointRowThreshold == 1000)
    assert(spec.migration.checkpointIntervalSec == 1)
    assert(spec.migration.progressIntervalSec == 10)
  }

  test("absent endpoint type stays EMPTY so CLI autodetect can fire (R11)") {
    // defaulting to "parquet" in the loader made the CLI's path sniffing
    // unreachable — a jdbc: URL with no declared type ran as a parquet dir
    val spec = TransferSpec.fromYaml(
      """source:
        |  path: "jdbc:mysql://db:3306/app"
        |  tables:
        |    - name: "users"
        |destination:
        |  path: "/data/out"
        |migration:
        |  batch_size: 1000
        |""".stripMargin)
    assert(spec.source.kind == "", "loader must not pre-claim a backend")
    assert(graft.cli.Main.autodetect(spec.source.path) == "mysql")
    assert(graft.cli.Main.autodetect(spec.destination.path) == "parquet")
  }

  test("template generates loadable YAML") {
    val spec = TransferSpec.fromYaml(TransferSpec.template("parquet"))
    assert(spec.source.tables.nonEmpty)
    assert(spec.migration.batchSize == 1000)
  }

  test("catalog: PK discovery refuses unknown tables (S6)") {
    assert(graft.sources.Catalog.primaryKey("lineitem") == Seq("l_orderkey", "l_linenumber"))
    intercept[RuntimeException](graft.sources.Catalog.primaryKey("nope"))
    val sess = graft.Sessions.builder("cat-exists", 2).getOrCreate()
    assert(graft.sources.Catalog.tableExists(sess, "/root/testdata/sf0.001", "orders"))
    assert(!graft.sources.Catalog.tableExists(sess, "/root/testdata/sf0.001", "nope"))
  }

  test("chunk sizing: shared cap and floors (both engines)") {
    import graft.engine.ChunkSizing
    // floor: never below batch/threshold
    assert(ChunkSizing.chunkRows(100, 1000, 500) == 1000)
    assert(ChunkSizing.chunkCount(100, 1000, 500) == 1)
    // cap: a huge table still plans at most 256 chunks
    assert(ChunkSizing.chunkCount(1_000_000_000L, 1000, 1000) == 256)
    assert(ChunkSizing.chunkRows(1_000_000_000L, 1000, 1000) ==
      math.ceil(1_000_000_000L / 256.0).toLong)
    // middle: exact division
    assert(ChunkSizing.chunkCount(10_000, 1000, 1000) == 10)
  }

  test("write parallelism policy: embedded URLs serialize, servers keep partitioning") {
    import graft.sinks.JdbcUpsert.effectiveWriteParallelism
    assert(effectiveWriteParallelism("jdbc:derby:/tmp/x/db") == 1)
    assert(effectiveWriteParallelism("jdbc:derby://host:1527/db") == 0)
    assert(effectiveWriteParallelism("jdbc:postgresql://h/db") == 0)
  }

  test("CLI autodetect sniffs backend from path (R11)") {
    import graft.cli.Main.autodetect
    assert(autodetect("jdbc:mysql://h/db") == "mysql")
    assert(autodetect("jdbc:postgresql://h/db") == "postgresql")
    assert(autodetect("jdbc:derby:/tmp/db") == "jdbc")
    assert(autodetect("mongodb://h:27017") == "mongodb")
    assert(autodetect("h1:9042,h2:9042") == "cassandra")
    assert(autodetect("/data/parquet") == "parquet")
  }
}
