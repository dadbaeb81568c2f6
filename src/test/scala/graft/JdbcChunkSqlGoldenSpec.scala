package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.engine.JdbcTransferJob
import graft.engine.JdbcTransferJob.{CharKey, NumericKey, PlanKey, TemporalKey}
import graft.sinks.JdbcUpsert.{Derby, MySql, Postgres}

/** Golden-SQL conformance for the SOURCE side of the live transfer —
  * the one keyset planner every key style goes through, and the single
  * `key > lo AND key <= hi` predicate each chunk reads with. Like the
  * upsert goldens ([[JdbcDialectGoldenSpec]]), the MySQL/PostgreSQL
  * variants cannot execute in this sandbox, so the exact statement text
  * is pinned instead: pagination shape per dialect (`LIMIT k,1` on
  * MySQL — `mysql.go:599-631` pages with LIMIT — vs ANSI
  * `OFFSET … FETCH`), row-value vs expanded tuple comparisons, and the
  * per-style key literals (numeric keys of every SQL type share one
  * style). The Derby shapes are additionally live-proven by
  * JdbcDerbySpec.
  */
class JdbcChunkSqlGoldenSpec extends AnyFunSuite {

  private val single = PlanKey(Seq("id"), Seq(NumericKey), Derby)
  private def comp(d: graft.sinks.JdbcUpsert.Dialect) = PlanKey(
    Seq("region", "id"),
    Seq(CharKey(backslashEscape = d == MySql), NumericKey), d)

  test("golden: keyset probe SQL — ANSI OFFSET/FETCH vs MySQL LIMIT, ? binds") {
    assert(single.probeSql("users", hasPrev = false, 250) ==
      "SELECT id FROM users ORDER BY id " +
        "OFFSET 249 ROWS FETCH NEXT 1 ROWS ONLY")
    assert(single.copy(dialect = MySql).probeSql("users", hasPrev = true, 250) ==
      "SELECT id FROM users WHERE id > ? ORDER BY id LIMIT 249, 1")
    assert(single.copy(dialect = Postgres).probeSql("users", hasPrev = true, 250) ==
      "SELECT id FROM users WHERE id > ? ORDER BY id " +
        "OFFSET 249 ROWS FETCH NEXT 1 ROWS ONLY")
  }

  test("golden: composite probe walks the FULL tuple with row-value comparison on MySQL/PG") {
    assert(comp(MySql).probeSql("t", hasPrev = true, 125) ==
      "SELECT region, id FROM t WHERE (region, id) > (?, ?) " +
        "ORDER BY region, id LIMIT 124, 1")
    assert(comp(Postgres).probeSql("t", hasPrev = true, 125) ==
      "SELECT region, id FROM t WHERE (region, id) > (?, ?) " +
        "ORDER BY region, id OFFSET 124 ROWS FETCH NEXT 1 ROWS ONLY")
    // Derby has no row-value comparisons → index-friendly expanded form
    assert(comp(Derby).probeSql("t", hasPrev = true, 125) ==
      "SELECT region, id FROM t " +
        "WHERE (region > ? OR (region = ? AND id > ?)) " +
        "ORDER BY region, id OFFSET 124 ROWS FETCH NEXT 1 ROWS ONLY")
  }

  test("golden: probe BIND ORDER — row-value binds each column once; expanded repeats non-last columns") {
    // (region, id) > (?, ?): params 1, 2 = region, id
    assert(comp(MySql).gtBindIdx == Seq(0, 1))
    assert(comp(Postgres).gtBindIdx == Seq(0, 1))
    // (region > ? OR (region = ? AND id > ?)): params 1, 2 = region; 3 = id
    assert(comp(Derby).gtBindIdx == Seq(0, 0, 1))
    val k3 = PlanKey(Seq("a", "b", "c"),
      Seq(NumericKey, NumericKey, NumericKey), Derby)
    assert(k3.gtBindIdx == Seq(0, 0, 1, 1, 2))
    assert(single.gtBindIdx == Seq(0))
  }

  test("golden: MAX tuple orders the whole key descending (never per-column MAX)") {
    assert(comp(Derby).maxSql("t") ==
      "SELECT region, id FROM t ORDER BY region DESC, id DESC FETCH FIRST 1 ROWS ONLY")
    assert(comp(MySql).maxSql("t") ==
      "SELECT region, id FROM t ORDER BY region DESC, id DESC LIMIT 1")
  }

  test("golden: tuple range predicates — both bounds, both dialect shapes") {
    val lo = Seq("R1", "500"); val hi = Seq("R3", "80")
    assert(s"${comp(MySql).gt(lo)} AND ${comp(MySql).le(hi)}" ==
      "(region, id) > ('R1', 500) AND (region, id) <= ('R3', 80)")
    assert(s"${comp(Derby).gt(lo)} AND ${comp(Derby).le(hi)}" ==
      "(region > 'R1' OR (region = 'R1' AND id > 500)) AND " +
        "(region < 'R3' OR (region = 'R3' AND id <= 80))")
  }

  test("golden: three-column expanded comparison nests correctly") {
    val k3 = PlanKey(Seq("a", "b", "c"),
      Seq(NumericKey, NumericKey, NumericKey), Derby)
    assert(k3.gt(Seq("1", "2", "3")) ==
      "(a > 1 OR (a = 1 AND (b > 2 OR (b = 2 AND c > 3))))")
    assert(k3.le(Seq("1", "2", "3")) ==
      "(a < 1 OR (a = 1 AND (b < 2 OR (b = 2 AND c <= 3))))")
  }

  test("golden: key literals per style — quoting, MySQL backslashes, JDBC temporal escapes") {
    assert(CharKey(backslashEscape = false).literal("O'Brien") == "'O''Brien'")
    // MySQL default mode treats backslash as an escape INSIDE string
    // literals — an undoubled one corrupts the probe (ADVICE r4)
    assert(CharKey(backslashEscape = true).literal("""a\b'c""") == """'a\\b''c'""")
    assert(CharKey(backslashEscape = false).literal("""a\b""") == """'a\b'""")
    assert(TemporalKey("ts").literal("2024-01-02 03:04:05.0") ==
      "{ts '2024-01-02 03:04:05.0'}")
    assert(TemporalKey("d").literal("2024-01-02") == "{d '2024-01-02'}")
    assert(NumericKey.literal("100.25") == "100.25")
  }

  test("golden: first chunk has no lower bound; single-column shapes unchanged") {
    val k = PlanKey(Seq("doc_key"), Seq(CharKey(backslashEscape = false)), Derby)
    assert(k.le(Seq("K0025")) == "doc_key <= 'K0025'")
    assert(s"${k.gt(Seq("K0025"))} AND ${k.le(Seq("K0050"))}" ==
      "doc_key > 'K0025' AND doc_key <= 'K0050'")
  }

  test("keyStyle maps introspected SQL types to plan styles (dialect-aware strings)") {
    import graft.sources.JdbcCatalog.ColumnMeta
    def m(t: String, scale: Int = 0) = ColumnMeta(0, "k", t, 10, scale, nullable = false)
    assert(JdbcTransferJob.keyStyle(m("BIGINT"), Derby) == NumericKey)
    assert(JdbcTransferJob.keyStyle(m("DECIMAL", 3), Derby) == NumericKey)
    assert(JdbcTransferJob.keyStyle(m("DOUBLE"), Derby) == NumericKey)
    assert(JdbcTransferJob.keyStyle(m("DATE"), Derby) == TemporalKey("d"))
    assert(JdbcTransferJob.keyStyle(m("TIMESTAMP"), Derby) == TemporalKey("ts"))
    assert(JdbcTransferJob.keyStyle(m("VARCHAR"), Derby) ==
      CharKey(backslashEscape = false))
    assert(JdbcTransferJob.keyStyle(m("VARCHAR"), MySql) ==
      CharKey(backslashEscape = true))
  }
}
