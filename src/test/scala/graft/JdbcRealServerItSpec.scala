package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.engine.JdbcTransferJob.{NumericKey, PlanKey}
import graft.sinks.JdbcUpsert
import graft.sinks.JdbcUpsert.{Dialect, MySql, Postgres}

/** REAL-SERVER execution of the golden-pinned MySQL/PostgreSQL SQL
  * (VERDICT r13 #8 — keep the env-blocked K1/K2 items warm, cheaply):
  * the exact statements the golden specs pin as TEXT
  * ([[JdbcDialectGoldenSpec]] upserts, [[JdbcChunkSqlGoldenSpec]]
  * keyset probes) are executed against a live server when one is
  * reachable, proving text + bind order + dialect semantics end to end.
  *
  * Env-gated: set `GRAFT_IT_MYSQL_URL` / `GRAFT_IT_PG_URL` to full JDBC
  * URLs (credentials embedded, the server's driver jar on the test
  * classpath). In this sandbox — no driver jars, no egress — the vars
  * are unset and every test CANCELS (reported skipped, never failed),
  * so the suite costs nothing until an environment can run it.
  */
class JdbcRealServerItSpec extends AnyFunSuite {

  private val T = "graft_it_users"

  private def withConn(env: String)(f: java.sql.Connection => Unit): Unit = {
    val url = sys.env.get(env).map(_.trim).filter(_.nonEmpty)
    assume(url.nonEmpty, s"$env not set — real-server execution skipped " +
      "(sandbox has no driver jars / egress); set it to a JDBC URL to run")
    // the var IS set: from here on, problems are failures, not skips —
    // a half-configured CI must be loud, not silently green
    val c = java.sql.DriverManager.getConnection(url.get)
    try f(c) finally c.close()
  }

  private def exec(c: java.sql.Connection, sql: String): Unit = {
    val st = c.createStatement()
    try { st.execute(sql); () } finally st.close()
  }

  private def queryOne[A](c: java.sql.Connection, sql: String,
                          bind: java.sql.PreparedStatement => Unit = _ => ())
                         (read: java.sql.ResultSet => A): A = {
    val ps = c.prepareStatement(sql)
    try {
      bind(ps)
      val rs = ps.executeQuery()
      try { assert(rs.next(), s"no row from: $sql"); read(rs) }
      finally rs.close()
    } finally ps.close()
  }

  /** The shared scenario, golden statements only: multi-row upsert
    * insert, conflicting single-row upsert (last-writer-wins on the
    * key), keyset boundary probe with the pinned bind order, exact-max
    * probe. */
  private def roundTrip(c: java.sql.Connection, dialect: Dialect): Unit = {
    try exec(c, s"DROP TABLE $T") catch { case _: Exception => () }
    exec(c, s"CREATE TABLE $T (id BIGINT PRIMARY KEY, " +
      "name VARCHAR(64), bal DOUBLE PRECISION)")
    try {
      val cols = Seq("id", "name", "bal")
      // golden multi-row upsert (JdbcDialectGoldenSpec text)
      val ins = c.prepareStatement(
        JdbcUpsert.upsertSql(dialect, T, cols, Seq("id"), n = 3))
      try {
        Seq((1L, "a", 1.0), (2L, "b", 2.0), (3L, "c", 3.0)).zipWithIndex
          .foreach { case ((id, nm, b), i) =>
            ins.setLong(3 * i + 1, id)
            ins.setString(3 * i + 2, nm)
            ins.setDouble(3 * i + 3, b)
          }
        ins.executeUpdate()
      } finally ins.close()
      // conflicting single-row upsert: key 2 must take the NEW values
      val up = c.prepareStatement(
        JdbcUpsert.upsertSql(dialect, T, cols, Seq("id"), n = 1))
      try {
        up.setLong(1, 2L); up.setString(2, "b2"); up.setDouble(3, 20.0)
        up.executeUpdate()
      } finally up.close()
      val (nm, bal) = queryOne(c, s"SELECT name, bal FROM $T WHERE id = 2")(
        rs => (rs.getString(1), rs.getDouble(2)))
      assert(nm == "b2" && bal == 20.0,
        s"upsert was not last-writer-wins: ($nm, $bal)")
      // golden keyset probe (JdbcChunkSqlGoldenSpec text + bind order):
      // the key at rank 2 strictly above id 0 is id 2
      val key = PlanKey(Seq("id"), Seq(NumericKey), dialect)
      val probed = queryOne(c, key.probeSql(T, hasPrev = true, per = 2),
        ps => key.bindPrev(ps, Seq("0")))(_.getLong(1))
      assert(probed == 2L, s"keyset probe returned $probed, want 2")
      // golden exact-max probe
      val mx = queryOne(c, key.maxSql(T))(_.getLong(1))
      assert(mx == 3L, s"max probe returned $mx, want 3")
    } finally exec(c, s"DROP TABLE $T")
  }

  test("MySQL: golden upsert + keyset probes execute against a real server") {
    withConn("GRAFT_IT_MYSQL_URL")(roundTrip(_, MySql))
  }

  test("PostgreSQL: golden upsert + keyset probes execute against a real server") {
    withConn("GRAFT_IT_PG_URL")(roundTrip(_, Postgres))
  }
}
