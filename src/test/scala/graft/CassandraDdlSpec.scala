package graft

import org.apache.spark.sql.types._

import graft.sinks.CassandraDdl

/** S9: UDT/UDF dependency DDL emission (reference `cassandra.go:293-443`)
  * — the emitted statements ARE the contract (no live Cassandra in the
  * offline build). */
class CassandraDdlSpec extends SparkTestBase {

  private val addr = StructType(Seq(
    StructField("street", StringType), StructField("zip", IntegerType)))
  private val contact = StructType(Seq(
    StructField("email", StringType),
    StructField("addr", addr))) // nested: addr must be created FIRST
  private val schema = StructType(Seq(
    StructField("id", LongType),
    StructField("contact", contact),
    StructField("tags", ArrayType(StringType)),
    StructField("scores", MapType(StringType, DoubleType))))

  test("scalar, collection, and decimal types map to CQL") {
    def t(dt: DataType) = CassandraDdl.cqlType(dt, _ => "u")
    assert(t(LongType) == "bigint" && t(IntegerType) == "int")
    assert(t(ShortType) == "smallint" && t(ByteType) == "tinyint")
    assert(t(StringType) == "text" && t(BinaryType) == "blob")
    assert(t(DoubleType) == "double" && t(FloatType) == "float")
    assert(t(TimestampType) == "timestamp" && t(DateType) == "date")
    assert(t(DecimalType(12, 2)) == "decimal")
    assert(t(ArrayType(LongType)) == "list<bigint>")
    assert(t(MapType(StringType, DoubleType)) == "map<text, double>")
    assert(t(addr) == "frozen<u>", "nested structs are frozen UDT refs")
  }

  test("CREATE TYPE statements are dependency-ordered, innermost first") {
    val ddl = CassandraDdl.createTypeDdl("ks", "users", schema)
    assert(ddl.size == 2, s"two reachable structs, got $ddl")
    // addr (inner) must be created before contact (embeds it)
    assert(ddl.head ==
      "CREATE TYPE IF NOT EXISTS ks.users_contact_addr_t (street text, zip int)")
    assert(ddl(1) ==
      "CREATE TYPE IF NOT EXISTS ks.users_contact_t " +
        "(email text, addr frozen<users_contact_addr_t>)")
  }

  test("table DDL references the emitted UDTs and carries the PK") {
    val ddl = CassandraDdl.createTableDdl("ks", "users", schema, Seq("id"))
    assert(ddl == "CREATE TABLE IF NOT EXISTS ks.users (id bigint, " +
      "contact frozen<users_contact_t>, tags list<text>, " +
      "scores map<text, double>, PRIMARY KEY (id))")
    // composite PK renders in order
    val ddl2 = CassandraDdl.createTableDdl("ks", "users",
      StructType(Seq(StructField("a", LongType), StructField("b", IntegerType))),
      Seq("a", "b"))
    assert(ddl2.endsWith("PRIMARY KEY (a, b))"))
  }

  test("structs reached through arrays and maps are still collected") {
    val inner = StructType(Seq(StructField("v", DoubleType)))
    val s = StructType(Seq(
      StructField("xs", ArrayType(inner)),
      StructField("m", MapType(StringType, inner))))
    val ddl = CassandraDdl.createTypeDdl("ks", "t", s)
    // the same struct SHAPE appears at two paths → two named UDTs (path
    // IS the identity — a value-keyed map would collapse them and leave
    // one CREATE TYPE orphaned); map values get their own path segment
    assert(ddl.exists(_.contains("t_xs_t (v double)")))
    assert(ddl.exists(_.contains("t_m_value_t (v double)")))
    // and the table DDL references each column's OWN type
    val tddl = CassandraDdl.createTableDdl("ks", "t",
      StructType(StructField("id", LongType) +: s.fields), Seq("id"))
    assert(tddl.contains("xs list<frozen<t_xs_t>>"))
    assert(tddl.contains("m map<text, frozen<t_m_value_t>>"))
  }

  test("CREATE FUNCTION mirrors the reference's clause structure") {
    val f = CassandraDdl.createFunctionDdl("ks", "slugify",
      Seq(("s", StringType)), StringType, "java",
      "return s.toLowerCase();", calledOnNull = false)
    assert(f == "CREATE OR REPLACE FUNCTION ks.slugify (s text) " +
      "RETURNS text LANGUAGE java RETURNS NULL ON NULL INPUT " +
      "AS $$return s.toLowerCase();$$")
    val g = CassandraDdl.createFunctionDdl("ks", "nn",
      Seq(("x", LongType)), LongType, "java", "return x;", calledOnNull = true)
    assert(g.contains("CALLED ON NULL INPUT"))
  }

  test("reserved words and special characters are quoted; case collisions refuse") {
    import org.apache.spark.sql.types._
    // 'token' and 'order' are CQL-reserved — unquoted they fail at the
    // deployment that finally executes this DDL
    val s = StructType(Seq(
      StructField("id", LongType), StructField("token", StringType),
      StructField("order", IntegerType), StructField("weird name", StringType)))
    val ddl = CassandraDdl.createTableDdl("ks", "t", s, Seq("id"))
    assert(ddl.contains("\"token\" text"), ddl)
    assert(ddl.contains("\"order\" int"), ddl)
    assert(ddl.contains("\"weird name\" text"), ddl)
    assert(ddl.contains("id bigint"), ddl) // plain names stay unquoted
    // a reserved-word PRIMARY KEY column is quoted too
    val pkDdl = CassandraDdl.createTableDdl("ks", "t2",
      StructType(Seq(StructField("token", StringType))), Seq("token"))
    assert(pkDdl.contains("PRIMARY KEY (\"token\")"), pkDdl)
    // CQL folds unquoted identifiers to lower case: two fields differing
    // only in case would collapse into a duplicate column list
    val clash = StructType(Seq(
      StructField("userId", LongType), StructField("userid", LongType)))
    val e = intercept[IllegalArgumentException] {
      CassandraDdl.createTableDdl("ks", "t3", clash, Seq("userId"))
    }
    assert(e.getMessage.contains("duplicate CQL identifiers"), e.getMessage)
  }

  test("transfer to a cassandra destination writes the _cassandra.ddl sidecar") {
    val work = tempDir("cassddl")
    spark.range(2).selectExpr("id",
      "named_struct('email', concat('u', id, '@x.io'), " +
        "'addr', named_struct('street', 'Main St', 'zip', 12345)) AS contact",
      "array('t1') AS tags")
      .write.parquet(s"$work/src/users.parquet")
    val spec = graft.core.TransferSpec(
      graft.core.EndpointSpec("parquet", path = s"$work/src",
        tables = Seq(graft.core.TableMapping("users", primaryKey = Some("id")))),
      graft.core.EndpointSpec("cassandra", path = s"$work/dest", database = "app"),
      graft.core.MigrationSpec(checkpointDir = s"$work/cp", rateLimit = 1000000000))
    new graft.engine.TableTransferJob(spark, spec,
      spec.source.tables.head, log = _ => ()).run()
    val ddl = java.nio.file.Files.readString(
      java.nio.file.Paths.get(s"$work/dest/users/_cassandra.ddl"))
    assert(ddl.contains("CREATE TYPE IF NOT EXISTS app.users_contact_addr_t " +
      "(street text, zip int)"), s"UDT DDL missing from sidecar:\n$ddl")
    assert(ddl.contains("CREATE TABLE IF NOT EXISTS app.users"))
    assert(ddl.contains("PRIMARY KEY (id)"))
    // dependency order holds inside the file: inner type line precedes
    // the type that references it
    val lines = ddl.linesIterator.toSeq
    val inner = lines.indexWhere(l => l.contains("street text"))
    val outer = lines.indexWhere(l => l.contains("frozen<users_contact"))
    assert(inner >= 0 && outer >= 0 && inner < outer, s"order wrong:\n$ddl")
  }
}
