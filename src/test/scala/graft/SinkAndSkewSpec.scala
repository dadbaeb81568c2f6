package graft

import org.apache.spark.sql.functions._

import graft.sinks.JdbcUpsert

/** JVM-static recording target shared between local-mode tasks. */
object SinkProbe {
  val recorded = new java.util.concurrent.ConcurrentLinkedQueue[(String, Int)]()
  val failFirst = new java.util.concurrent.atomic.AtomicBoolean(true)
  /** Factory defined HERE (statics only) — an Executor built inside a
    * test method would capture the spec instance via its outer pointer
    * and fail closure serialization. */
  val recordingFactory: () => JdbcUpsert.Executor = () => new JdbcUpsert.Executor {
    def apply(sql: String, params: Seq[Any]): Unit = {
      if (failFirst.compareAndSet(true, false)) sys.error("transient")
      recorded.add((sql.take(30), params.size)); ()
    }
  }
  /** Never-failing variant (statement counter only). */
  val statements = new java.util.concurrent.atomic.AtomicLong(0)
  val countingFactory: () => JdbcUpsert.Executor = () => new JdbcUpsert.Executor {
    def apply(sql: String, params: Seq[Any]): Unit = { statements.incrementAndGet(); () }
  }
}

/** JDBC upsert sink (dialect SQL + batched executor path, driven with a
  * recording executor — no database offline), salting equivalence, and
  * the partitioned publish layout. */
class SinkAndSkewSpec extends SparkTestBase {

  test("MySQL/PG writes don't require a Derby type mapping for their keys") {
    import org.apache.spark.sql.types.TimestampNTZType
    // keyTypes (Derby CAST targets) were derived eagerly for EVERY
    // dialect — a TIMESTAMP_NTZ key crashed MySQL/PG writes on a
    // spurious "no Derby mapping" even though their SQL never casts
    val df = spark.range(3)
      .select(expr("timestamp_ntz'2024-01-01 00:00:00' + make_interval(0,0,0,0,0,0,id)").as("ts_key"),
        col("id").cast("double").as("v"))
    assert(df.schema("ts_key").dataType == TimestampNTZType)
    SinkProbe.statements.set(0)
    JdbcUpsert.write(df, JdbcUpsert.MySql, "t_ntz", Seq("ts_key"))(
      SinkProbe.countingFactory)
    assert(SinkProbe.statements.get > 0)
    // and the Derby path itself now maps NTZ instead of refusing
    assert(JdbcUpsert.derbySqlType(TimestampNTZType) == "TIMESTAMP")
  }

  test("upsert SQL: MySQL and PostgreSQL dialects (K1/K2)") {
    val my = JdbcUpsert.upsertSql(JdbcUpsert.MySql, "t", Seq("id", "a", "b"), Seq("id"), 2)
    assert(my == "INSERT INTO t (id, a, b) VALUES (?, ?, ?), (?, ?, ?) " +
      "ON DUPLICATE KEY UPDATE a = VALUES(a), b = VALUES(b)")
    val pg = JdbcUpsert.upsertSql(JdbcUpsert.Postgres, "t", Seq("id", "a"), Seq("id"), 1)
    assert(pg == "INSERT INTO t (id, a) VALUES (?, ?) " +
      "ON CONFLICT (id) DO UPDATE SET a = EXCLUDED.a")
  }

  test("jdbc sink batches partitions and retries failed statements (K5)") {
    import spark.implicits._
    val df = (1 to 25).map(i => (i.toLong, s"v$i")).toDF("id", "v")
    SinkProbe.recorded.clear(); SinkProbe.failFirst.set(true)
    // task closures are serialized even on local master — record through
    // a JVM-static holder, which local-mode tasks share
    JdbcUpsert.write(df.repartition(2), JdbcUpsert.MySql, "t", Seq("id"),
      batchSize = 10)(SinkProbe.recordingFactory)
    val stmts = SinkProbe.recorded.toArray.map(_.asInstanceOf[(String, Int)])
    // 25 rows / batch 10 across 2 partitions → 3-4 statements, params = 2×rows
    assert(stmts.map(_._2).sum == 50, s"params: ${stmts.toSeq}")
    assert(stmts.forall(_._1.startsWith("INSERT INTO t")))
  }

  test("jdbc reader options: range partitioning sized by batch_size (S1/S2)") {
    import graft.core._
    val t = TableMapping("users")
    val mig = MigrationSpec(batchSize = 1000, timeoutSec = 30)
    val o = graft.sources.JdbcSource.readerOptions(
      "jdbc:postgresql://h/db", t, mig, "id", (0L, 100000L), parallelism = 32)
    assert(o("partitionColumn") == "id" && o("lowerBound") == "0" &&
      o("upperBound") == "100000")
    // 100k keys / 1k batch = 101 partitions, capped at parallelism 32
    assert(o("numPartitions") == "32")
    assert(o("fetchsize") == "1000" && o("queryTimeout") == "30")
    // a tiny table gets one partition, never zero
    val small = graft.sources.JdbcSource.readerOptions(
      "u", t, mig, "id", (5L, 9L), parallelism = 32)
    assert(small("numPartitions") == "1")
  }

  test("connector option builders carry spec knobs (S3/S4/K4)") {
    import graft.core._
    val t = TableMapping("users", targetName = Some("users_new"))
    val mig = MigrationSpec(batchSize = 500, timeoutSec = 30)
    val m = graft.sources.ConnectorSources.mongoOptions("mongodb://h", "db", t, mig)
    assert(m("collection") == "users" && m("database") == "db")
    val c = graft.sources.ConnectorSources.cassandraOptions("ks", t, mig)
    assert(c("spark.cassandra.input.fetch.sizeInRows") == "500")
    assert(c("spark.cassandra.read.timeoutMS") == "30000")
    val w = graft.sources.ConnectorSources.cassandraWriteOptions("ks", t, mig)
    assert(w("table") == "users_new" &&
      w("spark.cassandra.output.consistency.level") == "QUORUM")
  }

  test("salted count and salted join equal their unsalted counterparts") {
    val li = graft.sources.Tables(spark, sf, "lineitem")
    val plain = li.groupBy("l_returnflag").agg(count(lit(1)).as("cnt"))
    val salted = graft.ops.Salting.saltedCount(li, Seq("l_returnflag"))
    assert(salted.except(plain).isEmpty && plain.except(salted).isEmpty)

    val orders = graft.sources.Tables(spark, sf, "orders")
      .select("o_orderkey", "o_custkey")
    val dim = graft.sources.Tables(spark, sf, "customer")
      .select(col("c_custkey").as("o_custkey"), col("c_mktsegment"))
    val plainJ = orders.join(dim, "o_custkey")
    val saltedJ = graft.ops.Salting.saltedJoin(orders, dim, "o_custkey")
    assert(saltedJ.count() == plainJ.count())
    assert(saltedJ.except(plainJ).isEmpty)
  }

  test("approx_count_distinct within 5% of exact") {
    val li = graft.sources.Tables(spark, sf, "lineitem")
    val exact = li.select(countDistinct(col("l_partkey"))).head.getLong(0)
    val approx = li.select(approx_count_distinct(col("l_partkey"))).head.getLong(0)
    assert(math.abs(approx - exact).toDouble / exact <= 0.05,
      s"approx $approx vs exact $exact")
  }

  test("partition_by publishes a hive-partitioned final layout") {
    import graft.core._
    val work = tempDir("xferp")
    val t = TableMapping("orders", partitionBy = Seq("o_orderstatus"))
    val spec = TransferSpec(
      EndpointSpec("parquet", path = sf, tables = Seq(t)),
      EndpointSpec("parquet", path = s"$work/dest"),
      MigrationSpec(checkpointDir = s"$work/cp", rateLimit = 100000000))
    graft.engine.TransferRunner.run(spark, spec, log = _ => ())
    val finalDir = new java.io.File(s"$work/dest/orders-final")
    assert(finalDir.listFiles().exists(_.getName.startsWith("o_orderstatus=")),
      "expected hive-style partition dirs")
    val back = graft.engine.TableTransferJob.readTarget(spark, spec, "orders")
    val src = graft.sources.Tables(spark, sf, "orders")
    assert(back.count() == src.count())
    // partition column survives the publish round-trip
    assert(back.select("o_orderstatus").distinct().count() ==
      src.select("o_orderstatus").distinct().count())
  }
}
