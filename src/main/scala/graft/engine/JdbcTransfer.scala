package graft.engine

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.core.{MigrationSpec, TableMapping}
import graft.sinks.JdbcUpsert
import graft.sources.{JdbcCatalog, JdbcSource}

/** The reference's one-shot `migrateTable` call against a REAL database
  * (`mysql.go:186-380`): a thin STATELESS wrapper over the chunked
  * [[JdbcTransferJob]] (VERDICT r5 #6 — the old standalone pipeline
  * here duplicated introspect→mirror→read→MERGE minus chunk planning,
  * refused non-numeric keys the chunked planner handles fine, and was a
  * second surface to keep hardened). An empty checkpoint dir tells the
  * job to run without resume state, so repeated calls re-execute the
  * full idempotent MERGE — the semantics every one-shot caller (gates,
  * chaos tests) relies on. Plus the read-back helpers used by the
  * verification side of round-trips.
  */
object JdbcTransfer {

  def transfer(spark: SparkSession, url: String, table: TableMapping,
               mig: MigrationSpec, dialect: JdbcUpsert.Dialect = JdbcUpsert.Derby): Long = {
    val job = new JdbcTransferJob(spark, url, table,
      mig.copy(checkpointDir = ""), dialect, log = _ => ())
    job.run()
    job.rowsWritten
  }

  /** Range-partitioned read of a live table with column names folded to
    * lower case (Derby metadata upper-cases identifiers; the engine's
    * expressions and key lookups are written lower-case). */
  def readTable(spark: SparkSession, url: String, name: String,
                mig: MigrationSpec, pkCol: String,
                bounds: (Long, Long)): DataFrame = {
    val df = JdbcSource.read(spark, url, TableMapping(name), mig, pkCol, bounds)
    df.toDF(df.columns.map(_.toLowerCase): _*)
  }

  /** Unpartitioned read of a (small) live table — for read-back of
    * results whose PK is not numeric (e.g. composite timestamp keys). */
  def readAll(spark: SparkSession, url: String, name: String): DataFrame = {
    val df = spark.read.format("jdbc")
      .option("url", url).option("dbtable", name).load()
    df.toDF(df.columns.map(_.toLowerCase): _*)
  }

  /** Read a live table back, introspecting its PK and bounds (the
    * verification side of a round-trip). */
  def readBack(spark: SparkSession, url: String, name: String,
               mig: MigrationSpec): DataFrame = {
    val pk = JdbcCatalog.primaryKey(url, name)
    require(pk.nonEmpty, s"table '$name' has no primary key")
    val (lo, hi) = JdbcCatalog.withConnection(url) { c =>
      val st = c.createStatement()
      try {
        val rs = st.executeQuery(s"SELECT MIN(${pk.head}), MAX(${pk.head}) FROM $name")
        rs.next()
        (rs.getLong(1), rs.getLong(2))
      } finally st.close()
    }
    readTable(spark, url, name, mig, pk.head, (lo, hi))
  }
}
