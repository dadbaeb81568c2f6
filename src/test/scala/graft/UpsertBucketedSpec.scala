package graft

import org.apache.spark.sql.functions._

/** Proves the Upsert scale claim: with both sides bucketed+sorted by the
  * merge key, the join-based merge plans with zero shuffle exchanges
  * (bucketing satisfies the join's distribution requirement), and its
  * result equals the windowed merge. */
class UpsertBucketedSpec extends SparkTestBase {

  test("bucketed join-merge: no Exchange in plan, same result as windowed merge") {
    import spark.implicits._
    val db = "graft_bucket_test"
    val loc = tempDir("bucketdb")
    spark.sql(s"CREATE DATABASE IF NOT EXISTS $db LOCATION '$loc'")
    try {
      val base = (1L to 1000L).map(i => (i, s"name$i", i * 1.0)).toDF("k", "name", "v")
      val upd = (500L to 600L).map(i => (i, s"upd$i", i * 2.0)).toDF("k", "name", "v")
      base.write.mode("overwrite").bucketBy(4, "k").sortBy("k")
        .saveAsTable(s"$db.base_b")
      upd.write.mode("overwrite").bucketBy(4, "k").sortBy("k")
        .saveAsTable(s"$db.upd_b")
      val bb = spark.table(s"$db.base_b")
      val ub = spark.table(s"$db.upd_b")

      val merged = graft.sinks.Upsert.resolveJoined(bb, ub, Seq("k"))
      merged.write.format("noop").mode("overwrite").save()
      val plan = merged.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"),
        s"bucketed merge must not shuffle; plan:\n$plan")

      // semantics match the windowed merge
      val windowed = graft.sinks.Upsert.resolve(base, upd, Seq("k"))
      assert(merged.except(windowed).isEmpty && windowed.except(merged).isEmpty)
      // spot values: updated key wins, untouched key survives
      val r = merged.where(col("k").isin(1L, 550L)).orderBy("k").collect()
      assert(r(0).getString(1) == "name1" && r(1).getString(1) == "upd550")
    } finally {
      spark.sql(s"DROP DATABASE IF EXISTS $db CASCADE")
    }
  }
}
