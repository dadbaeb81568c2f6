package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.ops.MediaKeys

/** The invariant-key family table is the one place a family is defined:
  * every row must surface as four oracle-gated driver entries, rows must
  * not collide on anything that names an artifact (gate, observed
  * metric, streaming work dir), and no `_invariant` gate may exist
  * outside the table. No SparkSession — the table and the driver maps
  * are plain values. */
class MediaKeysSpec extends AnyFunSuite {

  private val queries = SparkEntry.queries
  private val oracle = SparkEntry.oracleSql

  test("every MediaKey yields its four gate names in queries, each with an oracle") {
    assert(MediaKeys.all.size == 12)
    for (k <- MediaKeys.all; g <- k.gateNames) {
      assert(queries.contains(g), s"${k.family}: gate $g missing from SparkEntry.queries")
      assert(oracle.contains(g), s"${k.family}: gate $g has no oracleSql entry")
    }
  }

  test("no two descriptors share a gate name, metric tag or workDir purpose") {
    def unique(what: String, xs: Seq[String]): Unit = {
      val dups = xs.groupBy(identity).collect { case (x, n) if n.size > 1 => x }
      assert(dups.isEmpty, s"duplicate $what: ${dups.mkString(", ")}")
    }
    unique("gate name", MediaKeys.all.flatMap(_.gateNames))
    unique("workDir purpose", MediaKeys.all.map(_.streamWorkDir))
    // a signature key shared by two families (channel swap is gated
    // through the rate key) shares its batch tags by design; every
    // distinct key and every stream leg must tag its metrics uniquely
    val keys = MediaKeys.all.map(_.key).foldLeft(Seq.empty[graft.ops.SigKey]) {
      (acc, k) => if (acc.exists(_ eq k)) acc else acc :+ k
    }
    unique("metric tag",
      keys.flatMap(k => Seq(k.tag, k.tag + "_incr")) ++ MediaKeys.all.map(_.streamTag))
  }

  test("every _invariant gate is covered by a descriptor") {
    val covered = MediaKeys.all.flatMap(_.gateNames).toSet
    val stray = queries.keySet.filter(_.contains("_invariant")) -- covered
    assert(stray.isEmpty, s"hand-written invariant gates outside MediaKeys: $stray")
  }
}
