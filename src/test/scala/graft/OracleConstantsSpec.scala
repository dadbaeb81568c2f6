package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.functions.Fnv
import graft.ops.{Dedup, Sketch}
import graft.oracle.OracleSql

/** The oracle module cannot see the product, so it restates the few
  * product constants its SQL embeds. Each copy must equal the value the
  * engine computes with, or the oracle would check a different hash or
  * estimate than the one the gates run. */
class OracleConstantsSpec extends AnyFunSuite {

  test("the oracle's copies of product constants equal the product's") {
    assert(OracleSql.Basis1 == Fnv.Basis1)
    assert(OracleSql.Basis2 == Fnv.Basis2)
    assert(OracleSql.MinhashP == Dedup.MinhashP)
    assert(OracleSql.HllEstC == Sketch.HllEstC)
    assert(OracleSql.HllSPrimeSafeMin == Sketch.HllSPrimeSafeMin)
  }

  test("the oracle's FNV SQL renders the fold the engine's kernel computes") {
    // golden: the SQL the engine's own FNV generator emitted for this
    // call before the oracle left the product
    assert(OracleSql.fnvSql("text", Fnv.Basis1) ==
      "list_reduce(list_prepend(2166136261::BIGINT, list_transform(range(1, " +
      "length(text)+1), i -> unicode(substr(text, i, 1)))), " +
      "(h, c) -> (xor(h, c) * 16777619) % 4294967296)")
  }
}
