package graft

import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite

/** `graft.Verify`'s argument contract and the one `oracle_sql.json`
  * writer, without a SparkSession (and without `main`, whose `sys.exit`
  * would end the test JVM). */
class VerifySpec extends AnyFunSuite {

  test("two or three arguments parse; any other count is the usage text") {
    assert(Verify.parseArgs(Array("sf", "out")) == Right(("sf", "out", None)))
    assert(Verify.parseArgs(Array("sf", "out", "a,b")) ==
      Right(("sf", "out", Some(Set("a", "b")))))
    for (n <- Seq(0, 1, 4))
      assert(Verify.parseArgs(Array.fill(n)("x")) == Left(Verify.Usage), s"$n arguments")
  }

  test("DumpOracle.write renders the oracle map, or only the named gates") {
    val dir = Files.createTempDirectory("oracle-dump").toString
    try {
      assert(DumpOracle.write(dir, None) == SparkEntry.oracleSql.size)
      val one = Set("a1_count")
      assert(DumpOracle.write(dir, Some(one + "no_such_gate")) == 1)
      val json = Files.readString(Paths.get(s"$dir/oracle_sql.json"))
      assert(json == s"""{"a1_count": "${SparkEntry.oracleSql("a1_count")}"}""")
    } finally graft.util.Fs.deleteRecursive(new java.io.File(dir))
  }
}
