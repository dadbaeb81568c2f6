package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.{Fnv, MinHash}
import graft.ops.Dedup

/** The MinHash signer kernel and its band keys against a plain-Scala
  * fold of the definition: split on one space, join each `shingleLen`
  * window with one space, FNV-1a that string (code points) with both
  * seeds, min over shingles of (h1 + j·h2) mod P, md5 band keys. Run
  * under whole-stage codegen and under interpreted evaluation. */
class MinHashSpec extends SparkTestBase {

  private val numHashes = 12
  private val bands = 4
  private val shingleLen = 3

  private def refSig(text: String): Option[Seq[Long]] = {
    val w = text.split(" ", -1)
    if (w.length < shingleLen) None
    else {
      val hs = w.sliding(shingleLen).map(_.mkString(" "))
        .map(s => (Fnv.hash32(s, Fnv.Basis1), Fnv.hash32(s, Fnv.Basis2))).toSeq
      Some((0 until numHashes).map(j => hs.map { case (h1, h2) => (h1 + j * h2) % MinHash.P }.min))
    }
  }

  private def refBands(text: String): Set[String] = refSig(text).toSeq.flatMap { g =>
    val r = numHashes / bands
    (0 until bands).map { b =>
      val s = (g.slice(b * r, b * r + r).map(_.toString) :+ b.toString).mkString("|")
      java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
    }
  }.toSet

  private val edgeCases: Seq[(Long, String)] = Seq(
    1L -> "the quick brown fox jumps over the lazy dog",
    2L -> "double  spaced  words here", // empty words between the spaces
    3L -> " leading and trailing ",
    4L -> "naïve café 😀 emoji 𝔘𝔫𝔦 text 😀",
    5L -> "two words", // shorter than shingleLen: no signature
    6L -> "", // one empty word
    7L -> null,
    8L -> "a a a a a a", // one shingle repeated
    9L -> "a b c")

  private def corpus: DataFrame = {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val vocab = Seq("alpha", "beta", "été", "😀", "", "x")
    val random = (100L until 140L).map(i =>
      i -> Seq.fill(1 + rnd.nextInt(12))(vocab(rnd.nextInt(vocab.size))).mkString(" "))
    (edgeCases ++ random).toDF("doc_id", "text")
  }

  private def check(): Unit = {
    val rows = corpus.collect().map(r => r.getLong(0) -> Option(r.getString(1))).toMap
    val direct = corpus.select(col("doc_id"),
        MinHash.signatures(split(col("text"), " "), numHashes, shingleLen).as("g"))
      .collect().map(r => r.getLong(0) -> Option(r.getSeq[Long](1))).toMap
    rows.foreach { case (id, text) =>
      assert(direct(id) == text.flatMap(refSig), s"doc $id ${text.map(_.take(30))}")
    }
    val banded = Dedup.bandedKeys(corpus, numHashes, bands, shingleLen).collect()
      .groupBy(_.getLong(0)).map { case (id, rs) => id -> rs.map(_.getString(1)).toSet }
    rows.foreach { case (id, text) =>
      assert(banded.getOrElse(id, Set.empty[String]) == text.map(refBands).getOrElse(Set.empty),
        s"band keys of doc $id")
    }
    assert(banded.keySet == rows.collect { case (id, Some(t)) if refSig(t).nonEmpty => id }.toSet)
  }

  test("signer and band keys equal the plain-Scala fold (whole-stage codegen)") {
    check()
  }

  test("signer and band keys equal the plain-Scala fold (interpreted, NO_CODEGEN)") {
    val confs = Seq("spark.sql.codegen.wholeStage" -> "false",
      "spark.sql.codegen.factoryMode" -> "NO_CODEGEN")
    val prev = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try check()
    finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("dedup_index_lifecycle's persisted index is the fold's band keys of the final doc set") {
    import spark.implicits._
    val docs = graft.sources.Tables(spark, sf, "documents")
    val corpus = docs.where(col("doc_id") % 2 === 0)
    val batch = docs.where(col("doc_id") % 2 === 1)
    val dups = Dedup.incrementalNearDups(corpus, batch)
      .select("batch_id").as[Long].collect().toSet
    val text = docs.select("doc_id", "text").as[(Long, String)].collect().toMap
    val kept = text.keySet.filter(id => (id % 2 == 0 || !dups(id)) && id % 10 != 0)
    val expected = kept.toSeq.flatMap(id => Option(text(id)).toSeq.flatMap(refBands).map(id -> _)).toSet
    val got = GateFrames("dedup_index_lifecycle", spark, sf)
      .select("doc_id", "bk").as[(Long, String)].collect()
    assert(got.length == got.toSet.size, "index rows must be distinct (doc, band) keys")
    assert(got.toSet == expected)
  }
}
