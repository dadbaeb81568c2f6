package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.TextAnalysis

/** BPE trainer/encoder — greedy-merge fold semantics (the part that is
  * easy to get wrong: non-overlapping left-to-right scan, no
  * chain-merging within a round), determinism of the argmax, and the
  * vocabulary-level encode. */
class BpeSpec extends AnyFunSuite {
  private lazy val spark = Sessions.builder("bpe-spec", 4).getOrCreate()
  import spark.implicits._

  private def docs(texts: String*) =
    texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")

  test("run of identical chars merges greedily left-to-right: aaaa -> [aa][aa]") {
    // corpus of one word 'aaaa': round 1 learns (a,a) with freq 3
    // (three adjacencies), and the fold must produce aa|aa — NOT aa|a|a
    // (missed second occurrence) and NOT aaa|a (chain-merging)
    val (merges, vocab) = TextAnalysis.bpeTrainState(docs("aaaa"), 1)
    assert(merges == Seq(("a", "a", 3L)))
    val seqs = vocab.select("seq").as[String].collect()
    vocab.unpersist()
    assert(seqs.toSeq == Seq("aa|aa"))
  }

  test("odd run keeps its tail: aaa -> [aa][a]; 5-run -> [aa][aa][a]") {
    val (_, vocab) = TextAnalysis.bpeTrainState(docs("aaa aaaaa"), 1)
    val seqs = vocab.select("word", "seq").as[(String, String)].collect().toMap
    vocab.unpersist()
    assert(seqs("aaa") == "aa|a")
    assert(seqs("aaaaa") == "aa|aa|a")
  }

  test("multi-round learning composes merges (ab then ab+c)") {
    // 'abc' x3, 'ab' x2: round 1 argmax is (a,b) freq 5; round 2 the
    // pair (ab, c) freq 3 — a learned symbol participating in a merge
    val d = docs("abc abc abc ab ab")
    val merges = TextAnalysis.bpeTrain(d, 2)
      .select("rank", "lhs", "rhs", "freq").as[(Long, String, String, Long)]
      .collect().sortBy(_._1)
    assert(merges(0) == ((1L, "a", "b", 5L)))
    assert(merges(1) == ((2L, "ab", "c", 3L)))
  }

  test("argmax tie-break is lexicographic (freq desc, lhs, rhs)") {
    // 'xy' and 'ab' both freq 1 → (a,b) wins by lhs
    val merges = TextAnalysis.bpeTrain(docs("xy ab"), 1)
      .select("lhs", "rhs").as[(String, String)].collect()
    assert(merges.toSeq == Seq(("a", "b")))
  }

  test("encode counts tokens per doc under the learned table") {
    // one merge (a,a): 'aaaa'→2 tokens, 'aaa'→2 ('aa','a'), 'b'→1
    val d = docs("aaaa aaa", "b aaaa")
    val out = TextAnalysis.bpeEncode(d, 1)
      .as[(Long, Long)].collect().toMap
    assert(out(0L) == 4L) // aaaa(2) + aaa(2)
    assert(out(1L) == 3L) // b(1) + aaaa(2)
  }

  test("property: fold-merge equals an independent greedy reference on random words") {
    // reference implementation: classic index-walk greedy merge —
    // structurally unrelated to the SQL-fold under test
    def refMerge(toks: List[String], a: String, b: String): List[String] = {
      val out = scala.collection.mutable.ListBuffer[String]()
      var i = 0
      while (i < toks.length) {
        if (i + 1 < toks.length && toks(i) == a && toks(i + 1) == b) {
          out += (a + b); i += 2
        } else { out += toks(i); i += 1 }
      }
      out.toList
    }
    val rnd = new scala.util.Random(7)
    val alphabet = "ab"
    val wordSeqs = (0 until 60).map(_ =>
      (0 until (1 + rnd.nextInt(8))).map(_ => alphabet(rnd.nextInt(2)).toString))
    // one round on each of the 4 possible pairs over a 2-letter alphabet
    val seqs = wordSeqs.map(_.mkString("|")).distinct
    val df = seqs.toDF("seq")
    for (a <- Seq("a", "b"); b <- Seq("a", "b")) {
      val got = df.select(col("seq"),
        TextAnalysis.applyMerge(col("seq"), a, b).as("m"))
        .as[(String, String)].collect().toMap
      seqs.foreach { s0 =>
        val want = refMerge(s0.split("\\|").toList, a, b).mkString("|")
        assert(got(s0) == want, s"seq '$s0' pair ($a,$b): got ${got(s0)} want $want")
      }
    }
  }

  test("training leaves no resident blocks behind (storage-bounded at any numMerges)") {
    val before = spark.sparkContext.getPersistentRDDs.size
    val (m, vocab) = TextAnalysis.bpeTrainState(docs("abab abab cdcd ab cd"), 9)
    assert(m.nonEmpty)
    assert(vocab.count() > 0)
    graft.ops.Dedup.releaseLocalCheckpoint(vocab)
    val after = spark.sparkContext.getPersistentRDDs.size
    assert(after - before <= 0,
      s"superseded merge rounds leaked cached blocks: $before -> $after")
  }

  test("training exhausts gracefully when every word is a single symbol") {
    val merges = TextAnalysis.bpeTrain(docs("a b c"), 5).collect()
    assert(merges.isEmpty)
  }

  test("encode under the persisted merge artifact equals in-place encode; artifact transfers to a new corpus") {
    val train = docs("abab abab cdcd ab cd", "aaaa abab", "cd ab abcd")
    val merges = TextAnalysis.bpeTrain(train, 6)
    // own-corpus: artifact-driven encode must be bit-identical to the
    // in-place trainer+encoder
    val own = TextAnalysis.bpeEncodeWith(train, merges)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val inPlace = TextAnalysis.bpeEncode(train, 6)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(own == inPlace, s"artifact encode diverged: $own vs $inPlace")
    // cross-corpus (the production shape): the SAME artifact encodes a
    // corpus the trainer never saw; rules apply where they match
    // ('abab' compresses) and unseen words stay character-split
    val fresh = docs("abab zzz")
    val cross = TextAnalysis.bpeEncodeWith(fresh, merges)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val mergedPairs = merges.select("lhs", "rhs").collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    // 'abab' tokenizes below its 4 chars iff (a,b) was learned; 'zzz'
    // has no learned rule and stays 3 tokens
    val ababToks = cross(0L) - 3L
    assert(mergedPairs.contains(("a", "b")) && ababToks < 4,
      s"learned rules must transfer: abab -> $ababToks tokens")
  }

  test("delta-maintained pair census ≡ full rescan: merge sequence and freqs match a reference trainer") {
    // the r14 trainer maintains the pair census incrementally (only
    // words containing the merged pair are re-censused per round); this
    // pins every round's (lhs, rhs, freq) argmax against an independent
    // driver-side FULL-RESCAN reference with applyMerge's exact one-pass
    // left-to-right semantics — any drift in the delta bookkeeping
    // diverges the sequence immediately
    def refMerge(toks: Vector[String], l: String, r: String): Vector[String] =
      toks.tail.foldLeft(Vector(toks.head)) { (acc, x) =>
        if (acc.last == l && x == r) acc.init :+ (l + r) else acc :+ x
      }
    def refTrain(texts: Seq[String], n: Int): Seq[(String, String, Long)] = {
      var vocab: Map[Vector[String], Long] = texts
        .flatMap(_.split(" ").filter(w => w.nonEmpty && !w.contains("|")))
        .groupBy(identity).map { case (w, ws) =>
          w.split("").toVector -> ws.size.toLong }
      val out = scala.collection.mutable.ArrayBuffer[(String, String, Long)]()
      var done = false
      while (out.size < n && !done) {
        val counts = scala.collection.mutable.Map.empty[(String, String), Long]
        for ((toks, wc) <- vocab; i <- 0 until toks.length - 1)
          counts((toks(i), toks(i + 1))) =
            counts.getOrElse((toks(i), toks(i + 1)), 0L) + wc
        if (counts.isEmpty) done = true
        else {
          val ((l, r), f) = counts.minBy { case ((l, r), f) => (-f, l, r) }
          out += ((l, r, f))
          vocab = vocab.groupMapReduce {
            case (toks, _) => refMerge(toks, l, r) }(_._2)(_ + _)
        }
      }
      out.toSeq
    }
    val texts = Seq(
      "abab banana abab cabbage", "banana cab abba banana",
      "ababab nab ban cab", "abc abc abcd abcd abcd banana")
    val got = TextAnalysis.bpeTrain(docs(texts: _*), 12)
      .orderBy("rank").collect()
      .map(r => (r.getString(1), r.getString(2), r.getLong(3))).toSeq
    val want = refTrain(texts, 12)
    assert(got == want, s"delta trainer diverged:\n got: $got\nwant: $want")
    // and through the stateful trainer directly, at another round count
    val (m2, v2) = TextAnalysis.bpeTrainState(docs(texts: _*), 7)
    graft.ops.Dedup.releaseLocalCheckpoint(v2)
    assert(m2 == refTrain(texts, 7))
  }

  test("bpeEncodeWith refuses a corpus-sized merges frame loudly (ADVICE r12)") {
    // a merge artifact is vocabulary-sized by contract; wiring a huge
    // frame in would OOM the driver inside collect() — the guard must
    // fail first with an attributable message, and the check itself
    // must be bounded (limit(cap+1)), not a full count of the frame
    val oversized = spark.range(TextAnalysis.MaxMergeRules + 1L)
      .select(col("id").as("rank"), lit("a").as("lhs"), lit("b").as("rhs"))
    val e = intercept[IllegalArgumentException] {
      TextAnalysis.bpeEncodeWith(docs("abab"), oversized)
    }
    assert(e.getMessage.contains("vocabulary-sized"),
      s"guard message must attribute the wiring bug, got: ${e.getMessage}")
    // at exactly the cap the artifact is accepted (boundary pin):
    // build a tiny frame and confirm the happy path still encodes
    val tiny = spark.range(1).select(col("id").as("rank"),
      lit("a").as("lhs"), lit("b").as("rhs"))
    assert(TextAnalysis.bpeEncodeWith(docs("abab"), tiny)
      .collect().head.getLong(1) == 2L) // ab|ab
  }
}
