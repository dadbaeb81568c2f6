package graft

import org.apache.spark.sql.functions._

import graft.ops.Curation

/** Semantic invariants of the curation operators (the oracle gates check
  * cross-engine equality; these check the operators mean what they say). */
class CurationSpec extends SparkTestBase {

  private lazy val docs = graft.sources.Tables(spark, sf, "documents")

  test("exhaustive pair ops REFUSE an over-budget clique corpus (maxPairs guard)") {
    // replicated-clique pathology (VERDICT r7 #5): 40 groups of 50
    // IDENTICAL docs — every shingle has df = 50 ≤ dfCap, so nothing is
    // df-capped away and the candidate bound is
    // 40 groups · 10 shingles · C(50,2) ≈ 490k pairs. Under a small
    // budget the operators must throw BEFORE materializing the
    // expansion, with an actionable message; under a sufficient budget
    // the same corpus computes normally (capped per-doc output).
    val clique = spark.range(2000).select(
      col("id").as("doc_id"),
      concat_ws(" ", (0 until 12).map(i =>
        concat(lit(s"w${i}g"), (col("id") % 40).cast("string"))): _*).as("text"))
    def rootMsgs(t: Throwable): String =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
        .map(e => Option(e.getMessage).getOrElse("")).mkString(" | ")
    val exJ = intercept[Exception] {
      Curation.ngramJaccardPairs(clique, maxPairs = 1000).collect()
    }
    assert(rootMsgs(exJ).contains("refused"),
      s"expected loud refusal, got: ${rootMsgs(exJ).take(300)}")
    val exC = intercept[Exception] {
      Curation.ngramContainmentPairs(clique, maxPairs = 1000).collect()
    }
    assert(rootMsgs(exC).contains("refused"),
      s"expected loud refusal, got: ${rootMsgs(exC).take(300)}")
    // same corpus, sufficient budget → bounded (candCap) output, no throw
    val ok = Curation.ngramJaccardPairs(clique, maxPairs = 10000000L)
    assert(ok.groupBy("doc_a").count().agg(max("count")).head.getLong(0) <= 64,
      "per-doc output must stay candCap-bounded")
  }

  test("ngram Jaccard pairs: ordered, bounded, and actually similar") {
    val pairs = Curation.ngramJaccardPairs(docs, threshold = 0.3).collect()
    assert(pairs.nonEmpty, "corpus has near-dups; expected pairs")
    pairs.foreach { r =>
      assert(r.getLong(0) < r.getLong(1), "pairs must be a<b (no mirrors)")
      val j = r.getDouble(2)
      assert(j >= 0.3 && j <= 1.0, s"jaccard out of range: $j")
    }
    // exact Jaccard of a pair must match a direct set computation
    val (a, b, j) = {
      val r = pairs.maxBy(_.getDouble(2)); (r.getLong(0), r.getLong(1), r.getDouble(2))
    }
    val sets = docs.where(col("doc_id").isin(a, b))
      .select(col("doc_id"), col("text")).collect()
      .map { r =>
        val w = r.getString(1).split(" ")
        r.getLong(0) -> w.sliding(3).filter(_.length == 3).map(_.mkString(" ")).toSet
      }.toMap
    val inter = (sets(a) & sets(b)).size.toDouble
    val expect = inter / (sets(a).size + sets(b).size - inter)
    assert(math.abs(j - expect) < 1e-6, s"jaccard $j != set-computed $expect")
  }

  test("prefix-filtered Jaccard == brute force at every threshold (lossless candidates)") {
    import org.scalacheck.Gen
    import spark.implicits._
    // the prefix filter must lose NO pair at/above the threshold — drive
    // the operator against a direct all-pairs computation on random
    // small corpora with heavy word overlap (ties + near-dups)
    def sample[T](g: Gen[T], seed: Long): T =
      g.apply(Gen.Parameters.default, org.scalacheck.rng.Seed(seed))
        .getOrElse(sys.error("gen failed"))
    val word = Gen.oneOf("aa", "bb", "cc", "dd", "ee", "ff")
    val doc = Gen.choose(3, 12).flatMap(k => Gen.listOfN(k, word)).map(_.mkString(" "))
    for (i <- 0 until 3; t <- Seq(0.3, 0.5, 0.7)) {
      val texts = sample(Gen.listOfN(25, doc), 4200L + i)
      val in = texts.zipWithIndex.map { case (s, id) => (id.toLong, s) }
        .toDF("doc_id", "text")
      val got = Curation.ngramJaccardPairs(in, threshold = t).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      // brute force: distinct 3-gram sets, every pair, same rounding
      val sets = texts.zipWithIndex.map { case (s, id) =>
        id.toLong -> s.split(" ").sliding(3).filter(_.length == 3)
          .map(_.mkString(" ")).toSet
      }
      val want = (for {
        (a, sa) <- sets; (b, sb) <- sets if a < b
        c = (sa & sb).size.toDouble
        j = BigDecimal(c / (sa.size + sb.size - c))
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
        if j >= t
      } yield (a, b, j)).toSet
      assert(got == want, s"threshold $t corpus $i: got ${got.size}, want ${want.size}; " +
        s"missing ${want -- got}, extra ${got -- want}")
    }
  }

  test("containment catches embedded docs that Jaccard misses, directed small→large") {
    import spark.implicits._
    val big = (0 until 120).map(i => s"w$i").mkString(" ")
    val embedded = (40 until 60).map(i => s"w$i").mkString(" ")   // verbatim slice
    val noise = (0 until 30).map(i => s"x$i").mkString(" ")
    val in = Seq((1L, big), (2L, embedded), (3L, noise)).toDF("doc_id", "text")
    // symmetric Jaccard at the standard threshold sees nothing: the
    // shared set is ~18 shingles against a union of ~118
    assert(Curation.ngramJaccardPairs(in, threshold = 0.5).collect().isEmpty)
    val got = Curation.ngramContainmentPairs(in, threshold = 0.8).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(got.toSeq == Seq((2L, 1L, 1.0)),
      s"embedded doc must surface as contained_id=2 container_id=1: ${got.toSeq}")
  }

  test("property: containment matches brute-force min-set formula on random corpora") {
    import spark.implicits._
    import org.scalacheck.Gen
    def sample[T](g: Gen[T], seed: Long): T =
      g.apply(Gen.Parameters.default, org.scalacheck.rng.Seed(seed))
        .getOrElse(sys.error("gen failed"))
    val word = Gen.oneOf("aa", "bb", "cc", "dd", "ee", "ff")
    val doc = Gen.choose(3, 12).flatMap(k => Gen.listOfN(k, word)).map(_.mkString(" "))
    for (i <- 0 until 3; t <- Seq(0.5, 0.8)) {
      val texts = sample(Gen.listOfN(25, doc), 7700L + i)
      val in = texts.zipWithIndex.map { case (s, id) => (id.toLong, s) }
        .toDF("doc_id", "text")
      val got = Curation.ngramContainmentPairs(in, threshold = t).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      val sets = texts.zipWithIndex.map { case (s, id) =>
        id.toLong -> s.split(" ").sliding(3).filter(_.length == 3)
          .map(_.mkString(" ")).toSet
      }
      val want = (for {
        (a, sa) <- sets; (b, sb) <- sets
        if a < b && sa.nonEmpty && sb.nonEmpty
        c = (sa & sb).size.toDouble
        cont = BigDecimal(c / math.min(sa.size, sb.size))
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
        if cont >= t
        // directed: smaller set is the contained side; ties → lower id
        (cid, kid) = if (sa.size <= sb.size) (a, b) else (b, a)
      } yield (cid, kid, cont)).toSet
      assert(got == want, s"threshold $t corpus $i: got ${got.size}, want ${want.size}; " +
        s"missing ${want -- got}, extra ${got -- want}")
    }
  }

  test("short documents don't crash the shingle ops (ANSI element_at)") {
    import spark.implicits._
    // under Spark's ANSI default an unguarded element_at past the array
    // end THROWS — docs shorter than the n-gram must yield zero shingles
    val in = Seq((1L, "one two"), (2L, "single"), (3L, ""),
      (4L, "a b c d e f")).toDF("doc_id", "text")
    val pairs = Curation.ngramJaccardPairs(in, threshold = 0.1).collect()
    assert(pairs.forall(r => r.getLong(0) == 4L || r.getLong(1) == 4L) || pairs.isEmpty)
    val cont = Curation.contamination(in, benchMaxId = 2, minShared = 1).collect()
    assert(cont.forall(_.getLong(0) >= 2))
    val rep = Curation.repetitionStats(in).collect()
    assert(rep.length == 4)
    assert(rep.find(_.getLong(0) == 2L).exists(_.getDouble(3) == 0.0),
      "single-word doc must report top_bigram_frac 0.0")
  }

  test("contamination reports only corpus-vs-bench with the claimed overlap") {
    val c = Curation.contamination(docs, benchMaxId = 20, minShared = 2).collect()
    assert(c.nonEmpty)
    c.foreach { r =>
      assert(r.getLong(0) >= 20, "corpus side must exclude the benchmark")
      assert(r.getLong(1) < 20, "bench side must be benchmark docs")
      assert(r.getLong(2) >= 2)
    }
  }

  test("PII redaction removes every email and long digit run it counts") {
    import spark.implicits._
    val in = Seq(
      (1L, "write to a.b+c@ex-ample.org or call 12345678 now"),
      (2L, "nothing sensitive here 123 ok"),
      (3L, "two mails x@y.io and z@w.co plus 99999999999")).toDF("doc_id", "text")
    val out = Curation.piiRedact(in).collect().map(r =>
      r.getLong(0) -> ((r.getString(1), r.getLong(2), r.getLong(3)))).toMap
    assert(out(1L)._1 == "write to <EMAIL> or call <NUM> now")
    assert(out(1L)._2 == 1 && out(1L)._3 == 1)
    assert(out(2L)._1 == "nothing sensitive here 123 ok", "short digits stay")
    assert(out(2L)._2 == 0 && out(2L)._3 == 0)
    assert(out(3L)._2 == 2 && out(3L)._3 == 1)
    // idempotent: redacting redacted text changes nothing
    val again = Curation.piiRedact(
      Curation.piiRedact(in).select(col("doc_id"), col("clean_text").as("text")))
    assert(again.agg(sum(col("n_emails") + col("n_longnums"))).head.getLong(0) == 0)
  }

  test("sequence packing fills contiguously per source within the budget") {
    val packed = Curation.packSequences(docs, budget = 512)
    // offsets are the running sum: within a source, offset(next) =
    // offset(prev) + tokens(prev); pack_id = floor(offset/budget)
    val rows = packed.orderBy("source", "doc_id").collect()
    rows.groupBy(_.getString(1)).foreach { case (_, rs) =>
      var expect = 0L
      rs.foreach { r =>
        assert(r.getLong(4) == expect,
          s"offset gap at doc ${r.getLong(0)}: ${r.getLong(4)} != $expect")
        assert(r.getLong(3) == expect / 512)
        expect += r.getLong(2)
      }
    }
    // a pack never STARTS beyond its boundary: every pack id observed is
    // dense from 0 per source
    packed.groupBy("source").agg(max("pack_id").as("mx"),
        countDistinct("pack_id").as("n"))
      .collect().foreach(r => assert(r.getLong(2) == r.getLong(1) + 1,
        "pack ids must be dense per source"))
  }

  test("paragraph dedup: fractions consistent and chunk math matches a direct recount") {
    val out = Curation.paragraphDedup(docs).collect()
    assert(out.length == docs.count())
    out.foreach { r =>
      val (n, dup, frac) = (r.getLong(1), r.getLong(2), r.getDouble(3))
      assert(dup >= 0 && dup <= n)
      assert(math.abs(frac - BigDecimal(dup.toDouble / n)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble) < 1e-9)
    }
    // recount chunks for one document directly from its text
    val probe = out.head.getLong(0)
    val text = docs.where(col("doc_id") === probe).select("text")
      .collect()(0).getString(0)
    // split(_, -1) keeps trailing empty tokens, matching Spark's split
    val expect = (text.split(" ", -1).length - 1) / 10 + 1
    assert(out.find(_.getLong(0) == probe).get.getLong(1) == expect.toLong)
  }

  test("exact span dedup finds maximal cross-doc spans at any offset; trim removes exactly them") {
    import spark.implicits._
    val shared = (0 until 12).map(i => s"dup$i")       // 12-word repeated run
    val d1 = (0 until 5).map(i => s"a$i") ++ shared ++ (0 until 7).map(i => s"b$i")
    val d2 = (0 until 9).map(i => s"c$i") ++ shared ++ (0 until 3).map(i => s"d$i")
    val d3 = (0 until 30).map(i => s"e$i")             // clean doc
    val d4 = (0 until 6).map(i => s"s$i")              // too short for any gram
    val in = Seq((1L, d1.mkString(" ")), (2L, d2.mkString(" ")),
      (3L, d3.mkString(" ")), (4L, d4.mkString(" "))).toDF("doc_id", "text")
    val spans = Curation.spanDedup(in).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toSet
    // three stride-1 grams (start offsets differ BETWEEN the docs — the
    // fixed grid would miss one side) merge into ONE maximal 12-word span
    assert(spans == Set((1L, 6L, 17L, 12L, 3L), (2L, 10L, 21L, 12L, 3L)))
    val trim = Curation.spanTrim(in).collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2), r.getLong(3))))
      .toMap
    assert(trim(1L) == ((((0 until 5).map(i => s"a$i") ++
      (0 until 7).map(i => s"b$i")).mkString(" "), 12L, 12L)))
    assert(trim(2L) == ((((0 until 9).map(i => s"c$i") ++
      (0 until 3).map(i => s"d$i")).mkString(" "), 12L, 12L)))
    assert(trim(3L) == ((d3.mkString(" "), 30L, 0L)))  // untouched, verbatim
    assert(trim(4L) == ((d4.mkString(" "), 6L, 0L)))   // short doc passes through
  }

  test("partial-agg span frequency equals the count-over-window form on a mega-frequency gram") {
    import spark.implicits._
    // a "licence header" run carried by 90% of docs — the hot-gram skew
    // case the pre-r11 window form serialized onto ONE task (VERDICT
    // r10 #1); the partial-aggregated rewrite must return byte-equal
    // spans on exactly this corpus shape
    val boiler = (0 until 10).map(i => s"lic$i")
    val rnd = new scala.util.Random(7)
    val rows = (1L to 200L).map { id =>
      val body = (0 until 12 + rnd.nextInt(20)).map(_ => s"w${rnd.nextInt(40)}")
      val words = if (id % 10 == 0) body else boiler ++ body
      (id, words.mkString(" "))
    }
    val in = rows.toDF("doc_id", "text")
    val fast = Curation.spanDedup(in).collect().map(_.toSeq).toSet
    // reference: the superseded windowed-frequency form, inline
    val windowed = {
      val dup = Curation.stride1Grams(in, 10)
        .withColumn("gf", count(lit(1)).over(
          org.apache.spark.sql.expressions.Window.partitionBy(col("g"))))
        .where(col("gf") > 1).select(col("doc_id"), col("pos"))
      Curation.islandSpans(dup, 10).collect().map(_.toSeq).toSet
    }
    assert(fast.nonEmpty, "fixture produced no duplicated spans")
    assert(fast == windowed)
  }

  test("span dedup counts within-document repeats the fixed grid cannot see") {
    import spark.implicits._
    val run = (0 until 10).map(i => s"r$i")
    val doc = run ++ Seq("gapA", "gapB", "gapC") ++ run // same 10-gram twice in ONE doc
    val in = Seq((1L, doc.mkString(" "))).toDF("doc_id", "text")
    val spans = Curation.spanDedup(in).collect()
    assert(spans.map(r => (r.getLong(1), r.getLong(2))).toSet ==
      Set((1L, 10L), (14L, 23L)))
    // the second copy starts at word 14 — off the 10-word grid — so the
    // fixed-window pass reports zero duplication on the same input
    val para = Curation.paragraphDedup(in).collect()(0)
    assert(para.getLong(2) == 0L, "fixed grid unexpectedly saw the repeat")
  }

  test("incremental span screen flags batch-vs-corpus spans only, not batch-internal repeats") {
    import spark.implicits._
    val shared = (0 until 11).map(i => s"c$i")          // 11-word run in the corpus
    val corpus = Seq((2L, ((0 until 4).map(i => s"k$i") ++ shared).mkString(" ")))
    val innerRep = (0 until 10).map(i => s"m$i")
    val batch = Seq(
      // hits the corpus at offset 3: expect one maximal span [3,13]
      (3L, ((0 until 2).map(i => s"n$i") ++ shared ++
        (0 until 4).map(i => s"p$i")).mkString(" ")),
      // repeats a 10-gram WITHIN the batch twice but never in the corpus:
      // the incremental screen must stay silent (spanDedup's job)
      (5L, (innerRep ++ Seq("gap1", "gap2") ++ innerRep).mkString(" ")))
    val in = (corpus ++ batch).toDF("doc_id", "text")
    val out = Curation.incrementalSpanDedup(
      in.where(col("doc_id") % 2 === 0), in.where(col("doc_id") % 2 === 1))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSet
    assert(out == Set((3L, 3L, 13L, 11L, 2L)))
  }

  test("online span screen + offline island merge recompose the batch incremental result") {
    // the streaming twin emits raw (doc_id, pos) hits and defers
    // consolidation; islandSpans over those hits must equal the batch
    // pass end-to-end on the real corpus split
    val corpus = docs.where(col("doc_id") % 2 === 0)
    val batch = docs.where(col("doc_id") % 2 === 1)
    val index = Curation.stride1Grams(corpus, 10).select("g").distinct()
    val hits = Curation.stride1Grams(batch, 10)
      .join(index, Seq("g"), "left_semi")
      .select(col("doc_id"), col("pos"))
    val recomposed = Curation.islandSpans(hits, 10).collect()
      .map(_.toSeq).toSet
    val direct = Curation.incrementalSpanDedup(corpus, batch).collect()
      .map(_.toSeq).toSet
    assert(recomposed.nonEmpty, "fixture produced no cross-parity spans")
    assert(recomposed == direct)
  }

  test("span index lifecycle: append/compact merges equal a from-scratch rebuild") {
    val corpus = docs.where(col("doc_id") % 2 === 0)
    val batch = docs.where(col("doc_id") % 2 === 1)
    val index = Curation.spanIndexBuild(corpus)
    val dupDocs = Curation.stride1Grams(batch, 10)
      .join(index.select("g"), Seq("g"), "left_semi")
      .select("doc_id").distinct()
    val admitted = batch.join(dupDocs, Seq("doc_id"), "left_anti")
    val maintained = Curation.spanIndexCompact(
        Curation.spanIndexAppend(index, admitted),
        corpus.unionByName(admitted).where(col("doc_id") % 10 === 0))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val rebuilt = Curation.spanIndexBuild(
        corpus.unionByName(admitted).where(col("doc_id") % 10 =!= 0))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(maintained.nonEmpty, "fixture produced an empty index")
    assert(maintained == rebuilt)
  }

  test("span decontamination removes exactly the benchmark-leaked spans from corpus docs") {
    import spark.implicits._
    val leak = (0 until 7).map(i => s"leak$i")         // 7-word benchmark phrase
    val bench = (0 until 4).map(i => s"q$i") ++ leak   // doc_id 1 < benchMaxId
    val hit = (0 until 6).map(i => s"x$i") ++ leak ++ (0 until 5).map(i => s"y$i")
    val clean = (0 until 12).map(i => s"z$i")
    val in = Seq((1L, bench.mkString(" ")), (30L, hit.mkString(" ")),
      (31L, clean.mkString(" "))).toDF("doc_id", "text")
    val out = Curation.decontaminateSpans(in).collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2), r.getLong(3))))
      .toMap
    // benchmark docs are NOT in the output; both corpus docs are
    assert(out.keySet == Set(30L, 31L))
    // three overlapping 5-gram hits (offsets 7..9) merge into ONE
    // maximal span covering the whole 7-word leak — x*/y* words survive
    assert(out(30L) == ((((0 until 6).map(i => s"x$i") ++
      (0 until 5).map(i => s"y$i")).mkString(" "), 11L, 7L)))
    assert(out(31L) == ((clean.mkString(" "), 12L, 0L))) // untouched, verbatim
  }

  test("CDC chunk dedup survives the insertion that blinds fixed-window chunking") {
    import spark.implicits._
    val base = (0 until 200).map(i => s"a$i")
    // guard the fixture: the boundary rule must actually fire often
    // enough that the two documents share many content-defined chunks
    val triggers = base.count(w => graft.functions.Fnv.hash32(w, graft.functions.Fnv.Basis1) % 8 == 0)
    assert(triggers >= 10, s"fixture vocabulary only has $triggers triggers")
    val shifted = "inserted" +: base                    // one word prepended
    val in = Seq((1L, base.mkString(" ")), (2L, shifted.mkString(" ")))
      .toDF("doc_id", "text")
    val para = Curation.paragraphDedup(in).collect()
      .map(r => r.getLong(0) -> r.getDouble(3)).toMap
    val cdc = Curation.cdcChunkDedup(in).collect()
      .map(r => r.getLong(0) -> r.getDouble(3)).toMap
    // fixed windows: every 10-word chunk shifted by one → near-zero overlap
    assert(para(1L) < 0.2, s"fixed windows unexpectedly aligned: ${para(1L)}")
    // content-defined: everything after the first trigger re-aligns
    assert(cdc(1L) > 0.7 && cdc(2L) > 0.7,
      s"CDC chunks must re-align after the insertion: $cdc")
  }

  test("property: CDC chunks match a direct sequential recomputation") {
    import spark.implicits._
    import org.scalacheck.Gen
    def sample[T](g: Gen[T], seed: Long): T =
      g.apply(Gen.Parameters.default, org.scalacheck.rng.Seed(seed))
        .getOrElse(sys.error("gen failed"))
    val word = Gen.oneOf("aa", "bb", "cc", "dd", "ee", "ff", "gg", "hh")
    val doc = Gen.choose(1, 40).flatMap(k => Gen.listOfN(k, word)).map(_.mkString(" "))
    for (round <- 0 until 3) {
      val texts = sample(Gen.listOfN(30, doc), 9900L + round)
      val in = texts.zipWithIndex.map { case (s, id) => (id.toLong, s) }
        .toDF("doc_id", "text")
      // direct recomputation: walk each doc, cut after trigger words
      def chunksOf(text: String): Seq[String] = {
        val out = Seq.newBuilder[String]
        var cur = Vector.empty[String]
        text.split(" ", -1).foreach { w =>
          cur :+= w
          if (graft.functions.Fnv.hash32(w, graft.functions.Fnv.Basis1) % 8 == 0) {
            out += cur.mkString(" "); cur = Vector.empty
          }
        }
        if (cur.nonEmpty) out += cur.mkString(" ")
        out.result()
      }
      val all = texts.zipWithIndex.map { case (s, id) => id.toLong -> chunksOf(s) }
      val freq = all.flatMap(_._2).groupBy(identity).map { case (c, l) => c -> l.size }
      val got = Curation.cdcChunkDedup(in).collect()
        .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
      all.foreach { case (id, cs) =>
        val expDup = cs.count(c => freq(c) > 1).toLong
        assert(got(id) == ((cs.size.toLong, expDup)),
          s"doc $id round $round: ${got(id)} != (${cs.size}, $expDup)")
      }
    }
  }

  test("temperature mix keeps small sources whole and downsamples big ones at 1/sqrt(n)") {
    import spark.implicits._
    val rows = (0 until 50).map(i => (i.toLong, s"doc $i", "tiny")) ++
      (100 until 500).map(i => (i.toLong, s"doc $i", "big"))
    val in = rows.toDF("doc_id", "text", "source")
    val out = Curation.temperatureMix(in).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getDouble(3)))
    val bySrc = out.groupBy(_._2)
    // n=50 <= c² → p=1: the whole tiny source survives
    assert(bySrc("tiny").length == 50, s"tiny source must be kept whole")
    assert(bySrc("tiny").forall(_._4 == 1.0))
    // n=400 → p = 10/20 = 0.5 exactly; the md5 fraction keeps ~half
    assert(bySrc("big").forall(_._4 == 0.5))
    val kept = bySrc("big").length
    assert(kept > 140 && kept < 260, s"big source kept $kept of 400 at p=0.5")
    // brute-force the seeded keep rule doc by doc (exact reproducibility)
    val expect = rows.filter { case (id, _, src) =>
      val p = math.min(1.0, 10.0 / math.sqrt(if (src == "tiny") 50 else 400))
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(s"temp1$id".getBytes("UTF-8"))
      val h = java.lang.Long.parseLong(md.take(4).map("%02x".format(_)).mkString, 16)
      (h % 10000) < p * 10000
    }.map(_._1).toSet
    assert(out.map(_._1).toSet == expect, "keep set must match the seeded md5 rule")
  }

  test("corpus diff labels added/removed/changed/unchanged by content hash") {
    import spark.implicits._
    val oldSnap = Seq((1L, "alpha"), (2L, "beta"), (3L, "gamma")).toDF("doc_id", "text")
    val newSnap = Seq((2L, "beta"), (3L, "gamma v2"), (4L, "delta")).toDF("doc_id", "text")
    val got = Curation.corpusDiff(oldSnap, newSnap).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got == Map(1L -> "removed", 2L -> "unchanged",
      3L -> "changed", 4L -> "added"))
    // hash columns carry the evidence: null exactly on the missing side
    val rows = Curation.corpusDiff(oldSnap, newSnap).collect()
      .map(r => r.getLong(0) -> ((r.isNullAt(2), r.isNullAt(3)))).toMap
    assert(rows(1L) == ((false, true)) && rows(4L) == ((true, false)))
    assert(rows(2L) == ((false, false)) && rows(3L) == ((false, false)))
  }

  test("integer-exact operators are invariant to input partitioning") {
    import graft.ops.{Dedup, TextAnalysis}
    // the claim these ops make ("deterministic on any partitioning")
    // driven directly: 1 input partition vs 17 must give identical rows
    val ops: Seq[(String, org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame)] = Seq(
      ("quality_classifier", Curation.qualityClassifier(_)),
      ("shard_assign", Curation.shardAssign(_)),
      ("cdc_chunks", Curation.cdcChunkDedup(_)),
      ("cross_source", Curation.crossSourceDedup(_)),
      ("temperature_mix", Curation.temperatureMix(_)),
      ("length_trim", Curation.lengthTrim(_)),
      ("exact_dedup", Dedup.exact(_)),
      ("fingerprint", TextAnalysis.fingerprint(_)))
    ops.foreach { case (name, op) =>
      val one = op(docs.repartition(1)).collect().map(_.toString).sorted
      val many = op(docs.repartition(17)).collect().map(_.toString).sorted
      assert(one.sameElements(many), s"$name varies with partitioning")
    }
  }

  test("length trim drops exactly the per-source quantile tails") {
    import spark.implicits._
    val kept = Curation.lengthTrim(docs).collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2), r.getDouble(3))))
    val all = docs.selectExpr("doc_id", "source",
        "cast(size(split(text, ' ')) as bigint) AS n").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    val bySrc = all.groupBy(_._2)
    // brute-force cume_dist: (rows <= value)/n per source
    val expect = all.filter { case (_, src, n) =>
      val g = bySrc(src)
      val cd = g.count(_._3 <= n).toDouble / g.length
      cd > 0.05 && cd <= 0.95
    }.map(_._1).toSet
    assert(kept.map(_._1).toSet == expect)
    assert(kept.nonEmpty && kept.length < all.length,
      "trim must drop a real tail and keep a real middle")
    kept.foreach { case (id, (src, n, pct)) =>
      val g = bySrc(src)
      val cd = g.count(_._3 <= n).toDouble / g.length
      assert(math.abs(pct - BigDecimal(cd).setScale(6,
        BigDecimal.RoundingMode.HALF_UP).toDouble) < 1e-9, s"doc $id pct")
    }
  }

  test("curation pipeline composes its component signals faithfully") {
    import graft.ops.Dedup
    val out = Curation.curationPipeline(docs).collect()
      .map(r => r.getLong(0) -> ((r.getInt(1), r.getString(2)))).toMap
    assert(out.size == docs.count())
    val rep = Curation.repetitionStats(docs).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2), r.getDouble(3)))).toMap
    val score = Curation.qualityClassifier(docs).collect()
      .map(r => r.getLong(0) -> r.getDouble(2)).toMap
    val nd = Dedup.minhashLsh(docs).collect().map(_.getLong(1)).toSet
    out.foreach { case (id, (keep, reasons)) =>
      val (n, dwf, tbf) = rep(id)
      val expect = Seq(
        if (n < 15 || n > 90) Some("length") else None,
        if (tbf > 0.1 || dwf > 0.68) Some("repetition") else None,
        if (score(id) < -0.25) Some("quality") else None,
        if (nd(id)) Some("near_dup") else None).flatten.sorted.mkString(",")
      assert(reasons == expect, s"doc $id: '$reasons' != '$expect'")
      assert((keep == 1) == reasons.isEmpty, s"doc $id keep=$keep reasons='$reasons'")
    }
    // the fixture corpus must exercise every reason code AND keep docs
    val fired = out.values.flatMap(_._2.split(",")).filter(_.nonEmpty).toSet
    assert(fired == Set("length", "repetition", "quality", "near_dup"),
      s"codes fired: $fired")
    assert(out.values.exists(_._1 == 1), "some documents must survive")
  }

  test("cross-source dedup: one keeper per content key with the best priority") {
    val keep = Curation.crossSourceDedup(docs)
    val keyed = keep.collect()
    assert(keyed.map(_.getString(2)).distinct.length == keyed.length,
      "exactly one keeper per content key")
    assert(keyed.map(_.getLong(3)).sum == docs.count(),
      "group sizes must partition the corpus")
    assert(keyed.exists(_.getLong(3) > 1), "corpus has prefix-dup groups")
    // a keeper's source priority must be <= every group member's
    val w = split(col("text"), " ")
    val all = docs.select(col("doc_id"), col("source"),
        md5(concat_ws(" ", slice(w, 1, 10))).as("ck")).collect()
      .groupBy(_.getString(2))
    def pri(s: String): Long = "^src([0-9]+)$".r.findFirstMatchIn(s)
      .map(_.group(1).toLong).getOrElse(Long.MaxValue)
    keyed.foreach { k =>
      val members = all(k.getString(2))
      assert(members.map(m => pri(m.getString(1))).min == pri(k.getString(1)),
        s"keeper for ${k.getString(2)} is not from the best source")
    }
  }

  test("quality classifier: bounded score, keep flag consistent, deterministic") {
    val a = Curation.qualityClassifier(docs).collect()
    a.foreach { r =>
      val (score, keepFlag) = (r.getDouble(2), r.getInt(3))
      assert(score >= -1.0 && score <= 1.0, s"score out of range: $score")
      assert((keepFlag == 1) == (score > 0.0) || score == 0.0,
        s"keep flag inconsistent: $score vs $keepFlag")
    }
    val b = Curation.qualityClassifier(docs).collect()
    assert(a.map(_.toString).sorted.sameElements(b.map(_.toString).sorted),
      "classifier must be a pure function of the text")
  }

  test("property: new curation ops match brute-force recomputation on random corpora") {
    import spark.implicits._
    import org.scalacheck.Gen
    def sample[T](g: Gen[T], seed: Long): T =
      g.apply(Gen.Parameters.default, org.scalacheck.rng.Seed(seed))
        .getOrElse(sys.error("gen failed"))
    val word = Gen.oneOf("alpha", "beta", "gamma", "delta", "eps")
    val doc = Gen.choose(1, 35).flatMap(n => Gen.listOfN(n, word)).map(_.mkString(" "))
    for (round <- 0 until 3) {
      val n = 40
      val rows = (0 until n).map { i =>
        (i.toLong, sample(doc, round * 1000L + i), s"src${i % 5}")
      }
      val docs = rows.toDF("doc_id", "text", "source")

      // paragraphDedup vs brute force (10-word chunks, corpus-wide counts)
      val chunksOf = rows.map { case (id, text, _) =>
        id -> text.split(" ", -1).grouped(10).map(_.mkString(" ")).toSeq
      }.toMap
      val freq = chunksOf.values.flatten
        .groupBy(identity).map { case (c, l) => c -> l.size }
      val para = Curation.paragraphDedup(docs).collect()
        .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
      chunksOf.foreach { case (id, cs) =>
        val expDup = cs.count(c => freq(c) > 1).toLong
        assert(para(id) == ((cs.size.toLong, expDup)),
          s"doc $id: ${para(id)} != (${cs.size}, $expDup) [round $round]")
      }

      // crossSourceDedup vs brute force (prefix-10 key, src-number priority)
      val key = rows.map { case (id, text, src) =>
        (id, text.split(" ", -1).take(10).mkString(" "), src.drop(3).toLong)
      }
      val expKeep = key.groupBy(_._2).values.map(g => g.minBy(r => (r._3, r._1))._1).toSet
      val gotKeep = Curation.crossSourceDedup(docs).collect().map(_.getLong(0)).toSet
      assert(gotKeep == expKeep, s"round $round: $gotKeep != $expKeep")

      // shardAssign: total coverage, one assignment per doc, shard ∈ [0,8)
      val shards = Curation.shardAssign(docs).collect()
      assert(shards.length == n && shards.map(_.getLong(0)).distinct.length == n)
      assert(shards.forall(r => r.getLong(2) >= 0 && r.getLong(2) < 8))

      // qualityClassifier vs brute force (md5-bucket weights, integer sum)
      def bucket(tok: String): Long = {
        val md = java.security.MessageDigest.getInstance("MD5")
          .digest(tok.getBytes("UTF-8"))
        java.lang.Long.parseLong(md.take(4).map("%02x".format(_)).mkString, 16) % 1024
      }
      val expScore = rows.map { case (id, text, _) =>
        val toks = text.split(" ", -1)
        val sw = toks.map(t => (bucket(t) * 2654435761L) % 2048 - 1024).sum
        id -> BigDecimal(sw.toDouble / (toks.length.toDouble * 1024))
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      }.toMap
      Curation.qualityClassifier(docs).collect().foreach { r =>
        assert(math.abs(r.getDouble(2) - expScore(r.getLong(0))) < 1e-9,
          s"doc ${r.getLong(0)} score ${r.getDouble(2)} != ${expScore(r.getLong(0))}")
      }
    }
  }

  test("property: repetitionStats matches brute force (ties, one word, empty and null text)") {
    import spark.implicits._
    def fx6(x: Double): Double = math.floor(x * 1e6 + 0.5) / 1e6
    def expected(text: String): (Option[Long], Option[Double], Double) =
      if (text == null) (None, None, 0.0)
      else {
        val w = text.split(" ", -1)
        val n = w.length
        val top = if (n < 2) 0.0 else {
          val bg = w.sliding(2).map(_.mkString(" ")).toSeq
          fx6(bg.groupBy(identity).values.map(_.size).max.toDouble / (n - 1).toDouble)
        }
        (Some(n.toLong), Some(fx6(1.0 - w.distinct.length.toDouble / n.toDouble)), top)
      }
    val rnd = new scala.util.Random(11)
    val vocab = Seq("alpha", "beta", "gamma", "", "été")
    val fixed = Seq(
      1L -> "a b a b c d c d", // two bigrams tie for the top count
      2L -> "solo",
      3L -> "",
      4L -> null,
      5L -> "x x x x",
      6L -> "p  q  p  q") // empty words make bigrams too
    val random = (100L until 160L).map(i =>
      i -> Seq.fill(1 + rnd.nextInt(30))(vocab(rnd.nextInt(vocab.size))).mkString(" "))
    val rows = fixed ++ random
    val got = Curation.repetitionStats(rows.toDF("doc_id", "text")).collect()
      .map(r => r.getLong(0) -> ((Option(r.get(1)).map(_.asInstanceOf[Long]),
        Option(r.get(2)).map(_.asInstanceOf[Double]), r.getDouble(3)))).toMap
    assert(got.size == rows.size, "one row per document, null text included")
    rows.foreach { case (id, text) =>
      assert(got(id) == expected(text), s"doc $id '$text'")
    }
    assert(got(1L)._3 == fx6(2.0 / 7.0) && got(2L)._3 == 0.0 && got(4L) == ((None, None, 0.0)))
  }

  test("shard dealing is rank-driven, not id-driven (degenerate-formula guard)") {
    import spark.implicits._
    // four docs in the SAME rank group (ids ≡ 0 mod 16) with distinct
    // sizes: real round-robin dealing spreads them over four shards;
    // the degenerate doc_id%shards formula would pile all four on one
    val in = Seq(
      (0L, Seq.fill(40)("w").mkString(" ")),
      (16L, Seq.fill(30)("w").mkString(" ")),
      (32L, Seq.fill(20)("w").mkString(" ")),
      (48L, Seq.fill(10)("w").mkString(" "))).toDF("doc_id", "text")
    val shards = Curation.shardAssign(in).collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(shards.values.toSet.size == 4,
      s"docs in one rank group must deal across shards: $shards")
    // largest doc (rank 1) lands on shard (1-1+0)%8 = 0, then in size order
    assert(shards(0L) == 0L && shards(16L) == 1L &&
      shards(32L) == 2L && shards(48L) == 3L)
  }

  test("shard assignment covers every doc and balances token budgets") {
    val out = Curation.shardAssign(docs)
    assert(out.count() == docs.count())
    val totals = out.groupBy("shard").agg(sum("n_tokens").as("t"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(totals.keySet == (0L until 8L).toSet, "all 8 shards populated")
    val (mx, mn) = (totals.values.max.toDouble, totals.values.min.toDouble)
    // size-ranked round-robin across 16 groups lands well under 20% skew
    assert(mx / mn < 1.2, s"shard token skew too high: $totals")
  }

  test("keep-best survivorship: one keeper per cluster, and it has the max quality") {
    val out = Curation.keepBestInClusters(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getBoolean(3)))
    assert(out.length == docs.count())
    out.groupBy(_._2).foreach { case (cl, rows) =>
      val keepers = rows.filter(_._4)
      assert(keepers.length == 1, s"cluster $cl has ${keepers.length} keepers")
      val best = rows.maxBy(r => (r._3, -r._1)) // max quality, min doc_id tie
      assert(keepers.head._1 == best._1,
        s"cluster $cl keeper ${keepers.head} is not the best-quality member $best")
    }
    // the policy must actually differ from min-id representatives
    // somewhere on this corpus (otherwise the gate is vacuous)
    val minIdKeeps = out.groupBy(_._2).map { case (_, rows) => rows.map(_._1).min }.toSet
    val bestKeeps = out.filter(_._4).map(_._1).toSet
    assert(minIdKeeps != bestKeeps,
      "quality survivorship coincides with min-id everywhere — corpus too uniform to test the policy")
  }
}
