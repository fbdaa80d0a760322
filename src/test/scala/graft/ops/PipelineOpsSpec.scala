package graft.ops

import graft.spark.SparkTestSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Training-data pipeline operators added in round 3: exact-substring
  * duplication stats, benchmark decontamination, deterministic hash split,
  * PII redaction, corpus n-gram top-k. Each is checked on hand-computable
  * corpora; the driver-facing variants are additionally oracle-gated via
  * SparkEntry (doc_substring_dups / doc_decontam / doc_split /
  * doc_pii_scrub / doc_ngram_top).
  */
class PipelineOpsSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def docsOf(rows: (Long, String)*) = rows.toDF("doc_id", "text")

  test("sourceMixture: sqrt temperature flattens, cap binds, shares bounded, null source total") {
    val docs = Seq(
      // big source: 2 docs x 8 tokens = 16; small: 1 doc x 4 = 4; null source
      (1L, "a b c d e f g h", "big"),
      (2L, "a b c d e f g h", "big"),
      (3L, "a b c d", "small"),
      (4L, "a b", null)).toDF("doc_id", "text", "source")
    val out = TextOps.sourceMixture(docs, targetTokens = 30L, maxRatePpm = 2000000L)
      .collect().map(r => Option(r.getString(0)) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    // isqrt weights: big 4, small 2, null 1 → total 7
    assert(out(Some("big")) == ((2L, 16L, 4000000L / 7, (4000000L / 7) * 30 / 16)))
    assert(out(Some("small"))._3 == 2000000L / 7)
    // the small source's uncapped rate (285714*30/4 ≈ 2.14M ppm) must CAP
    // while big's (≈1.07M) must not — both least() branches exercised
    assert(out(Some("small"))._4 == 2000000L)
    assert(out(Some("big"))._4 < 2000000L)
    assert(out(None)._1 == 1L, "null source must not be dropped")
    // temperature property: big has 4x the tokens but only 2x the weight
    assert(out(Some("big"))._3 == 2 * out(Some("small"))._3)
    // shares are a sub-distribution of 1e6 (floor division loses ≤ nSources-1 ppm)
    val total = out.values.map(_._3).sum
    assert(total <= 1000000L && total >= 1000000L - 3)
    // a source with only NULL text reports zero mass and ZERO rate — not
    // the cap (least() skips NULL args in both engines, so an unguarded
    // NULL rate would surface as maximum oversampling)
    val degenerate = Seq((1L, "a b", "ok"), (2L, null: String, "nulls"))
      .toDF("doc_id", "text", "source")
    val d = TextOps.sourceMixture(degenerate, targetTokens = 10L, maxRatePpm = 999L)
      .collect().map(r => r.getString(0) -> (r.getLong(2), r.getLong(4))).toMap
    assert(d("nulls") == ((0L, 0L)), s"degenerate source must not be cap-sampled: $d")
    assert(d("ok")._2 > 0L)
  }

  test("packSequences: concat-then-chunk offsets, boundary spans, zero-token docs") {
    val docs = Seq(
      (1L, "a b c"),            // tokens 3, offsets [0,3)  → seq 0
      (2L, "d e f g"),          // tokens 4, offsets [3,7)  → spans seqs 0-1 (cut at 4)
      (3L, null: String),       // 0 tokens at offset 7     → n_seqs 0
      (4L, "h"))                // tokens 1, offsets [7,8)  → seq 1
      .toDF("doc_id", "text")
    val out = TextOps.packSequences(docs, seqTokens = 4)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))).toMap
    assert(out(1L) == ((3L, 0L, 0L, 0L, 1L)))
    assert(out(2L) == ((4L, 3L, 0L, 1L, 2L)), "doc crossing the cut belongs to both sequences")
    assert(out(3L) == ((0L, 7L, 1L, 1L, 0L)), "zero-token doc occupies nothing")
    assert(out(4L) == ((1L, 7L, 1L, 1L, 1L)))
  }

  test("packSequences invariants: contiguous offsets, exact coverage, partition-order independence") {
    val rnd = new scala.util.Random(7)
    val docs = (1L to 200L).map { i =>
      val words = rnd.nextInt(12) // includes 0-token docs via null text
      (i, if (words == 0) null else Seq.fill(words)("w").mkString(" "))
    }.toDF("doc_id", "text")
    val rows = TextOps.packSequences(docs, seqTokens = 7)
      .orderBy(col("doc_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))
    // offsets are an exact contiguous tiling of [0, totalTokens)
    rows.foldLeft(0L) { case (expected, (_, tokens, start, _, _, _)) =>
      assert(start == expected, s"gap/overlap at offset $start, expected $expected")
      expected + tokens
    }
    // seq span arithmetic consistent with offsets
    rows.foreach { case (_, tokens, start, first, last, nSeqs) =>
      assert(first == start / 7)
      if (tokens > 0) {
        assert(last == (start + tokens - 1) / 7)
        assert(nSeqs == last - first + 1)
      } else assert(nSeqs == 0L && last == first)
    }
    // the layout is a pure function of the corpus, not its partitioning
    val repartitioned = TextOps.packSequences(docs.repartition(13), seqTokens = 7)
      .orderBy(col("doc_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))
    assert(repartitioned.toSeq == rows.toSeq)
  }

  test("substringDupStats: shared windows counted per doc, singles excluded") {
    // d1/d2 share the window "a b c"; d3 is disjoint; d4 too short for L=3
    val docs = docsOf(
      1L -> "a b c x y",
      2L -> "q a b c z",
      3L -> "p q r s t",
      4L -> "u v")
    val out = TextOps.substringDupStats(docs, windowTokens = 3).collect()
      .map(r => (r.getLong(0), (r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(out.keySet == Set(1L, 2L, 3L)) // doc 4 has no windows
    assert(out(1L) == ((3L, 1L, 0.3333)))
    assert(out(2L) == ((3L, 1L, 0.3333)))
    assert(out(3L) == ((3L, 0L, 0.0)))
  }

  test("substringDupStats: within-doc repeats don't self-duplicate") {
    // the window "a b c" occurs twice inside ONE doc — df counts distinct
    // docs, so it must not be flagged
    val docs = docsOf(1L -> "a b c a b c", 2L -> "x y z w v")
    val out = TextOps.substringDupStats(docs, windowTokens = 3).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toMap
    assert(out == Map(1L -> 0L, 2L -> 0L))
  }

  test("decontaminate: flags gram overlap with benchmark, broadcast plan") {
    val corpus = docsOf(
      10L -> "the quick brown fox jumps",   // shares "quick brown fox" with bench
      11L -> "totally unrelated text here now",
      12L -> "very quick brown fox inside") // shares too
    val bench = docsOf(99L -> "a quick brown fox runs far")
    val res = TextOps.decontaminate(corpus, bench, windowTokens = 3)
    val out = res.collect().map(r => (r.getLong(0), (r.getLong(1), r.getBoolean(2)))).toMap
    assert(out(10L)._2 && out(12L)._2 && !out(11L)._2)
    assert(out(11L)._1 == 0L)
    // the benchmark gram set must be the broadcast build side
    val plan = res.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), s"expected broadcast join in:\n$plan")
  }

  test("hashSplit: stable under corpus growth, buckets in range, splits partition") {
    val base = (0L until 300L).map(i => (i, s"doc $i")).toDF("doc_id", "text")
    val grown = (0L until 600L).map(i => (i, s"doc $i")).toDF("doc_id", "text")
    val a = TextOps.hashSplit(base).collect()
      .map(r => (r.getLong(0), (r.getLong(1), r.getString(2)))).toMap
    val b = TextOps.hashSplit(grown).collect()
      .map(r => (r.getLong(0), (r.getLong(1), r.getString(2)))).toMap
    // growth never moves an existing doc (THE property of hash splits)
    a.foreach { case (id, v) => assert(b(id) == v) }
    assert(a.values.forall { case (bk, _) => bk >= 0 && bk < 100 })
    val splits = b.values.groupBy(_._2).view.mapValues(_.size).toMap
    assert(splits.keySet == Set("train", "val", "test"))
    assert(splits("train") > splits("val") && splits("train") > splits("test"))
    // boundaries honored exactly
    b.values.foreach { case (bk, s) =>
      val expect = if (bk < 90) "train" else if (bk < 95) "val" else "test"
      assert(s == expect)
    }
  }

  test("scrubPii: masks and counts emails and phones, leaves clean text alone") {
    val df = Seq(
      (1L, "write to alice.smith+dev@mail.example.org or call +1-555-0199 now"),
      (2L, "no pii in this row at all"),
      (3L, "two mails: a@b.co and c_d%x@y-z.io plus +1-800-1234 +1-800-12345"))
      .toDF("doc_id", "text")
    val out = TextOps.scrubPii(df, "text")
      .select($"doc_id", $"n_emails", $"n_phones", $"clean_text").collect()
      .map(r => (r.getLong(0), (r.getInt(1), r.getInt(2), r.getString(3)))).toMap
    assert(out(1L)._1 == 1 && out(1L)._2 == 1)
    assert(out(1L)._3 == "write to <EMAIL> or call <PHONE> now")
    assert(out(2L) == ((0, 0, "no pii in this row at all")))
    // the 5-digit run still matches on its 4-digit prefix (bounded patterns
    // have no word anchors by design — RE2 compatibility)
    assert(out(3L)._1 == 2 && out(3L)._2 == 2)
  }

  test("scrubPii: phone-shaped substring inside an email is not double-counted") {
    // '+' and '-' are legal email local-part chars, so the whole token is
    // one email; the embedded +1-555-1234 is consumed by <EMAIL> and must
    // NOT be counted as a phone (counts always equal emitted tokens)
    val df = Seq((1L, "reach a+1-555-1234@b.co today")).toDF("doc_id", "text")
    val r = TextOps.scrubPii(df, "text")
      .select($"n_emails", $"n_phones", $"clean_text").collect().head
    assert(r.getInt(0) == 1 && r.getInt(1) == 0)
    assert(r.getString(2) == "reach <EMAIL> today")
  }

  test("stratifiedSample: per-stratum rates honored, membership stable under growth") {
    def corpus(n: Long) = (0L until n)
      .map(i => (i, s"doc $i", s"src${i % 4}")).toDF("doc_id", "text", "source")
    val rates = Map("src0" -> 1000, "src1" -> 0) // keep all of src0, none of src1
    val a = TextOps.stratifiedSample(corpus(400), "source", rates, defaultPerMille = 300)
      .collect().map(r => (r.getLong(0), r.getString(2))).toSet
    assert(a.count(_._2 == "src0") == 100) // rate 1000‰ keeps everything
    assert(a.count(_._2 == "src1") == 0)   // rate 0‰ keeps nothing
    val mid = a.count(t => t._2 == "src2" || t._2 == "src3")
    assert(mid > 20 && mid < 100) // ~30% of 200, hash-distributed
    // growth never changes an existing doc's membership
    val b = TextOps.stratifiedSample(corpus(800), "source", rates, defaultPerMille = 300)
      .collect().map(r => (r.getLong(0), r.getString(2))).toSet
    assert(a.subsetOf(b))
    assert(b.filter(_._1 < 400) == a)
  }

  test("qualityFilters: rule booleans and keep conjunction are exact") {
    val docs = docsOf(
      1L -> Seq.fill(60)("a").mkString(" "),            // 60 words, mean len 1, all stopwords, distinct_ratio tiny
      2L -> (1 to 60).map(i => s"word$i").mkString(" "), // 60 distinct words, no stopwords
      3L -> ("the and " + (1 to 58).map(i => s"word$i").mkString(" ")))
    val out = TextOps.qualityFilters(docs).collect()
      .map(r => (r.getLong(0), (r.getBoolean(5), r.getBoolean(6), r.getBoolean(7),
        r.getBoolean(8), r.getBoolean(9)))).toMap
    // doc1: words ok, mean len 1 (<3) fails, stop ok, repetition fails
    assert(out(1L) == ((true, false, true, false, false)))
    // doc2: words ok, len ok, stopwords fail, distinct ok
    assert(out(2L)._1 && out(2L)._2 && !out(2L)._3 && out(2L)._4 && !out(2L)._5)
    // doc3: everything passes
    assert(out(3L) == ((true, true, true, true, true)))
  }

  test("unigramRarity: integer surprisal from corpus counts, exact") {
    // corpus: "a" x8, "b" x4, "c" x4 → total 16 (ilog2=4);
    // rarity(a)=4-3=1, rarity(b)=rarity(c)=4-2=2
    val docs = docsOf(
      1L -> "a a a a a a a a", // 8 tokens rarity 1 → mean 1.0
      2L -> "b b b b c c c c") // 8 tokens rarity 2 → mean 2.0
    val out = TextOps.unigramRarity(docs).collect()
      .map(r => (r.getLong(0), (r.getLong(1), r.getDouble(2)))).toMap
    assert(out(1L) == ((8L, 1.0)))
    assert(out(2L) == ((8L, 2.0)))
  }

  test("doc_train_set composition: keep-list is consistent with each stage's own verdict") {
    val dir = "/root/testdata/sf0.001"
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val kept = graft.SparkEntry.queries("doc_train_set")(spark, dir)
      .collect().map(_.getLong(0)).toSet
    assert(kept.nonEmpty && kept.size < docs.count())
    val train = TextOps.hashSplit(docs).filter(col("split") === "train")
      .collect().map(_.getLong(0)).toSet
    val keep = TextOps.qualityFilters(docs).filter(col("keep"))
      .collect().map(_.getLong(0)).toSet
    val contaminated = TextOps.decontaminate(
        docs.filter(pmod(col("doc_id"), lit(29)) =!= 0),
        docs.filter(pmod(col("doc_id"), lit(29)) === 0), windowTokens = 5)
      .filter(col("contaminated")).collect().map(_.getLong(0)).toSet
    val dupDrops = TextOps.nearDupGroups(docs, 3, 32, 16, 0.3)
      .filter(col("doc_id") =!= col("keep_id"))
      .collect().map(_.getString(0).toLong).toSet
    assert(kept.subsetOf(train))
    assert(kept.subsetOf(keep))
    assert(kept.intersect(contaminated).isEmpty)
    assert(kept.intersect(dupDrops).isEmpty)
    assert(kept.forall(_ % 29 != 0)) // benchmark slice itself excluded
  }

  test("chunk: stride windows cover every token, overlap is exact, last chunk short") {
    val docs = docsOf(1L -> (1 to 50).map(i => s"t$i").mkString(" "), 2L -> "a b")
    val out = TextOps.chunk(docs, chunkTokens = 32, stride = 24).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap
    // doc1: starts 0, 24, 48 → sizes 32, 26, 2
    assert(out == Map((1L, 0L) -> 32L, (1L, 1L) -> 26L, (1L, 2L) -> 2L, (2L, 0L) -> 2L))
    // deterministic chunk hashing: same call twice, identical md5s
    val h1 = TextOps.chunk(docs, 32, 24).collect().map(_.getString(3)).toSeq
    val h2 = TextOps.chunk(docs, 32, 24).collect().map(_.getString(3)).toSeq
    assert(h1 == h2)
    // null text yields NO chunks (not junk rows from a descending sequence)
    val withNull = Seq((9L, null: String), (10L, "x")).toDF("doc_id", "text")
    val nulls = TextOps.chunk(withNull, 32, 24).collect()
    assert(nulls.map(_.getLong(0)).toSeq == Seq(10L))
  }

  test("scrubPii property: planted emails/phones are always counted and fully masked") {
    val rnd = new scala.util.Random(20260817L)
    val words = Seq("alpha", "beta", "gamma", "delta", "x1", "z9")
    val rows = (0 until 200).map { i =>
      val nE = rnd.nextInt(3); val nP = rnd.nextInt(3)
      val base = Seq.fill(5 + rnd.nextInt(10))(words(rnd.nextInt(words.size)))
      val piis = Seq.fill(nE)(s"u${rnd.nextInt(1000)}@ex${rnd.nextInt(10)}.org") ++
        Seq.fill(nP)(f"+1-${rnd.nextInt(1000)}%03d-${rnd.nextInt(10000)}%04d")
      val text = rnd.shuffle(base ++ piis).mkString(" ")
      (i.toLong, text, nE, nP)
    }
    val df = rows.map(r => (r._1, r._2)).toDF("doc_id", "text")
    val out = TextOps.scrubPii(df, "text")
      .select($"doc_id", $"n_emails", $"n_phones", $"clean_text").collect()
      .map(r => (r.getLong(0), (r.getInt(1), r.getInt(2), r.getString(3)))).toMap
    rows.foreach { case (id, _, nE, nP) =>
      val (gotE, gotP, clean) = out(id)
      assert(gotE == nE && gotP == nP, s"doc $id: got ($gotE,$gotP) want ($nE,$nP)")
      assert(!clean.contains("@") && !clean.contains("+1-"), s"doc $id leaked PII: $clean")
    }
  }

  test("decontaminate property: every planted benchmark window is detected") {
    val rnd = new scala.util.Random(20260818L)
    val vocab = (0 until 40).map(i => s"v$i")
    def doc(n: Int) = Seq.fill(n)(vocab(rnd.nextInt(vocab.size)))
    val bench = docsOf(900L -> doc(30).mkString(" "), 901L -> doc(30).mkString(" "))
    val benchWindows = bench.collect().map(_.getString(1).split(" ").toSeq)
    // corpus: 30 clean docs over a DISJOINT vocab + 20 docs with a planted
    // 5-token benchmark window spliced mid-document
    val clean = (0 until 30).map(i =>
      (i.toLong, Seq.fill(25)(s"w${rnd.nextInt(40)}").mkString(" ")))
    val planted = (100 until 120).map { i =>
      val src = benchWindows(rnd.nextInt(benchWindows.size))
      val at = rnd.nextInt(src.size - 5)
      val window = src.slice(at, at + 5)
      val halves = Seq.fill(10)(s"w${rnd.nextInt(40)}")
      (i.toLong, (halves.take(5) ++ window ++ halves.drop(5)).mkString(" "))
    }
    val corpus = (clean ++ planted).toDF("doc_id", "text")
    val out = TextOps.decontaminate(corpus, bench, windowTokens = 5).collect()
      .map(r => (r.getLong(0), r.getBoolean(2))).toMap
    planted.foreach { case (id, _) => assert(out(id), s"planted doc $id not flagged") }
    clean.foreach { case (id, _) => assert(!out(id), s"clean doc $id flagged") }
  }

  test("ngramTopK: counts occurrences (not distinct docs), deterministic ties") {
    val docs = docsOf(1L -> "a b a b", 2L -> "a b c", 3L -> "z")
    val out = TextOps.ngramTopK(docs, n = 2, k = 3).collect()
      .map(r => (r.getString(0), r.getLong(1)))
    // "a b" occurs 3 times (twice in doc1, once in doc2); ties break by gram
    assert(out.head == (("a b", 3L)))
    assert(out.toSeq == Seq(("a b", 3L), ("b a", 1L), ("b c", 1L)))
  }

  test("repetitionStats: top-gram coverage, dup-window fraction, short-doc nulls") {
    val docs = docsOf(
      1L -> "a b a b a b",           // "a b" x3; both 5-windows distinct
      2L -> "x y z w v u q r s t",   // all 2-grams tie at 1 → max gram "z w"
      3L -> "a a a a a a a a a a",   // "a a" x9; all six 5-windows identical
      4L -> "q")                     // no 2-grams, no 5-windows
    val out = TextOps.repetitionStats(docs).collect().map(r =>
      r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4),
        Option(r.getString(5)), r.getLong(6), r.getDouble(7), r.getBoolean(8)))).toMap
    // doc 1: chars 11, top "a b" x3 → 9/11; 2 distinct 5-windows
    assert(out(1L) == ((6L, 2L, 0L, 0.0, Some("a b"), 3L, 0.8182, false)))
    // doc 2: tie at count 1 breaks to the LEXICOGRAPHIC MAX gram (the
    // deterministic argmax the oracle replays); 3/19 chars covered
    assert(out(2L) == ((10L, 6L, 0L, 0.0, Some("z w"), 1L, 0.1579, true)))
    // doc 3: 6 windows, 1 distinct → dup 5/6; coverage 27/19 exceeds 1
    // (overlapping occurrences — documented semantics)
    assert(out(3L) == ((10L, 6L, 5L, 0.8333, Some("a a"), 9L, 1.4211, false)))
    // doc 4: no grams at all → null top gram, zero fractions, kept
    assert(out(4L) == ((1L, 0L, 0L, 0.0, None, 0L, 0.0, true)))
  }

  test("bpePairCounts: within-token pairs, deterministic ties, degenerate tokens") {
    val docs = Seq((1L, "hello hello hi a"), (2L, null: String))
      .toDF("doc_id", "text")
    val out = TextOps.bpePairCounts(docs, k = 10).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
    // "hello" x2 → el/he/ll/lo x2 each; "hi" → hi x1; "a" too short; null
    // text contributes nothing. Ties break pair-ascending.
    assert(out == Seq(("el", 2L), ("he", 2L), ("ll", 2L), ("lo", 2L), ("hi", 1L)))
  }

  test("bpeEncode: list-order composition, hand-computed counts") {
    // "table" with merges t+a, ta+b, l+e, tab+le: <t><a><b><l><e> →
    // <ta><b><l><e> → <tab><l><e> → <tab><le> → <table>: 1 token
    val docs = Seq(
      (1L, "table"),
      (2L, "tab le"),     // space blocks the final merge: <tab>< ><le> = 3
      (3L, "TABLE!"),     // normalization: case-folds, '!' dropped → like doc 1
      (4L, "xyz"),        // no merges apply: 3 symbols stay 3 tokens
      (5L, null: String)) // null text → null counts (oracle parity)
      .toDF("doc_id", "text")
    val merges = Seq("t" -> "a", "ta" -> "b", "l" -> "e", "tab" -> "le")
    val out = TextOps.bpeEncode(docs, merges).collect()
      .map(r => r.getLong(0) ->
        ((if (r.isNullAt(1)) -1L else r.getLong(1),
          if (r.isNullAt(2)) -1L else r.getLong(2)))).toMap
    assert(out(1L) == ((1L, 5L)))
    assert(out(2L) == ((3L, 6L)))
    assert(out(3L) == ((1L, 5L)))
    assert(out(4L) == ((3L, 3L)))
    assert(out(5L) == ((-1L, -1L)))
  }

  test("bpeEncode: left-to-right non-overlapping rewrite ('aaa' with a+a)") {
    val docs = Seq((1L, "aaa"), (2L, "aaaa")).toDF("doc_id", "text")
    val out = TextOps.bpeEncode(docs, Seq("a" -> "a")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // aaa → (aa)a = 2 tokens; aaaa → (aa)(aa) = 2 tokens
    assert(out == Map(1L -> 2L, 2L -> 2L))
  }

  test("crossDedup: only cross-corpus pairs surface, with exact Jaccard") {
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val docs = Seq(
      (10L, base),                          // existing
      (12L, base + " lambda"),              // existing near-dup of 10 (within-side: must NOT surface)
      (21L, base),                          // incoming exact dup of 10/12
      (23L, "totally different words here nothing shared at all maybe"),
      (25L, "unrelated content again completely disjoint vocabulary set"))
      .toDF("doc_id", "text")
    val out = TextOps.crossDedup(
        existing = docs.filter(col("doc_id") % 2 === 0),
        incoming = docs.filter(col("doc_id") % 2 === 1),
        k = 3, numHashes = 32, bands = 16, threshold = 0.3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    // 21 vs 10: identical shingle sets → jaccard 1.0 (8 shingles each)
    // 21 vs 12: 8 of 9 shared → 8/9 ≈ 0.8889
    assert(out == Set((21L, 10L, 1.0), (21L, 12L, 0.8889)))
  }

  test("crossDedupIndexed over a persisted index equals the inline path") {
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val docs = Seq(
      (10L, base), (12L, base + " lambda"), (21L, base),
      (23L, "totally different words here nothing shared at all maybe"))
      .toDF("doc_id", "text")
    val existing = docs.filter(col("doc_id") % 2 === 0)
    val incoming = docs.filter(col("doc_id") % 2 === 1)
    // round-trip the index through parquet: the write-once deployment shape
    val dir = java.nio.file.Files.createTempDirectory("dedup_idx_").toString
    TextOps.dedupIndex(existing, k = 3).write.parquet(s"$dir/idx")
    val viaIndex = TextOps.crossDedupIndexed(
        spark.read.parquet(s"$dir/idx"), incoming,
        k = 3, numHashes = 32, bands = 16, threshold = 0.3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val inline = TextOps.crossDedup(existing, incoming,
        k = 3, numHashes = 32, bands = 16, threshold = 0.3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(viaIndex == inline && viaIndex.nonEmpty)
  }

  test("bpeEncode: merges outside the closed alphabet are rejected") {
    val docs = Seq((1L, "x")).toDF("doc_id", "text")
    val e = intercept[IllegalArgumentException] {
      TextOps.bpeEncode(docs, Seq("<" -> "a"))
    }
    assert(e.getMessage.contains("closed alphabet"))
  }
}
