package graft

import org.apache.spark.sql.functions._
import graft.operators.{Multimodal, TextAnalysis}

class TextMultimodalSpec extends SparkSpec {
  import spark.implicits._

  test("langId heuristic picks the right language on real phrases") {
    val df = Seq(
      ("en", "the cat and the dog went to the park and it is sunny"),
      ("de", "der hund und die katze sind nicht im haus und das ist gut"),
      ("fr", "le chat et la souris sont dans la maison et c'est les vacances"),
      ("es", "el perro y la casa y los gatos es bonita y es grande"),
      ("zh", "这是一个中文句子")
    ).toDF("want", "text")
    val got = df.select($"want", TextAnalysis.langId($"text").as("got")).collect()
    got.foreach(r => assert(r.getString(0) == r.getString(1),
      s"want ${r.getString(0)} got ${r.getString(1)}"))
  }

  test("token counts and quality bounds") {
    val df = Seq(
      "a clean well formed sentence with reasonable words here",
      "!!! ??? ;;; ::: ,,, ... ((( )))",
      "x"
    ).toDF("text")
    val out = df.select(
      TextAnalysis.tokenCount($"text").as("n"),
      TextAnalysis.bpeishTokenCount($"text").as("nb"),
      TextAnalysis.qualityScore($"text").as("q")).collect()
    assert(out(0).getInt(0) == 9)
    assert(out(0).getInt(1) >= 9) // subword ≥ word count
    assert(out(0).getDouble(2) > out(1).getDouble(2)) // punct soup scores lower
    assert(out.forall(r => r.getDouble(2) >= 0.0 && r.getDouble(2) <= 1.0))
  }

  test("rolling fingerprint: order-sensitive, whitespace-normalized") {
    val df = Seq(
      ("a", "alpha beta gamma"),
      ("b", "alpha  beta   gamma"), // extra whitespace → same tokens
      ("c", "gamma beta alpha")     // different order → different hash
    ).toDF("id", "text")
    val fp = df.select($"id", TextAnalysis.rollingFingerprint($"text").as("f"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(fp("a") == fp("b"))
    assert(fp("a") != fp("c"))
  }

  test("hash sampling: deterministic, growth-stable, split covers all rows") {
    val big = spark.range(2000).toDF("id")
    val small = spark.range(1000).toDF("id")
    val sampleBig = TextAnalysis.hashSample(big, "id", 0.3)
      .collect().map(_.getLong(0)).toSet
    val sampleSmall = TextAnalysis.hashSample(small, "id", 0.3)
      .collect().map(_.getLong(0)).toSet
    // growth stability: the smaller corpus's sample IS the restriction
    // of the bigger one (membership is per-key, corpus-independent)
    assert(sampleSmall == sampleBig.filter(_ < 1000))
    assert(sampleBig.size > 400 && sampleBig.size < 800) // ~30% of 2000
    val split = TextAnalysis.hashSplit(big, "id",
        Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
      .groupBy("split").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(split.values.sum == 2000)
    assert(split("train") > 1500 && split("val") > 100 && split("test") > 100)
  }

  test("length distribution: approx sketch tracks the exact percentiles") {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val ps = Seq(0.25, 0.5, 0.75, 0.9, 0.99)
    def rows(exact: Boolean) =
      TextAnalysis.lengthDistribution(docs, "text", ps, exact = exact)
        .orderBy("p").collect()
        .map(r => (r.getDouble(0), r.getDouble(1), r.getDouble(2)))
    val ex = rows(exact = true); val ap = rows(exact = false)
    assert(ex.map(_._1).toSeq == ps)
    // exact percentiles are monotone in p
    assert(ex.sliding(2).forall(w => w(0)._2 <= w(1)._2 && w(0)._3 <= w(1)._3))
    // the sketch at accuracy 10000 on a few hundred docs must land
    // within a tight relative band of the exact answer
    ex.zip(ap).foreach { case ((p, ec, et), (_, ac, at)) =>
      assert(math.abs(ac - ec) <= math.max(2.0, ec * 0.05), s"chars p=$p")
      assert(math.abs(at - et) <= math.max(2.0, et * 0.05), s"tokens p=$p")
    }
  }

  test("gopher rules: each flag fires on its own pathology") {
    val stops = "the cat has to be one of note and that dogs have fun with"
    val good = (stops + " plain words repeated here ") * 4   // > 20 words
    val df = Seq(
      (1L, good),                                         // passes all
      (2L, "too short but " + stops),                     // n_words < 20
      (3L, good + " aaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaa" * 30), // mean len
      (4L, good + " # # # # # # # # # # # # # # # # # # # #"), // symbols
      (5L, "- a\n- b\n- c\n- d\n- e\n- f\n- g\n- h\n- i\n- j\n" + stops), // bullets
      (6L, "end one...\nend two...\nend three...\n" + good), // ellipsis
      (7L, good + (" 123 456 789 000" * 20)),             // alpha ratio
      (8L, good.replaceAll(
        "\\b(the|be|to|of|and|that|have|with)\\b", "x"))  // stopwords
    ).toDF("doc_id", "text")
    val got = TextAnalysis.gopherQualityFlags(df, "text", minWords = 20)
      .select("doc_id", "gopher_pass").collect()
      .map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    assert(got(1L), s"doc 1 should pass: $got")
    (2L to 8L).foreach(i => assert(!got(i), s"doc $i should fail"))
  }

  test("gopher repetition: hand-computed fractions and pass composite") {
    // doc 1: "x y\nx y\n\nz w" — lines [x y, x y, "", z w] → dup 1/4,
    // dup chars 3/9; paragraphs [x y\nx y, z w] distinct → 0; tokens
    // [x y x y z w] → top 2-gram "x y"×2 covers 6 of 12 text chars
    val doc1 = "x y\nx y\n\nz w"
    // doc 2: 30 distinct tokens — every repetition fraction 0, top
    // n-gram coverage small → passes
    val doc2 = (1 to 30).map("t" + _).mkString(" ")
    val df = Seq((1L, doc1), (2L, doc2)).toDF("doc_id", "text")
    val got = TextAnalysis.gopherRepetitionFlags(df, "doc_id", "text")
      .collect().map(r => r.getAs[Long]("doc_id") -> r).toMap
    val r1 = got(1L)
    assert(r1.getAs[Double]("dup_line_frac") == 0.25)
    assert(r1.getAs[Double]("dup_line_char_frac") == 3.0 / 9.0)
    assert(r1.getAs[Double]("dup_para_frac") == 0.0)
    assert(r1.getAs[Double]("dup_para_char_frac") == 0.0)
    assert(r1.getAs[Double]("top_2gram_char_frac") == 6.0 / 12.0)
    assert(r1.getAs[Double]("dup_5gram_char_frac") == 0.0)
    assert(!r1.getAs[Boolean]("repetition_pass"))
    val r2 = got(2L)
    assert(r2.getAs[Double]("dup_line_frac") == 0.0)
    // max 2-gram chars: "t10 t11"-shaped 7-char grams
    assert(r2.getAs[Double]("top_2gram_char_frac") == 7.0 / doc2.length)
    assert(r2.getAs[Boolean]("repetition_pass"))
  }

  test("contaminationReport: embedded passage scores 1.0; zero-overlap row survives") {
    val docs = Seq(
      (1L, "intro words alpha beta gamma delta closing words"),
      (2L, "a completely different document body here")
    ).toDF("doc_id", "text")
    val bench = Seq(
      (10L, "alpha beta gamma delta"),  // embedded in doc 1 verbatim
      (11L, "zz yy xx ww")              // shares no 2-gram with anything
    ).toDF("doc_id", "text")
    val got = TextAnalysis.contaminationReport(docs, bench, "doc_id", "text",
        n = 2, threshold = 0.5)
      .collect().map(r => r.getLong(0) -> r).toMap
    val hit = got(10L)
    assert(hit.getAs[Double]("max_score") == 1.0)
    assert(hit.getAs[Long]("top_match") == 1L)
    assert(hit.getAs[Long]("n_hits") == 1L && hit.getAs[Long]("n_candidates") == 1L)
    val miss = got(11L)
    assert(miss.getAs[Double]("max_score") == 0.0)
    assert(miss.isNullAt(miss.fieldIndex("top_match")))
    assert(miss.getAs[Long]("n_hits") == 0L && miss.getAs[Long]("n_candidates") == 0L)
  }

  test("auditSplitLeakage: cross-boundary near-copy surfaces, disjoint doc silent") {
    val df = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta", "train"),
      (2L, "one two three four five six seven eight", "train"),
      (3L, "alpha beta gamma delta epsilon zeta eta theta extra", "val"),
      (4L, "pp qq rr ss tt uu vv ww", "test")
    ).toDF("doc_id", "text", "split")
    val got = TextAnalysis.auditSplitLeakage(df, "doc_id", "text", "split",
        n = 3, threshold = 0.5)
      .select("eval_id", "eval_split", "train_id").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    assert(got == Set((3L, "val", 1L)), s"got $got")
  }

  test("unigramLogProb: hand-computed corpus distribution") {
    // counts: a=2, b=2, c=1, T=5; doc1 = [a a b] → mean ln(2/5);
    // doc2 = [b c] → (ln(2/5) + ln(1/5)) / 2
    val df = Seq((1L, "a a b"), (2L, "b  c")).toDF("doc_id", "text")
    val got = TextAnalysis.unigramLogProb(df, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2))))
      .toMap
    assert(got(1L)._1 == 3L && got(2L)._1 == 2L)
    assert(math.abs(got(1L)._2 - math.log(0.4)) < 1e-6)
    assert(math.abs(got(2L)._2 - (math.log(0.4) + math.log(0.2)) / 2) < 1e-6)
  }

  test("bigramLogProb: hand-computed smoothing, order sensitivity, short docs absent") {
    // corpus: doc1 = [a b a b], doc2 = [b a], doc3 = [solo]
    // bigrams: doc1 (a,b)×2 (b,a)×1; doc2 (b,a)×1
    // cb: (a,b)=2 (b,a)=2; cw: a·=2 b·=2; uni: a=3 b=3 solo=1 T=7
    val df = Seq((1L, "a b a b"), (2L, "b a"), (3L, "solo"))
      .toDF("doc_id", "text")
    val got = TextAnalysis.bigramLogProb(df, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2))))
      .toMap
    assert(!got.contains(3L), "a one-token doc has no bigram positions")
    assert(got(1L)._1 == 3L && got(2L)._1 == 1L)
    val p = 0.75 * (2.0 / 2.0) + 0.25 * (3.0 / 7.0) // both bigrams alike
    assert(math.abs(got(1L)._2 - math.log(p)) < 1e-6, s"${got(1L)._2}")
    assert(math.abs(got(2L)._2 - math.log(p)) < 1e-6)
    // order sensitivity: a scrambled doc keeps its unigram score but
    // not its bigram score (the signal unigramLogProb cannot see)
    val pair = Seq((1L, "one two one two one two"),
      (2L, "two two two one one one")).toDF("doc_id", "text")
    val uni = TextAnalysis.unigramLogProb(pair, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(uni(1L) == uni(2L))
    val bi = TextAnalysis.bigramLogProb(pair, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(bi(1L) != bi(2L), s"bigram must separate the orders: $bi")
  }

  test("trigramLogProb: hand-computed backoff, pruning changes only pruned grams") {
    // corpus: doc1 = [a b c a b c], doc2 = [a b c], doc3 = [x y]
    // trigram counts: (a,b,c)=3, (b,c,a)=1, (c,a,b)=1 → pruned keeps
    // only (a,b,c); contexts c12 UNPRUNED: (a,b)=3 (b,c)=1 (c,a)=1
    // bigrams: cb(a,b)=3 cb(b,c)=3 cb(c,a)=1 cb(x,y)=1; cw a=3 b=3 c=1
    // uni: a=b=c=3, x=y=1, T=11
    val df = Seq((1L, "a b c a b c"), (2L, "a b c"), (3L, "x y"))
      .toDF("doc_id", "text")
    val got = TextAnalysis.trigramLogProb(df, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2))))
      .toMap
    assert(!got.contains(3L), "a two-token doc has no trigram positions")
    assert(got(1L)._1 == 4L && got(2L)._1 == 1L)
    val pAbc = 0.75 * (3.0 / 3.0) +
      0.25 * (0.75 * (3.0 / 3.0) + 0.25 * (3.0 / 11.0))
    val pBca = 0.75 * 0.0 + // singleton → pruned → pure backoff
      0.25 * (0.75 * (1.0 / 1.0) + 0.25 * (3.0 / 11.0))
    val pCab = 0.75 * 0.0 +
      0.25 * (0.75 * (3.0 / 3.0) + 0.25 * (3.0 / 11.0))
    assert(math.abs(got(2L)._2 - math.log(pAbc)) < 1e-6, s"${got(2L)._2}")
    val want1 = (2 * math.log(pAbc) + math.log(pBca) + math.log(pCab)) / 4
    assert(math.abs(got(1L)._2 - want1) < 1e-6, s"${got(1L)._2} vs $want1")
    // pruning touches ONLY pruned trigrams: with the floor off, doc2
    // (whose single trigram survives either way) scores identically,
    // doc1 (two singleton trigrams) does not
    val unpruned = TextAnalysis.trigramLogProb(df, "doc_id", "text",
        minTrigramCount = 1)
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(unpruned(2L) == got(2L)._2)
    assert(unpruned(1L) != got(1L)._2,
      "singleton trigrams must back off under the default floor")
    // and the order-sensitivity ladder holds one gram up: a reordered
    // doc with the same token counts scores differently
    val pair = Seq((1L, "p q r p q r p q r"), (2L, "p q r p q p q r r"))
      .toDF("doc_id", "text")
    val tri = TextAnalysis.trigramLogProb(pair, "doc_id", "text",
        minTrigramCount = 1)
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(tri(1L) != tri(2L), s"trigram must separate the orders: $tri")
  }

  test("fitUnigramLm + unigramLmScoreCol: pruning, tie-break, OOV floor, null on empty") {
    // corpus counts: a=3, b=2, z=2, total 7; maxVocab=2 keeps a and —
    // by the (count DESC, token) tie-break — b, NOT z
    val corpus = Seq((1L, "a a a b b z z")).toDF("doc_id", "text")
    val m = TextAnalysis.fitUnigramLm(corpus, "text", maxVocab = 2)
    assert(m.total == 7L)
    assert(m.counts == Map("a" -> 3L, "b" -> 2L))
    // doc [z b]: z is PRUNED (real count 2) → floor term ln(1/7);
    // b in-vocab → ln(2/7); fold token-sorted (b first), mean, round
    val docs = Seq((1L, "z b"), (2L, "   "), (3L, "a a")).toDF("doc_id", "text")
    val got = docs.select($"doc_id",
        TextAnalysis.unigramLmScoreCol($"text", m).as("s"))
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) None else Some(r.getDouble(1)))).toMap
    val zb = BigDecimal(((0.0 + math.log(2.0 / 7)) + math.log(1.0 / 7)) / 2)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(got(1L).contains(zb), s"${got(1L)} vs $zb")
    assert(got(2L).isEmpty, "token-less doc must score null")
    assert(got(3L).contains(BigDecimal(math.log(3.0 / 7))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble))
    // full-vocab model ≈ the self-fit unigramLogProb (same per-token
    // probabilities; summation GROUPING differs — tf·ln p vs repeated
    // addition — so parity is to 1e-9, not bitwise)
    val many = (1L to 40L).map(i =>
      (i, s"alpha beta gamma w${i % 7} w${i % 3}")).toDF("doc_id", "text")
    val full = TextAnalysis.fitUnigramLm(many, "text", maxVocab = 1000)
    val viaCol = many.select($"doc_id",
        TextAnalysis.unigramLmScoreCol($"text", full).as("s"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val viaBatch = TextAnalysis.unigramLogProb(many, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(viaBatch.forall { case (k, v) =>
      math.abs(viaCol(k) - v) < 1e-9 }, "full-vocab projection must match")
  }

  test("scoreThresholds/applyScoreBuckets: fit-once apply-elsewhere equals scoreBuckets") {
    val cal = (1L to 90L).map(i =>
      (i, if (i % 2 == 0) "en" else "pt", i.toDouble)).toDF("doc_id", "lang", "score")
    val th = TextAnalysis.scoreThresholds(cal, "score", Seq("lang"))
    val viaSplit = TextAnalysis.applyScoreBuckets(cal, "score", Seq("lang"), th)
      .select($"doc_id", $"bucket").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val viaOne = TextAnalysis.scoreBuckets(cal, "score", Seq("lang"))
      .select($"doc_id", $"bucket").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(viaSplit == viaOne && viaSplit.nonEmpty)
    // frozen thresholds label a DIFFERENT frame (the streaming shape):
    // a score above the calibration range lands in head, below in tail
    val fresh = Seq((1000L, "en", 1e9), (1001L, "en", -1e9))
      .toDF("doc_id", "lang", "score")
    val labeled = TextAnalysis.applyScoreBuckets(fresh, "score",
        Seq("lang"), th)
      .select($"doc_id", $"bucket").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(labeled(1000L) == "head" && labeled(1001L) == "tail")
    // a key group ABSENT from calibration (a language the fit corpus
    // never saw) is KEPT with a null bucket — the advisor's r11
    // finding: an inner join would silently drop the row from a
    // streaming ingestion tier
    val unseen = Seq((2000L, "de", 5.0), (2001L, "en", 5.0))
      .toDF("doc_id", "lang", "score")
    val u = TextAnalysis.applyScoreBuckets(unseen, "score", Seq("lang"), th)
      .select($"doc_id", $"bucket").collect()
      .map(r => r.getLong(0) -> Option(r.getString(1))).toMap
    assert(u.size == 2, "uncalibrated group must not be dropped")
    assert(u(2000L).isEmpty, "uncalibrated group gets a null bucket")
    assert(u(2001L).contains("tail"), "calibrated rows label as before")
  }

  test("fitTrigramLm + trigramLmScore: self-scoring parity, OOV floors, short docs absent") {
    val docs = (1L to 30L).map(i =>
      (i, s"the solar boat logged w${i % 5} telemetry rows w${i % 3} today"))
      .toDF("doc_id", "text")
    val model = TextAnalysis.fitTrigramLm(docs, "text")
    // self-scoring the fit corpus ≈ the one-plan trigramLogProb: the
    // same smoothing arithmetic, but the fold GROUPS differently
    // (per-position repeated addition vs tf·term), so parity is 1e-9
    val viaModel = TextAnalysis.trigramLmScore(docs, "doc_id", "text", model)
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    val viaSelf = TextAnalysis.trigramLogProb(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(viaModel.keySet == viaSelf.keySet && viaModel.nonEmpty)
    assert(viaSelf.forall { case (k, v) =>
      math.abs(viaModel(k) - v) < 1e-9 },
      "fitted-model self-scoring must match the self-fit scorer")
    // OOV floors, hand-computed: a fully-unseen doc's single trigram
    // position backs off to ln(0.25 · 0.25 · 1/T)
    val oov = Seq((99L, "qqq www zzz")).toDF("doc_id", "text")
    val got = TextAnalysis.trigramLmScore(oov, "doc_id", "text", model)
      .collect()(0)
    val want = BigDecimal(math.log(0.25 * 0.25 * (1.0 / model.total)))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(got.getLong(1) == 1L && got.getDouble(2) == want,
      s"OOV floor: got ${got.getDouble(2)}, want $want")
    // < 3 tokens → no trigram positions → absent
    val short = Seq((100L, "two tokens")).toDF("doc_id", "text")
    assert(TextAnalysis.trigramLmScore(short, "doc_id", "text", model)
      .count() == 0L)
    // durable round-trip: the reopened model scores IDENTICALLY (fit
    // once, serve from tables — the scorer's production shape), and a
    // torn same-prefix rebuild refuses via the epoch tokens
    TextAnalysis.writeTrigramLm(model, "tlm_rt")
    val disk = TextAnalysis.readTrigramLm(spark, "tlm_rt")
    assert(disk.total == model.total &&
      disk.minTrigramCount == model.minTrigramCount)
    val viaDisk = TextAnalysis.trigramLmScore(docs, "doc_id", "text", disk)
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(viaDisk == viaModel,
      "reopened model must score bit-identically to the fitted one")
    graft.sources.Generations.clearEpochTokens(spark, "tlm_rt_c3")
    assert(intercept[IllegalArgumentException] {
      TextAnalysis.readTrigramLm(spark, "tlm_rt")
    }.getMessage.contains("epoch token"))
  }

  test("maintainTrigramLm: drifted sample fires the refit through one call, quiet no-op untouched") {
    val fitDocs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again"),
      (2L, "the quick brown fox sits under the tall tree now"),
      (3L, "a slow green turtle walks past the brown fox"))
      .toDF("doc_id", "text")
    TextAnalysis.writeTrigramLmRooted(spark, "tlm_mw",
      TextAnalysis.fitTrigramLm(fitDocs, "text"))
    // rooted read serves through the pointer; generation tables exist
    assert(TextAnalysis.readTrigramLm(spark, "tlm_mw").total > 0)
    val drifted = Seq(
      (10L, "zq1 zq2 zq3 zq4 zq5 zq6 zq7 the fox"),
      (11L, "zq8 zq9 zq10 zq11 zq12 zq13 zq14 zq15 zq16"))
      .toDF("doc_id", "text")
    val corpus = fitDocs.unionByName(drifted)
    def window(): org.apache.spark.sql.Row =
      TextAnalysis.maintainTrigramLm(spark, "tlm_mw", drifted, "text",
        corpus, maxOovRate = 0.2).collect()(0)
    val heal = window()
    assert(heal.getLong(0) == 18L && heal.getLong(1) == 16L &&
      heal.getBoolean(2) && heal.getLong(3) == 0L &&
      heal.getBoolean(4),
      s"drifted sample must fire and recover through one call: $heal")
    // the A/B flip happened: generation b serves, a dropped
    assert(spark.table("tlm_mw_meta").collect()(0)
      .getAs[String]("gen") == "b")
    assert(!spark.catalog.tableExists("tlm_mw_a_c3"),
      "the superseded generation must drop after the flip")
    val metaBefore = spark.table("tlm_mw_meta").collect().toSeq
    val noop = window()
    assert(noop.getLong(1) == 0L && !noop.getBoolean(2) &&
      !noop.getBoolean(4), s"undrifted sample must be a no-op: $noop")
    assert(spark.table("tlm_mw_meta").collect().toSeq == metaBefore,
      "a quiet window must not touch the commit record")
    // torn generation refuses at the rooted read
    graft.sources.Generations.clearEpochTokens(spark, "tlm_mw_b_c3")
    assert(intercept[IllegalArgumentException] {
      TextAnalysis.readTrigramLm(spark, "tlm_mw")
    }.getMessage.contains("epoch token"))
  }

  test("incremental corpus stats: batched fold = one-pass truth; redelivery idempotent; HLL within 5%") {
    import org.apache.spark.sql.functions._
    val docs = (1L to 300L).map { i =>
      val txt =
        if (i % 50 == 0) "" // planted empties
        else if (i % 7 == 0) s"dup text block shared ${i % 14}" // planted dups
        else s"doc $i has ${"tok " * (i % 9).toInt}end"
      (i, txt, if (i % 3 == 0) "en" else if (i % 3 == 1) "pt"
        else null.asInstanceOf[String])
    }.toDF("doc_id", "text", "lang")
    val dir = java.nio.file.Files.createTempDirectory("inc_stats").toString
    val path = s"$dir/stats"
    TextAnalysis.appendCorpusStats(spark, path,
      docs.filter($"doc_id" <= 150), "text", Some("lang"), "b1")
    TextAnalysis.appendCorpusStats(spark, path,
      docs.filter($"doc_id" > 150), "text", Some("lang"), "b2")
    def sheet(): Map[String, Double] =
      TextAnalysis.corpusDatasheetFromStats(spark, path).collect()
        .map(r => r.getString(0) -> r.getLong(1).toDouble).toMap
    val once = sheet()
    // the direct one-pass truth
    val truth = docs.agg(count(lit(1)),
        sum(size(split(trim($"text"), "\\s+"))),
        sum(($"text" === "").cast("long")),
        sum(length($"text")),
        countDistinct(lower(trim($"text")))).collect()(0)
    assert(once("n_docs") == truth.getLong(0).toDouble)
    assert(once("n_tokens_total") == truth.getLong(1).toDouble)
    assert(once("n_empty_docs") == truth.getLong(2).toDouble)
    assert(once("n_chars") == truth.getLong(3).toDouble)
    assert(once("lang_docs:en") == 100.0 && once("lang_docs:pt") == 100.0 &&
      once("lang_docs:null") == 100.0)
    // HLL estimate within 5% of the exact distinct count
    val exact = truth.getLong(4).toDouble
    assert(math.abs(once("distinct_texts_est") - exact) <= 0.05 * exact,
      s"HLL ${once("distinct_texts_est")} vs exact $exact")
    // crash-redelivery of batch b2: the dynamic overwrite must leave
    // every metric unchanged (an append sink would double-count)
    TextAnalysis.appendCorpusStats(spark, path,
      docs.filter($"doc_id" > 150), "text", Some("lang"), "b2")
    assert(sheet() == once,
      "a redelivered ingest must not move the stats")
  }

  test("applyScoreBucketsLit ≡ applyScoreBuckets (null keys, unseen group, ties)") {
    val cal = (1L to 90L).map(i =>
      (i, if (i % 7 == 0) null else if (i % 2 == 0) "en" else "pt",
        i.toDouble)).toDF("doc_id", "lang", "score")
    val th = TextAnalysis.scoreThresholds(cal, "score", Seq("lang"))
    val fresh = Seq((1000L, "en", 30.0), (1001L, "pt", 89.0),
        (1002L, null.asInstanceOf[String], 50.0), (1003L, "de", 50.0))
      .toDF("doc_id", "lang", "score")
      .unionByName(Seq((1004L, "en")).toDF("doc_id", "lang")
        .withColumn("score", lit(null).cast("double")))
    def labels(df: org.apache.spark.sql.DataFrame) = df
      .select($"doc_id", $"bucket").collect()
      .map(r => r.getLong(0) -> Option(r.getString(1))).toMap
    val viaJoin = labels(TextAnalysis.applyScoreBuckets(fresh, "score",
      Seq("lang"), th))
    val viaLit = labels(TextAnalysis.applyScoreBucketsLit(fresh, "score",
      Seq("lang"), th))
    assert(viaLit == viaJoin && viaLit.size == 5,
      s"literal labeling must equal the broadcast join: $viaLit vs $viaJoin")
    assert(viaLit(1003L).isEmpty, "uncalibrated group → null bucket")
    assert(viaLit(1004L).isEmpty, "null score → null bucket")
    assert(viaLit(1002L).nonEmpty, "null-lang stratum labels against itself")
  }

  test("trigramCounts: singleton pruning keeps the table sublinear in distinct grams") {
    // Zipf-tail stand-in: 50 docs each contributing a unique
    // singleton trigram, 10 docs sharing one phrase — the DISTINCT
    // trigram set is 51 rows, the pruned count table is ONE
    val docs = ((1L to 50L).map(i => (i, s"u$i v$i w$i")) ++
      (51L to 60L).map(i => (i, "common shared phrase")))
      .toDF("doc_id", "text")
    val pruned = TextAnalysis.trigramCounts(docs, "doc_id", "text")
    val all = TextAnalysis.trigramCounts(docs, "doc_id", "text",
      minCount = 1)
    assert(all.count() == 51L)
    val rows = pruned.collect()
    assert(rows.length == 1 &&
      rows(0).getString(0) == "common" && rows(0).getLong(3) == 10L)
  }

  test("edge cases: empty/whitespace docs through the new analyzers") {
    val df = Seq((1L, ""), (2L, "   "), (3L, "real content words here"))
      .toDF("doc_id", "text")
    // repetition flags: no units beyond the single empty line, no
    // grams → all fractions 0, composite passes, nothing crashes
    val rep = TextAnalysis.gopherRepetitionFlags(df, "doc_id", "text")
      .collect().map(r => r.getAs[Long]("doc_id") -> r).toMap
    Seq(1L, 2L).foreach { i =>
      assert(rep(i).getAs[Double]("dup_line_frac") == 0.0)
      assert(rep(i).getAs[Double]("dup_5gram_char_frac") == 0.0)
      assert(rep(i).getAs[Boolean]("repetition_pass"))
    }
    // unigram scores: token-less docs are documented-absent
    val lp = TextAnalysis.unigramLogProb(df, "doc_id", "text")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(lp == Set(3L))
    // paragraph dedup: an empty doc's single empty paragraph is a unit
    // like any other — first empty doc keeps it, second loses it
    val pd = graft.operators.Curation.dropDuplicateParagraphs(df, "doc_id", "text")
      .select("doc_id", "n_kept_paras").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(pd(1L) == 1 && pd(3L) == 1)
  }

  test("topTokens: frequency-ranked with deterministic tie-break") {
    val df = Seq("b b b a a c", "a c  d", "").toDF("text")
    val top = TextAnalysis.topTokens(df, "text", 3).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
    // a:3, b:3 tie → 'a' first; empty strings never counted
    assert(top == Seq(("a", 3L), ("b", 3L), ("c", 2L)))
  }

  test("decontaminate: blocklisted fingerprints drop, whitespace variants too") {
    import graft.operators.TextAnalysis.{decontaminate, rollingFingerprint}
    val docs = Seq(
      (1L, "the quick brown fox"),
      (2L, "the  quick   brown fox"), // whitespace variant → same fingerprint
      (3L, "completely unrelated text")
    ).toDF("doc_id", "text")
      .select($"doc_id", rollingFingerprint($"text").as("fingerprint"))
    val block = Seq("the quick brown fox").toDF("text")
      .select(rollingFingerprint($"text").as("fingerprint"))
    val kept = decontaminate(docs, block, "fingerprint")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(3L)) // 1 exact, 2 by normalization
    val plan = decontaminate(docs, block, "fingerprint")
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") && plan.contains("LeftAnti"),
      s"expected broadcast anti join:\n${plan.take(1000)}")
  }

  test("corpusDatasheet: hand-computed metrics on a micro corpus") {
    val docs = Seq(
      (1L, "a b c", "en"), (2L, "a b c", "en"),      // exact dup pair
      (3L, "d e", "de"), (4L, "", "en"))             // and one empty
      .toDF("doc_id", "text", "lang")
    val got = TextAnalysis.corpusDatasheet(docs, "doc_id", "text",
        langCol = Some("lang"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(got("n_docs") == 4.0)
    assert(got("n_tokens_total") == 9.0)   // 3 + 3 + 2 + 1 ('' is one token)
    assert(got("exact_dup_frac") == 0.25)  // 3 distinct texts of 4
    assert(got("empty_frac") == 0.25)
    assert(got("tokens_mean") == 2.25)
    assert(got("tokens_p50") == 2.5)       // interpolated between 2 and 3
    assert(got("lang_frac:en") == 0.75 && got("lang_frac:de") == 0.25)
  }

  test("corpusDatasheet sketch tier tracks the exact tier within tolerance") {
    // the 100 TB path (approx_percentile median + HLL distinct over
    // the text hash) on a corpus big enough for the sketches to work:
    // 600 docs, every 3rd a shared duplicate text (dup_frac = 2/6),
    // every 50th empty. Counts/sums/means are sketch-independent and
    // must be EQUAL; p50 within the rank-error neighborhood, dup_frac
    // within HLL's ~2% rsd margin.
    val docs = (1L to 600L).map { i =>
      val text =
        if (i % 50 == 0) ""
        else if (i % 3 == 0) "the shared duplicate corpus text"
        else s"unique document $i " + ("tok " * (i % 40).toInt).trim
      (i, text)
    }.toDF("doc_id", "text")
    def sheet(e: Boolean) = TextAnalysis.corpusDatasheet(docs, "doc_id",
        "text", exact = e)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    val (ex, ap) = (sheet(true), sheet(false))
    for (m <- Seq("n_docs", "n_tokens_total", "tokens_mean", "empty_frac"))
      assert(ex(m) == ap(m), s"$m must be sketch-independent: $ex vs $ap")
    assert(math.abs(ex("tokens_p50") - ap("tokens_p50")) <=
      math.max(2.0, 0.05 * ex("tokens_p50")),
      s"p50 ${ap("tokens_p50")} vs exact ${ex("tokens_p50")}")
    assert(math.abs(ex("exact_dup_frac") - ap("exact_dup_frac")) < 0.05,
      s"dup_frac ${ap("exact_dup_frac")} vs exact ${ex("exact_dup_frac")}")
  }

  test("scoreBuckets: per-key thirds, ties down, null score -> null bucket") {
    // key "a": scores 1..9 → q(1/3) = 11/3 ≈ 3.67, q(2/3) = 19/3 ≈ 6.33:
    // 1-3 tail, 4-6 middle, 7-9 head. key "b": single row → both
    // thresholds equal its score → ties-down puts it in tail.
    val df = ((1 to 9).map(i => (i.toLong, "a", Some(i.toDouble))) ++
      Seq((10L, "b", Some(5.0)), (11L, "a", Option.empty[Double])))
      .toDF("id", "k", "score")
    val got = TextAnalysis.scoreBuckets(df, "score", Seq("k"))
      .collect().map(r => r.getAs[Long]("id") ->
        Option(r.getAs[String]("bucket"))).toMap
    for (i <- 1 to 3) assert(got(i.toLong).contains("tail"), s"$i: ${got(i.toLong)}")
    for (i <- 4 to 6) assert(got(i.toLong).contains("middle"))
    for (i <- 7 to 9) assert(got(i.toLong).contains("head"))
    assert(got(10L).contains("tail"), "singleton group: ties go down")
    assert(got(11L).isEmpty, "null score must bucket to null")
    // approx tier agrees on a corpus where the sketch is exact-enough
    val big = (1L to 300L).map(i => (i, "a", Some(i.toDouble)))
      .toDF("id", "k", "score")
    def buckets(e: Boolean) = TextAnalysis.scoreBuckets(big, "score",
        Seq("k"), exact = e)
      .collect().map(r => r.getAs[Long]("id") ->
        r.getAs[String]("bucket")).toMap
    val (ex, ap) = (buckets(true), buckets(false))
    val agree = ex.keys.count(k => ex(k) == ap(k))
    assert(agree >= 294, s"approx tier must agree within rank error: $agree/300")
  }

  test("winnowContainment: planted quote screens hot, clean doc screens zero") {
    val quote = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val train = Seq(
      (1L, s"some long unrelated training prose here $quote more filler"),
      (2L, "entirely different content with no overlap at all whatsoever"))
      .toDF("doc_id", "text")
    val bench = Seq((100L, quote)).toDF("doc_id", "text")
    // k=4, w=4 → the 10-word quote is ≥ w+k−1 = 7: guaranteed ≥ 1 hit
    val got = TextAnalysis.winnowContainment(train, bench,
        "doc_id", "text", k = 4, w = 4)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2))))
      .toMap
    assert(got(1L)._2 >= 1, s"quoted doc must hit: $got")
    assert(got(2L)._2 == 0, s"clean doc must not hit: $got")
    assert(got.forall { case (_, (nfp, hits)) => hits <= nfp })
  }

  private val WQuoteA =
    "alpha beta gamma delta epsilon zeta eta theta iota kappa"
  private val WQuoteB =
    "nu xi omicron pi rho sigma tau upsilon phi chi"
  private def winnowTrain = Seq(
    (1L, s"unrelated training prose here $WQuoteA more filler text"),
    (2L, s"other words entirely then $WQuoteB trailing content"),
    (3L, "entirely different content with no overlap at all whatsoever"))
    .toDF("doc_id", "text")

  test("winnow index: durable face ≡ two-sided screen, append ≡ rebuild, takedown flips, purge window, torn refusal") {
    val benchA = Seq((100L, WQuoteA)).toDF("doc_id", "text")
    val benchB = Seq((200L, WQuoteB)).toDF("doc_id", "text")
    val train = winnowTrain
    def shots(df: org.apache.spark.sql.DataFrame)
        : Map[Long, (Long, Long)] =
      df.select("doc_id", "n_fp", "n_hits").collect()
        .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    graft.sources.Generations.clearLedger(spark, "widx_spec_tombstones")
    TextAnalysis.writeWinnowIndexRooted(spark, "widx_spec", benchA,
      "doc_id", "text", k = 4, w = 4, numBuckets = 4)
    val face = TextAnalysis.readWinnowIndexRootedLive(spark, "widx_spec")
    assert(face.k == 4 && face.w == 4 && face.hashName == "native",
      "probe geometry must ride the index meta")
    // the durable face makes the two-sided screen's exact decisions
    val gotA = shots(TextAnalysis.containmentVsWinnowIndex(face, train,
      "doc_id", "text"))
    assert(gotA == shots(TextAnalysis.winnowContainment(train, benchA,
      "doc_id", "text", k = 4, w = 4)), s"face ≠ two-sided: $gotA")
    assert(gotA(1L)._2 >= 1 && gotA(2L)._2 == 0 && gotA(3L)._2 == 0)
    // O(new) append of suite B screens like a rebuild from the union
    TextAnalysis.appendToWinnowIndexRooted(spark, "widx_spec", benchB,
      "doc_id", "text")
    val face2 = TextAnalysis.readWinnowIndexRootedLive(spark, "widx_spec")
    val gotAB = shots(TextAnalysis.containmentVsWinnowIndex(face2, train,
      "doc_id", "text"))
    assert(gotAB == shots(TextAnalysis.winnowContainment(train,
      benchA.union(benchB), "doc_id", "text", k = 4, w = 4)))
    assert(gotAB(2L)._2 >= 1, "the appended suite must screen")
    TextAnalysis.writeWinnowIndexRooted(spark, "widx_spec_rb",
      benchA.union(benchB), "doc_id", "text", k = 4, w = 4,
      numBuckets = 4)
    val rebuilt = TextAnalysis.readWinnowIndexRooted(spark, "widx_spec_rb")
    assert(face2.rows.collect().map(r => (r.getLong(0), r.getLong(1)))
        .toSet ==
      rebuilt.rows.collect().map(r => (r.getLong(0), r.getLong(1))).toSet,
      "append must land the exact rows a rebuild from the union lands")
    // retiring suite A stops its fingerprints from screening
    TextAnalysis.tombstoneWinnowIndex(spark, "widx_spec",
      Seq(100L).toDF("bench_id"))
    val face3 = TextAnalysis.readWinnowIndexRootedLive(spark, "widx_spec")
    val gotB = shots(TextAnalysis.containmentVsWinnowIndex(face3, train,
      "doc_id", "text"))
    assert(gotB(1L)._2 == 0,
      s"retired suite must stop screening doc 1: $gotB")
    assert(gotB(2L) == gotAB(2L) && gotB(3L) == gotAB(3L))
    // purge window: fires on debt, flips the generation, clears the
    // ledger; decisions unchanged from the live view
    val purge = TextAnalysis.purgeWinnowIndex(spark, "widx_spec",
      numBuckets = 4).collect()(0)
    assert(purge.getLong(0) == 1L && purge.getBoolean(1) &&
      purge.getLong(2) == 0L && purge.getBoolean(3), s"$purge")
    assert(spark.table("widx_spec_meta").collect()(0)
      .getAs[String]("gen") == "b")
    assert(!spark.catalog.tableExists("widx_spec_fps_a"),
      "the superseded generation must drop after the purge flip")
    val face4 = TextAnalysis.readWinnowIndexRootedLive(spark, "widx_spec")
    assert(shots(TextAnalysis.containmentVsWinnowIndex(face4, train,
      "doc_id", "text")) == gotB,
      "physical purge must not move any decision")
    // quiet window: no debt → the commit record untouched bit-for-bit
    val metaBefore = spark.table("widx_spec_meta").collect().toSeq
    val quiet = TextAnalysis.purgeWinnowIndex(spark, "widx_spec",
      numBuckets = 4).collect()(0)
    assert(!quiet.getBoolean(1) && !quiet.getBoolean(3))
    assert(spark.table("widx_spec_meta").collect().toSeq == metaBefore)
    // torn generation (the crash the epoch-poison-first append leaves
    // behind) refuses at the rooted read
    graft.sources.Generations.clearEpochTokens(spark, "widx_spec_fps_b")
    assert(intercept[IllegalArgumentException] {
      TextAnalysis.readWinnowIndexRooted(spark, "widx_spec")
    }.getMessage.contains("epoch token"))
  }

  test("applyDecontamBatch: admission ≡ face containment at the threshold; null/degenerate edges; crash redelivery idempotent") {
    // a degenerate suite entry (whitespace text) must contribute NO
    // fingerprint — persisting hash("") would brand every empty
    // arrival as benchmark-contaminated
    val benchA = Seq((100L, WQuoteA), (101L, "   "))
      .toDF("doc_id", "text")
    val train = winnowTrain.unionByName(Seq(
      (4L, null.asInstanceOf[String]), (5L, ""))
      .toDF("doc_id", "text"))
    graft.sources.Generations.clearLedger(spark, "widx_batch_tombstones")
    TextAnalysis.writeWinnowIndexRooted(spark, "widx_batch", benchA,
      "doc_id", "text", k = 4, w = 4, numBuckets = 4)
    val dir = java.nio.file.Files
      .createTempDirectory("decontam_batch").toString
    def rows(): Seq[(Long, Long, Long, Boolean, Long)] =
      spark.read.parquet(dir)
        .select(col("doc_id"), col("n_fp"), col("n_hits"),
          col("admitted"),
          // partition-column type inference reads small batch ids as int
          col("batch_id").cast("long"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getBoolean(3), r.getLong(4))).toSeq.sorted
    graft.streaming.StreamingParse.applyDecontamBatch(spark, train, 7L,
      "widx_batch", "doc_id", "text", maxContainment = 0.0, dir)
    val first = rows()
    val byId = first.map(t => t._1 -> t).toMap
    // null text admits with zero counts and STAYS PRESENT in the
    // exactly-once output (membership unprovable, the q94 discipline)
    assert(byId(4L) == ((4L, 0L, 0L, true, 7L)), s"${byId(4L)}")
    // an empty arrival admits: the degenerate suite entry was never
    // fingerprinted, so hash("") is not in the index
    assert(byId(5L)._4, s"empty arrival must admit: ${byId(5L)}")
    val face = TextAnalysis.readWinnowIndexRootedLive(spark, "widx_batch")
    val expect = TextAnalysis.containmentVsWinnowIndex(face,
        train.filter(col("text").isNotNull), "doc_id", "text").collect()
      .map(r => r.getLong(0) -> (r.getLong(2) == 0L)).toMap
    assert(first.filterNot(_._1 == 4L).map(t => t._1 -> t._4).toMap
        == expect,
      "admission must be the face containment at the threshold")
    assert(first.forall(_._5 == 7L))
    // crash redelivery of the SAME batch id rewrites its own
    // partition byte-for-byte — never duplicates
    graft.streaming.StreamingParse.applyDecontamBatch(spark, train, 7L,
      "widx_batch", "doc_id", "text", maxContainment = 0.0, dir)
    assert(rows() == first, "redelivery must be idempotent")
  }

  test("multimodal: real PNG decode round-trips pixels exactly; garbage yields null rows") {
    import graft.operators.Multimodal
    // deterministic pixel ramp → PNG (lossless) → decodeImages must
    // reproduce every byte; per-channel sums close the feature loop
    def png(id: Long): (Int, Int, Array[Byte], Array[Byte]) = {
      val w = (8 + id % 5).toInt; val h = (6 + id % 4).toInt
      val img = new java.awt.image.BufferedImage(w, h,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      val raw = new Array[Byte](w * h * 3)
      for (y <- 0 until h; x <- 0 until w) {
        def ch(c: Int) = ((id * 31 + c * 7 + y * w + x) % 256).toInt
        img.setRGB(x, y, (ch(0) << 16) | (ch(1) << 8) | ch(2))
        for (c <- 0 until 3) raw((y * w + x) * 3 + c) = ch(c).toByte
      }
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", bos)
      (w, h, raw, bos.toByteArray)
    }
    val fixtures = (1L to 6L).map(i => i -> png(i)).toMap
    val rows = fixtures.toSeq.map { case (i, (_, _, _, b)) => (i, b) } ++
      Seq((91L, fixtures(1L)._4.take(16)),
        (92L, "not an image at all".getBytes("UTF-8")),
        (93L, Array.empty[Byte]))
    val df = rows.toDF("media_id", "payload")
    val out = Multimodal.channelSums(
        Multimodal.decodeImages(df, "payload"), "pixels")
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(out.size == 9, "every row survives, decodable or not")
    fixtures.foreach { case (i, (w, h, raw, _)) =>
      val r = out(i)
      assert(r.getInt(2) == w && r.getInt(3) == h && r.getInt(4) == 3,
        s"dims for $i")
      assert(java.util.Arrays.equals(r.getAs[Array[Byte]](5), raw),
        s"PNG decode must be byte-exact for $i")
      val sums = r.getSeq[Long](6)
      val want = (0 until 3).map(c =>
        raw.indices.filter(_ % 3 == c).map(raw(_) & 0xFF).map(_.toLong).sum)
      assert(sums == want, s"channel sums for $i")
    }
    Seq(91L, 92L, 93L).foreach { i =>
      val r = out(i)
      assert(r.isNullAt(2) && r.isNullAt(5) && r.isNullAt(6),
        s"corrupt payload $i must yield a null row, not a task failure")
    }
  }

  test("multimodal: real WAV/AIFF decode round-trips PCM exactly; bad payloads yield null rows") {
    import graft.operators.Multimodal
    // deterministic sample ramp → 16-bit PCM container (lossless) →
    // decodeWav must reproduce every sample; signed per-channel sums
    // close the feature loop. AIFF is the big-endian control: the
    // decoder must byte-swap so `pcm` has ONE layout per corpus.
    def pcm(id: Long, channels: Int, frames: Int): Array[Byte] = {
      val out = new Array[Byte](frames * channels * 2)
      for (i <- 0 until frames; ch <- 0 until channels) {
        val v = ((id * 37 + ch * 11 + i * 13) % 4096 - 2048).toInt
        out((i * channels + ch) * 2) = (v & 0xFF).toByte
        out((i * channels + ch) * 2 + 1) = ((v >> 8) & 0xFF).toByte
      }
      out
    }
    def container(id: Long, channels: Int, frames: Int, rate: Int,
                  tpe: javax.sound.sampled.AudioFileFormat.Type,
                  bigEndian: Boolean): Array[Byte] = {
      val raw = pcm(id, channels, frames)
      val bytes = if (!bigEndian) raw else {
        val be = raw.clone()
        var i = 0
        while (i + 1 < be.length) {
          val t = be(i); be(i) = be(i + 1); be(i + 1) = t; i += 2
        }
        be
      }
      val fmt = new javax.sound.sampled.AudioFormat(
        rate.toFloat, 16, channels, true, bigEndian)
      val ais = new javax.sound.sampled.AudioInputStream(
        new java.io.ByteArrayInputStream(bytes), fmt, frames.toLong)
      val bos = new java.io.ByteArrayOutputStream()
      javax.sound.sampled.AudioSystem.write(ais, tpe, bos)
      bos.toByteArray
    }
    val WAVE = javax.sound.sampled.AudioFileFormat.Type.WAVE
    val AIFF = javax.sound.sampled.AudioFileFormat.Type.AIFF
    val wavMono = container(1L, 1, 40, 8000, WAVE, bigEndian = false)
    val wavStereo = container(2L, 2, 30, 16000, WAVE, bigEndian = false)
    val aiffStereo = container(3L, 2, 25, 12000, AIFF, bigEndian = true)
    // 8-bit PCM: a real audio stream the 16-bit contract must REJECT
    val fmt8 = new javax.sound.sampled.AudioFormat(8000f, 8, 1, true, false)
    val bos8 = new java.io.ByteArrayOutputStream()
    javax.sound.sampled.AudioSystem.write(
      new javax.sound.sampled.AudioInputStream(
        new java.io.ByteArrayInputStream(Array.fill(50)(7.toByte)), fmt8, 50L),
      WAVE, bos8)
    val rows = Seq(
      (1L, wavMono), (2L, wavStereo), (3L, aiffStereo),
      (91L, wavMono.take(wavMono.length - 3)), // header outruns payload
      (92L, bos8.toByteArray),                 // decodes, wrong bit depth
      (93L, "not audio".getBytes("UTF-8")),
      (94L, Array.empty[Byte]))
    val out = Multimodal.pcmChannelSums(
        Multimodal.decodeWav(rows.toDF("media_id", "payload"), "payload"),
        "pcm", "au_channels")
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(out.size == 7, "every row survives, decodable or not")
    Seq((1L, 1, 40, 8000), (2L, 2, 30, 16000), (3L, 2, 25, 12000))
      .foreach { case (id, ch, fr, rate) =>
        val r = out(id)
        assert(r.getInt(2) == rate && r.getInt(3) == ch && r.getInt(4) == fr,
          s"stream params for $id")
        assert(java.util.Arrays.equals(r.getAs[Array[Byte]](5),
          pcm(id, ch, fr)),
          s"decode must be sample-exact LE for $id (incl. the AIFF swap)")
        val want = (0 until ch).map(c => (0 until fr)
          .map(i => (id * 37 + c * 11 + i * 13) % 4096 - 2048).sum)
        assert(r.getSeq[Long](6) == want, s"signed channel sums for $id")
      }
    Seq(91L, 92L, 93L, 94L).foreach { i =>
      val r = out(i)
      assert(r.isNullAt(2) && r.isNullAt(5) && r.isNullAt(6),
        s"bad payload $i must yield a null row, not a task failure")
    }
  }

  test("multimodal: animated-GIF frame decode is byte-exact; torn containers yield one null row") {
    import graft.operators.Multimodal
    // explicit 256-gray palette → the GIF codec is lossless, so every
    // frame's decoded bytes must reproduce the ramp exactly
    val cmap = (0 until 256)
      .map(v => (0xFF << 24) | (v << 16) | (v << 8) | v).toArray
    val icm = new java.awt.image.IndexColorModel(8, 256, cmap, 0,
      false, -1, java.awt.image.DataBuffer.TYPE_BYTE)
    def ramp(id: Long, f: Int, w: Int, h: Int): Array[Byte] = {
      val out = new Array[Byte](w * h * 3)
      for (y <- 0 until h; x <- 0 until w; c <- 0 until 3)
        out((y * w + x) * 3 + c) =
          ((id * 31 + f * 17 + y * w + x) % 256).toByte
      out
    }
    def gif(id: Long, w: Int, h: Int, nf: Int): Array[Byte] = {
      val bos = new java.io.ByteArrayOutputStream()
      val ios = javax.imageio.ImageIO.createImageOutputStream(bos)
      val writer = javax.imageio.ImageIO
        .getImageWritersByFormatName("gif").next()
      writer.setOutput(ios)
      writer.prepareWriteSequence(null)
      for (f <- 0 until nf) {
        val img = new java.awt.image.BufferedImage(w, h,
          java.awt.image.BufferedImage.TYPE_BYTE_INDEXED, icm)
        for (y <- 0 until h; x <- 0 until w)
          img.getRaster.setSample(x, y, 0,
            ((id * 31 + f * 17 + y * w + x) % 256).toInt)
        writer.writeToSequence(
          new javax.imageio.IIOImage(img, null, null), null)
      }
      writer.endWriteSequence(); writer.dispose(); ios.close()
      bos.toByteArray
    }
    val g1 = gif(1L, 7, 6, 3)
    // h >= 5: the JDK's own GIF writer/reader pair permutes rows of
    // interlaced images shorter than the first interlace stride
    // (measured: 5x4 and 8x4 round-trip wrong, every h >= 5 exact) —
    // a WRITER-side fixture constraint, not a decode-path branch
    val g2 = gif(2L, 5, 5, 1)
    val rows = Seq((1L, g1), (2L, g2),
      (91L, g1.take(g1.length * 3 / 5)), // dies mid-frame
      (92L, g1.dropRight(2)),            // clean cut, trailer missing
      (93L, "not a video".getBytes("UTF-8")),
      (94L, Array.empty[Byte]))
    val out = Multimodal.decodeFrames(
        rows.toDF("media_id", "payload"), "payload")
      .collect()
      .map(r => (r.getLong(0), if (r.isNullAt(2)) -1 else r.getInt(2)) -> r)
      .toMap
    assert(out.size == 3 + 1 + 4,
      s"3 + 1 frame rows plus ONE null row per torn payload: ${out.size}")
    for (f <- 0 until 3) {
      val r = out((1L, f))
      assert(r.getInt(3) == 7 && r.getInt(4) == 6 && r.getInt(5) == 3,
        s"frame dims for (1, $f)")
      assert(java.util.Arrays.equals(r.getAs[Array[Byte]](6),
        ramp(1L, f, 7, 6)), s"frame $f must decode byte-exact")
    }
    assert(java.util.Arrays.equals(out((2L, 0)).getAs[Array[Byte]](6),
      ramp(2L, 0, 5, 5)), "single-frame gif decodes")
    Seq(91L, 92L, 93L, 94L).foreach { i =>
      val r = out((i, -1))
      assert(r.isNullAt(2) && r.isNullAt(6),
        s"torn payload $i must yield one null row (no silent prefix)")
    }
    // advisor r12: appended garbage that HAPPENS to end in 0x3B must
    // still refuse — the guard walks the block structure to the real
    // trailer instead of trusting the final byte (no 1/256 gap)
    val sneaky = g1 ++ Array[Byte](0x42, 0x42, 0x3B)
    assert(Multimodal.gifTrailerOffset(g1) == g1.length,
      "well-formed gif: trailer is the final byte")
    assert(Multimodal.gifTrailerOffset(sneaky) == g1.length,
      "the walk must find the REAL trailer, not the appended one")
    val sneakyOut = Multimodal.decodeFrames(
        Seq((95L, sneaky)).toDF("media_id", "payload"), "payload")
      .collect()
    assert(sneakyOut.length == 1 && sneakyOut(0).isNullAt(2),
      "garbage-after-trailer ending in 0x3B must refuse, not decode")
  }

  test("hashEmbed: independently-replayed signed counts; zero vector for empty text; near-dup composes") {
    val docs = Seq(
      (1L, "alpha beta gamma alpha"),
      (2L, "alpha beta gamma alpha"), // identical → cosine exactly 1
      (3L, "totally different tokens here entirely"),
      (4L, "   "), (5L, "")).toDF("doc_id", "text")
    val emb = TextAnalysis.hashEmbed(docs, "text", dim = 32)
      .select($"doc_id", $"embedding")
    val v = emb.collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    // independent replay of the md5 bucket + sign math
    def expected(text: String): Seq[Double] = {
      val out = new Array[Double](32)
      text.trim.toLowerCase.split("\\s+").filter(_.nonEmpty).foreach { t =>
        val hex = java.security.MessageDigest.getInstance("MD5")
          .digest(t.getBytes("UTF-8")).map(b => f"$b%02x").mkString
        val h = java.lang.Long.parseLong(hex.take(15), 16)
        out((h % 32).toInt) += (if ((h / 32) % 2 == 0) 1.0 else -1.0)
      }
      out.toSeq
    }
    assert(v(1L) == expected("alpha beta gamma alpha"))
    assert(v(3L) == expected("totally different tokens here entirely"))
    assert(v(1L) == v(2L))
    assert(v(4L).forall(_ == 0.0) && v(5L).forall(_ == 0.0),
      "empty/whitespace docs embed as the zero vector")
    // the bridge composes with the vector family: the identical pair
    // surfaces through cosine near-dup; the zero vectors score null
    // (simRatio) and can never match
    val pairs = graft.operators.Similarity.cosineNearDups(emb,
        "doc_id", "embedding", 0.99)
      .select("a", "b").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.toSet == Set((1L, 2L)), s"got ${pairs.toSeq}")
  }

  test("hashEmbed: native projection is bit-identical to the SQL HOF reference at small and production dims") {
    // the r13 prescription: the native path (one digest per token,
    // one scatter into a scratch buffer — O(tokens + dim)) must
    // reproduce the engine-neutral HOF fold exactly, including null
    // text, empty text, unicode tokens and repeated tokens, at dim=64
    // AND at a production dim where the HOF form's O(tokens × dim)
    // churn is the reason it was replaced
    val docs = Seq(
      (1L, "alpha beta gamma alpha delta epsilon zeta eta theta"),
      (2L, "  Mixed   CASE   And\tTabs\nnewlines  "),
      (3L, "unicode λόγος 語 tokens café naïve"),
      (4L, "x " * 500),       // 500 repeats of one token
      (5L, ""), (6L, "   "),
      (7L, null.asInstanceOf[String]))
      .toDF("doc_id", "text")
    for (dim <- Seq(64, 1024)) {
      val native = TextAnalysis.hashEmbed(docs, "text", dim = dim)
        .select($"doc_id", $"embedding").collect()
        .map(r => r.getLong(0) ->
          (if (r.isNullAt(1)) null else r.getSeq[Double](1))).toMap
      val hof = TextAnalysis.hashEmbedHof(docs, "text", dim = dim)
        .select($"doc_id", $"embedding").collect()
        .map(r => r.getLong(0) ->
          (if (r.isNullAt(1)) null else r.getSeq[Double](1))).toMap
      (1L to 7L).foreach { i =>
        assert(native(i) == hof(i),
          s"dim=$dim doc $i: native ${native(i)} != hof ${hof(i)}")
      }
      assert(native(7L) == null, "null text embeds as null")
      assert(native(4L) != null &&
        native(4L).map(math.abs).sum == 500.0,
        "500 occurrences of one token pile into one bucket")
    }
  }

  test("multimodal: perceptual hashes are integer-exact; corrupt buffers yield null") {
    import graft.operators.Multimodal
    // 9×8 gray ramp pixel(x, y) = x: the dHash grid samples
    // srcX = gx·9 div 9 = gx, so every horizontal gradient is
    // positive → ALL 64 bits set (−1L); the descending ramp is the
    // mirror (0L) — crisp value pins on the bit packing
    def gray(w: Int, h: Int, f: (Int, Int) => Int): Array[Byte] =
      Array.tabulate(w * h * 3)(i => f((i / 3) % w, i / 3 / w).toByte)
    // RGB luma: alternating red/blue columns — luma(red) = 299·255
    // div 1000 = 76, luma(blue) = 114·255 div 1000 = 29, so bits
    // follow the odd-column rises exactly (pins the 299/587/114
    // integer weights; a float luma would round differently)
    val redBlue = Array.tabulate(9 * 8 * 3) { i =>
      val x = (i / 3) % 9; val c = i % 3
      val v = if (x % 2 == 0) { if (c == 0) 255 else 0 }
              else { if (c == 2) 255 else 0 }
      v.toByte
    }
    val expectRb = (0 until 8).foldLeft(0L) { (acc, gy) =>
      (0 until 8).foldLeft(acc) { (a, gx) =>
        if (gx % 2 == 1) a | (1L << (gy * 8 + gx)) else a // 76 > 29 rises
      }
    }
    val rows = Seq(
      (1L, gray(9, 8, (x, _) => x), 9, 8),
      (2L, gray(9, 8, (x, _) => 255 - x), 9, 8),
      (3L, redBlue, 9, 8),
      (91L, null.asInstanceOf[Array[Byte]], 9, 8),   // null buffer
      (92L, gray(9, 8, (x, _) => x).take(10), 9, 8), // short buffer
      (93L, gray(9, 8, (x, _) => x), 0, 8),          // degenerate dim
      // advisor r13: corrupt metadata whose w·h·c OVERFLOWS an Int
      // product to 0 (2^17 · 2^16 · 3 ≡ 0 mod 2^32) — an Int-math
      // guard passes and luma() then indexes out of bounds, a task
      // failure where the contract says null row
      (94L, gray(9, 8, (x, _) => x), 1 << 17, 1 << 16),
      // dims beyond the sane bound refuse even when the Long product
      // happens to stay positive
      (95L, gray(9, 8, (x, _) => x), 1 << 21, 8))
      .toDF("media_id", "pixels", "img_width", "img_height")
    val out = Multimodal.perceptualHashes(rows, "pixels", "img_width",
        "img_height")
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(4)) null else java.lang.Long.valueOf(r.getLong(4)),
         if (r.isNullAt(5)) null else java.lang.Long.valueOf(r.getLong(5))))
      .toMap
    assert(out(1L)._1 == -1L, s"ascending ramp dhash: ${out(1L)}")
    assert(out(2L)._1 == 0L, s"descending ramp dhash: ${out(2L)}")
    assert(out(3L)._1 == expectRb, s"luma-weight dhash: ${out(3L)}")
    // ahash on the ascending ramp: 8×8 grid samples srcX = gx·9 div 8
    // = {0,1,2,3,4,5,6,7}, mean = 28 div 8... compute independently
    val aGrid = for (gy <- 0 until 8; gx <- 0 until 8) yield gx * 9 / 8
    val mean = aGrid.map(_.toLong).sum / 64
    val expectA = aGrid.zipWithIndex.foldLeft(0L) { case (a, (v, k)) =>
      if (v >= mean) a | (1L << k) else a
    }
    assert(out(1L)._2 == expectA, s"ascending ramp ahash: ${out(1L)}")
    Seq(91L, 92L, 93L, 94L, 95L).foreach { i =>
      assert(out(i) == ((null, null)),
        s"corrupt buffer $i must yield null hashes, not a task failure")
    }
  }

  test("multimodal: imageEmbed samples the exact luma lattice; corrupt buffers yield null vectors") {
    import graft.operators.Multimodal
    def gray(w: Int, h: Int, f: (Int, Int) => Int): Array[Byte] =
      Array.tabulate(w * h * 3)(i => f((i / 3) % w, i / 3 / w).toByte)
    val rows = Seq(
      // 16×12 ramp pixel(x, y) = x + y: lattice x = gx·16 div 8 = 2gx,
      // y = gy·12 div 8 — every sample value computable by hand
      (1L, gray(16, 12, (x, y) => (x + y) min 255), 16, 12),
      (91L, null.asInstanceOf[Array[Byte]], 16, 12),
      (92L, gray(16, 12, (x, y) => x + y).take(10), 16, 12),
      (93L, gray(16, 12, (x, y) => x + y), 0, 12),
      // the Int-overflow metadata trap (w·h·c ≡ 0 mod 2^32) must null,
      // never index out of bounds — the perceptualHashes guard shared
      (94L, gray(16, 12, (x, y) => x + y), 1 << 17, 1 << 16))
      .toDF("media_id", "pixels", "img_width", "img_height")
    val out = Multimodal.imageEmbed(rows, "pixels", "img_width",
        "img_height")
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(4)) null else r.getSeq[Double](4)))
      .toMap
    val expect = for (gy <- 0 until 8; gx <- 0 until 8)
      yield (2 * gx + gy * 12 / 8).toDouble
    assert(out(1L) == expect,
      s"lattice mismatch: ${out(1L)}")
    Seq(91L, 92L, 93L, 94L).foreach { i =>
      assert(out(i) == null,
        s"corrupt buffer $i must yield a null vector, not a task failure")
    }
    // a re-encode with identical pixels embeds IDENTICALLY through
    // the real codec boundary (the property the q148/q149 cosine
    // tier rides): png and bmp of the same buffer → equal vectors
    def enc(fmt: String): Array[Byte] = {
      val im = new java.awt.image.BufferedImage(16, 12,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until 12; x <- 0 until 16) {
        val g = (x * 7 + y * 11) % 256
        im.setRGB(x, y, (g << 16) | (g << 8) | g)
      }
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(im, fmt, bos)
      bos.toByteArray
    }
    val both = Multimodal.imageEmbed(
        Multimodal.decodeImages(
          Seq((1L, enc("png")), (2L, enc("bmp")))
            .toDF("media_id", "payload"), "payload"),
        "pixels", "img_width", "img_height")
      .select("media_id", "img_embedding")
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    assert(both(1L) == both(2L),
      "identical pixels must embed identically across containers")
  }

  test("multimodal: mediaFormat sniffs containers decoder-independently; generic RIFF/FORM never claim audio") {
    import graft.operators.Multimodal
    def b(s: String): Array[Byte] = s.getBytes("ISO-8859-1")
    val rows = Seq(
      (1L, Array[Byte](0x89.toByte, 'P', 'N', 'G', 13, 10, 26, 10)),
      (2L, Array[Byte](0xFF.toByte, 0xD8.toByte, 0xFF.toByte, 0xE0.toByte)),
      (3L, b("BM") ++ Array[Byte](0, 0, 0, 0)),
      (4L, b("GIF89a")),
      (5L, b("RIFF") ++ Array[Byte](4, 0, 0, 0) ++ b("WAVE")),
      // RIFF wrapping something ELSE (AVI) must NOT read as wav
      (6L, b("RIFF") ++ Array[Byte](4, 0, 0, 0) ++ b("AVI ")),
      (7L, b("FORM") ++ Array[Byte](0, 0, 0, 4) ++ b("AIFF")),
      (8L, b("FORM") ++ Array[Byte](0, 0, 0, 4) ++ b("AIFC")),
      (9L, b("FORM") ++ Array[Byte](0, 0, 0, 4) ++ b("ILBM")),
      (10L, b(".snd") ++ Array[Byte](0, 0, 0, 24)),
      (11L, b("random stuff")),
      (12L, Array.empty[Byte]),
      (13L, null.asInstanceOf[Array[Byte]]),
      // payload shorter than the longest magic: must classify, not throw
      (14L, Array[Byte]('R')))
      .toDF("media_id", "payload")
    val out = rows.select(col("media_id"),
        Multimodal.mediaFormat(col("payload")).as("f"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out == Map(1L -> "png", 2L -> "jpeg", 3L -> "bmp",
      4L -> "gif", 5L -> "wav", 6L -> "riff", 7L -> "aiff",
      8L -> "aiff", 9L -> "iff", 10L -> "au", 11L -> "unknown",
      12L -> "empty", 13L -> "null", 14L -> "unknown"), s"got $out")
  }

  test("videoSignature: strict per-bit majority over frame hashes; ties vote 0; null frames excluded") {
    import graft.operators.Multimodal
    // media 1: bits 0 and 63 carried by 2 of 3 frames (strict
    // majority → set), bit 1 by 1 of 3 (→ 0); media 2: an exact
    // 2-of-4 TIE on bit 5 votes 0, and the null frame hash is
    // excluded from the count (else 2-of-5 would also be 0 — the
    // distinction shows on bit 4, set in 3 of the 4 non-null frames);
    // media 3: every frame null → ABSENT from the output
    val msb = Long.MinValue // bit 63
    val rows: Seq[(Long, java.lang.Long)] = Seq(
      (1L, 1L | msb), (1L, 1L | 2L | msb), (1L, 0L),
      (2L, 32L | 16L), (2L, 32L), (2L, 16L), (2L, 16L), (2L, null),
      (3L, null), (3L, null))
    val out = Multimodal.videoSignature(
        rows.toDF("media_id", "dhash"), "media_id", "dhash")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2)))
      .toMap
    assert(out(1L) == ((3L, 1L | msb)),
      s"2-of-3 majority carries bits 0 and 63: ${out(1L)}")
    assert(out(2L) == ((4L, 16L)),
      s"2-of-4 tie votes 0, 3-of-4 sets, null frame excluded: ${out(2L)}")
    assert(!out.contains(3L),
      "media whose every frame hash is null must be absent")
  }

  test("videoSignatures: the per-row codec route equals the batch decodeFrames route, corrupt payloads null") {
    import graft.operators.Multimodal
    val cmap = (0 until 256)
      .map(v => (0xFF << 24) | (v << 16) | (v << 8) | v).toArray
    val icm = new java.awt.image.IndexColorModel(8, 256, cmap, 0,
      false, -1, java.awt.image.DataBuffer.TYPE_BYTE)
    def gif(id: Long, nf: Int): Array[Byte] = {
      val bos = new java.io.ByteArrayOutputStream()
      val ios = javax.imageio.ImageIO.createImageOutputStream(bos)
      val writer = javax.imageio.ImageIO
        .getImageWritersByFormatName("gif").next()
      writer.setOutput(ios)
      writer.prepareWriteSequence(null)
      for (f <- 0 until nf) {
        val img = new java.awt.image.BufferedImage(16, 12,
          java.awt.image.BufferedImage.TYPE_BYTE_INDEXED, icm)
        for (y <- 0 until 12; x <- 0 until 16)
          img.getRaster.setSample(x, y, 0,
            ((id * 31 + f * 17 + y * 16 + x) % 256).toInt)
        writer.writeToSequence(
          new javax.imageio.IIOImage(img, null, null), null)
      }
      writer.endWriteSequence(); writer.dispose(); ios.close()
      bos.toByteArray
    }
    val whole = gif(1L, 4)
    val media = (Seq((1L, gif(1L, 4)), (2L, gif(2L, 3)), (3L, gif(3L, 1))) ++
      Seq((9001L, whole.take(whole.length / 2)),
        (9002L, "junk".getBytes("UTF-8"))))
      .toDF("media_id", "payload")
    val perRow = Multimodal.videoSignatures(media, "payload")
      .select("media_id", "n_frames", "vsig").collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(2)) None
        else Some((r.getLong(1), r.getLong(2))))).toMap
    val batch = Multimodal.videoSignature(
        Multimodal.perceptualHashes(
          Multimodal.decodeFrames(media, "payload"),
          "frame_pixels", "frame_w", "frame_h"),
        "media_id", "dhash")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2)))
      .toMap
    Seq(1L, 2L, 3L).foreach { i =>
      assert(perRow(i) == Some(batch(i)),
        s"routes must agree on $i: ${perRow(i)} vs ${batch(i)}")
    }
    Seq(9001L, 9002L).foreach { i =>
      assert(perRow(i).isEmpty, s"corrupt payload $i must sign null")
      assert(!batch.contains(i), "batch route drops all-null media")
    }
  }

  test("multimodal: audio fingerprint is gain-invariant, integer-exact; short/corrupt clips null") {
    import graft.operators.Multimodal
    // 130-frame mono PCM with a known energy staircase: quiet first
    // half, loud second — gradients computable by hand via an
    // independent reimplementation in the test
    def pcm(scale: Int, frames: Int, f: Int => Int): Array[Byte] = {
      val out = new Array[Byte](frames * 2)
      for (i <- 0 until frames) {
        val v = f(i) * scale
        out(i * 2) = (v & 0xFF).toByte
        out(i * 2 + 1) = ((v >> 8) & 0xFF).toByte
      }
      out
    }
    def expected(frames: Int, f: Int => Int): Long = {
      val mix = Array.tabulate(frames)(i => f(i).toLong)
      val e = Array.tabulate(65) { k =>
        (k * frames / 65 until (k + 1) * frames / 65)
          .map(j => mix(j) * mix(j)).sum
      }
      (0 until 64).foldLeft(0L)((a, k) =>
        if (e(k + 1) > e(k)) a | (1L << k) else a)
    }
    val wave: Int => Int = i => ((i * 31) % 200) - 100
    val rows = Seq(
      (1L, pcm(1, 130, wave), 1),
      (2L, pcm(3, 130, wave), 1),              // 3× gain → same bits
      (3L, pcm(1, 64, wave), 1),               // too short → null
      (4L, null.asInstanceOf[Array[Byte]], 1), // null pcm
      (5L, pcm(1, 130, wave), 0))              // corrupt channels
      .toDF("media_id", "pcm", "au_channels")
    val out = Multimodal.audioFingerprint(rows, "pcm", "au_channels")
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(3)) null else java.lang.Long.valueOf(r.getLong(3))))
      .toMap
    assert(out(1L) == expected(130, wave),
      s"fingerprint must match the independent replay: ${out(1L)}")
    assert(out(2L) == out(1L),
      "uniform gain must not move a single bit (energy scales by the square)")
    Seq(3L, 4L, 5L).foreach(i => assert(out(i) == null,
      s"short/corrupt clip $i must yield a null fingerprint"))
  }

  test("multimodal: pcmChannelSums treats a non-positive channel count as corrupt (null sums)") {
    import graft.operators.Multimodal
    // advisor r12: composed with anything other than decodeWav output,
    // a channels column can carry 0 or negative values — the module's
    // corrupt-row contract is null sums, never a task failure
    val pcm = Array[Byte](1, 0, 2, 0) // two 16-bit LE samples
    val rows = Seq((1L, pcm, 1), (2L, pcm, 0), (3L, pcm, -2))
      .toDF("media_id", "pcm", "au_channels")
    val out = Multimodal.pcmChannelSums(rows, "pcm", "au_channels")
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(3)) null else r.getSeq[Long](3))).toMap
    assert(out(1L) == Seq(3L), s"healthy row still sums: ${out(1L)}")
    assert(out(2L) == null && out(3L) == null,
      "channels <= 0 must yield null sums, not an exception")
  }

  test("multimodal: stub decode is deterministic, frame sampling shapes") {
    val docs = Seq((1L, "0123456789" * 20), (2L, "abc")).toDF("doc_id", "text")
    val media = Multimodal.syntheticMedia(docs)
    val dec = Multimodal.withDecodedFeatures(media, "payload", "img", dim = 8)
    val rows = dec.select("media_id", "feat", "feat_dim").collect()
    assert(rows.forall(_.getInt(2) == 8))
    // deterministic: same payload → same features on re-run
    val again = Multimodal.withDecodedFeatures(media, "payload", "img", dim = 8)
      .select("media_id", "feat").collect()
    assert(rows.map(r => (r.getLong(0), r.getSeq[Float](1))).toSet ==
      again.map(r => (r.getLong(0), r.getSeq[Float](1))).toSet)
    // golden values: the distributed mapPartitions path must apply
    // decodeStub to exactly the payload's UTF-8 bytes (q28's oracle
    // covers the byte-derived counts; the feature VALUES are pinned
    // here, where the stub is directly callable)
    val byId = rows.map(r => r.getLong(0) -> r.getSeq[Float](1)).toMap
    assert(byId(2L) == Multimodal.decodeStub("abc".getBytes("UTF-8"), 8).toSeq)
    assert(byId(1L) ==
      Multimodal.decodeStub(("0123456789" * 20).getBytes("UTF-8"), 8).toSeq)
    val frames = Multimodal.sampleFrames(dec, "payload", 50, 1)
    // 200-byte payload → 4 frames of 50; 3-byte → 1 (clamped)
    val counts = frames.groupBy("media_id").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(counts(1L) == 4 && counts(2L) == 1)
  }

  test("multimodal: raw resize is exact nearest-neighbor index math") {
    // 4×4 single-channel "image" with bytes 0..15 row-major; 2×2
    // nearest-neighbor downsample picks rows/cols 0 and 2:
    //   [ 0  2 ]
    //   [ 8 10 ]
    val img = Array.tabulate(16)(_.toByte)
    val df = Seq((1L, img), (2L, Array[Byte](1, 2, 3))) // 2 = truncated
      .toDF("media_id", "payload")
    val out = Multimodal.resizeRaw(df, "payload", 4, 4, 1, 2, 2)
      .select("media_id", "resized", "out_w", "out_h").collect()
      .map(r => r.getLong(0) -> r.getAs[Array[Byte]](1)).toMap
    assert(out(1L).toSeq == Seq[Byte](0, 2, 8, 10))
    assert(out(2L) == null) // truncated payload rejected, not garbled
    // 3-channel upscale keeps channel interleaving: 1×1 RGB → 2×2
    val rgb = Seq((3L, Array[Byte](10, 20, 30))).toDF("media_id", "payload")
    val up = Multimodal.resizeRaw(rgb, "payload", 1, 1, 3, 2, 2)
      .select("resized").collect()(0).getAs[Array[Byte]](0)
    assert(up.toSeq == Seq[Byte](10, 20, 30, 10, 20, 30, 10, 20, 30, 10, 20, 30))
  }

  test("resizeImages: per-row dims from columns, exact NN sampling, corrupt/overflow rows null") {
    // 4x2 RGB buffer with bytes 0..23; downsample to 2x1:
    // sx = x*4/2 -> {0, 2}, sy = 0 -> pixels (0,0) and (2,0)
    val px: Array[Byte] = (0 until 24).map(_.toByte).toArray
    val rows = Seq(
      (1L, px, Integer.valueOf(4), Integer.valueOf(2)),
      (2L, null.asInstanceOf[Array[Byte]], Integer.valueOf(4),
        Integer.valueOf(2)),                        // null buffer
      (3L, px, null.asInstanceOf[Integer], Integer.valueOf(2)), // null dim
      // metadata claims huge dims over a short buffer: the w*h*c
      // product overflows Int — the LONG guard must null, not throw
      (4L, px, Integer.valueOf(1 << 20), Integer.valueOf(1 << 20)),
      (5L, px, Integer.valueOf(0), Integer.valueOf(2))) // degenerate dim
    val df = rows.toDF("media_id", "pixels", "w", "h")
    val out = Multimodal.resizeImages(df, "pixels", "w", "h",
        outW = 2, outH = 1)
      .select("media_id", "resized", "resized_width", "resized_height")
      .collect().map(r => r.getLong(0) ->
        (Option(r.getAs[Array[Byte]](1)).map(_.toSeq), r.get(2))).toMap
    assert(out(1L)._1.get == Seq[Byte](0, 1, 2, 6, 7, 8),
      s"NN bytes wrong: ${out(1L)._1}")
    assert(out(1L)._2 == 2)
    Seq(2L, 3L, 4L, 5L).foreach { id =>
      assert(out(id)._1.isEmpty && out(id)._2 == null,
        s"row $id must null through, got ${out(id)}")
    }
    // composes with the real decoder: a decoded PNG resizes to the
    // source pixels the sampling rule names
    val im = new java.awt.image.BufferedImage(4, 2,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until 2; x <- 0 until 4) {
      val g = 10 * (y * 4 + x)
      im.setRGB(x, y, (g << 16) | (g << 8) | g)
    }
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(im, "png", bos)
    val dec = Multimodal.resizeImages(
        Multimodal.decodeImages(
          Seq((1L, bos.toByteArray)).toDF("media_id", "payload"),
          "payload"),
        "pixels", "img_width", "img_height", outW = 2, outH = 1)
      .select("resized").collect()(0).getAs[Array[Byte]](0)
    // sampled pixels (0,0)=0 and (2,0)=20, three equal channels each
    assert(dec.toSeq == Seq[Byte](0, 0, 0, 20, 20, 20))
  }
}
