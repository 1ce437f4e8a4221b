package graft

import org.apache.spark.sql.functions._
import graft.operators.{Curation, Dedup}

class CurationSpec extends SparkSpec {
  import spark.implicits._

  test("packSequences: concat-and-chunk layout per shard") {
    // one shard, seqLen 10, docs of 4/8/3/10/1 tokens in id order:
    // priors 0,4,12,15,25 → seq 0,0,1,1,2; offsets 0,4,2,5,5
    val docs = Seq((1L, 4L), (2L, 8L), (3L, 3L), (4L, 10L), (5L, 1L))
      .toDF("doc_id", "n_tokens").withColumn("shard", lit(0))
    val got = Curation.packSequences(docs, "doc_id", "n_tokens", 10,
        keys = Seq("shard"))
      .orderBy("doc_id")
      .select("doc_id", "seq_id", "seq_offset").as[(Long, Long, Long)]
      .collect()
    assert(got.toSeq === Seq((1L, 0L, 0L), (2L, 0L, 4L), (3L, 1L, 2L),
      (4L, 1L, 5L), (5L, 2L, 5L)))
  }

  test("packSequences: shards pack independently") {
    val docs = Seq((1L, 0, 6L), (2L, 1, 6L), (3L, 0, 6L), (4L, 1, 6L))
      .toDF("doc_id", "shard", "n_tokens")
    val got = Curation.packSequences(docs, "doc_id", "n_tokens", 10,
        keys = Seq("shard"))
      .orderBy("doc_id").select("seq_id").as[Long].collect()
    // each shard: priors 0, 6 → seq 0, 0 (doc 3/4 start at offset 6)
    assert(got.toSeq === Seq(0L, 0L, 0L, 0L))
  }

  test("redactPii replaces emails and IPs and counts matches") {
    val df = Seq(
      (1L, "mail a@b.com and c.d+x@e.org, host 10.0.0.1 end"),
      (2L, "clean text, version 1.2 stays, 999.999.999.999 is matched"),
      (3L, "")).toDF("id", "text")
    val got = Curation.redactPii(df, "text")
      .orderBy("id").select("n_emails", "n_ips", "redacted")
      .as[(Int, Int, String)].collect()
    assert(got(0) === ((2, 1, "mail <EMAIL> and <EMAIL>, host <IP> end")))
    // the pattern is syntactic (1-3 digit octets), not semantic
    assert(got(1) === ((0, 1, "clean text, version 1.2 stays, <IP> is matched")))
    assert(got(2) === ((0, 0, "")))
  }

  test("stratifiedHashSample keeps per-stratum hash fractions, deterministically") {
    val df = (0L until 2000L).map(i => (i, if (i % 2 == 0) "a" else "b"))
      .toDF("k", "s")
    val kept = Curation.stratifiedHashSample(df, "k", "s",
      Map("a" -> 1.0, "b" -> 0.1), hashFn = Dedup.md5Hash60)
    val byStratum = kept.groupBy("s").count().as[(String, Long)]
      .collect().toMap
    assert(byStratum("a") === 1000L) // rate 1.0 keeps everything
    assert(byStratum.getOrElse("b", 0L) > 40L &&
      byStratum("b") < 200L) // ~10% of 1000
    // determinism: a second run selects the identical rows
    val again = Curation.stratifiedHashSample(df, "k", "s",
      Map("a" -> 1.0, "b" -> 0.1), hashFn = Dedup.md5Hash60)
    assert(kept.exceptAll(again).isEmpty && again.exceptAll(kept).isEmpty)
  }

  test("stratifiedHashSample default rate drops unlisted strata at 0") {
    val df = Seq((1L, "x"), (2L, "x")).toDF("k", "s")
    assert(Curation.stratifiedHashSample(df, "k", "s", Map("y" -> 1.0))
      .count() === 0L)
  }

  test("dropRepeatedLines keeps first occurrence in original order") {
    val df = Seq(
      (1L, "alpha\nbeta\nalpha\ngamma\nbeta"),
      (2L, "solo"),
      (3L, "dup\ndup\ndup")).toDF("doc_id", "text")
    val got = Curation.dropRepeatedLines(df, "doc_id", "text")
      .orderBy("doc_id")
      .select("dedup_text", "n_lines", "n_unique_lines")
      .as[(String, Int, Int)].collect()
    assert(got(0) === (("alpha\nbeta\ngamma", 5, 3)))
    assert(got(1) === (("solo", 1, 1)))
    assert(got(2) === (("dup", 3, 1)))
  }

  test("dropDuplicateParagraphs: corpus-wide keep-first, incl. intra-doc") {
    val docs = Seq(
      (1L, "A\n\nB"),      // both first occurrences → kept whole
      (2L, "B\n\nC\n\nB"), // B first seen in doc 1 → both drop; C kept
      (3L, "A"),           // only paragraph already seen → empty survivor
      (4L, "D\n\nD")       // intra-doc repeat: second D drops
    ).toDF("doc_id", "text")
    val got = Curation.dropDuplicateParagraphs(docs, "doc_id", "text")
      .select("doc_id", "clean_text", "n_kept_paras", "n_paras")
      .collect().map(r => r.getLong(0) ->
        ((r.getString(1), r.getInt(2), r.getInt(3)))).toMap
    assert(got(1L) == (("A\n\nB", 2, 2)))
    assert(got(2L) == (("C", 1, 3)))
    assert(got(3L) == (("", 0, 1)))
    assert(got(4L) == (("D", 1, 2)))
  }

  test("fitQualityLr: one GD round from zero matches hand arithmetic") {
    // two single-token docs, step 1: round-1 errors are ±0.5, so the
    // token weights land at ±0.25 and the bias gradient cancels to 0
    val docs = Seq((1L, "alpha", 1), (2L, "bravo", 0))
      .toDF("doc_id", "text", "y")
    val m = Curation.fitQualityLr(docs, "doc_id", "text", "y",
      buckets = 1 << 16, iters = 1, stepSize = 1.0)
    assert(m.bias === 0.0)
    val got = Curation.lrScore(docs, "doc_id", "text", m)
      .orderBy("doc_id").select("score").as[Double].collect()
    assert(math.abs(got(0) - 1.0 / (1.0 + math.exp(-0.25))) < 1e-12)
    assert(math.abs(got(1) - 1.0 / (1.0 + math.exp(0.25))) < 1e-12)
  }

  test("fitQualityLr: separates two vocabularies after a few rounds") {
    val docs = ((1L to 10L).map(i => (i, s"good clean prose number $i", 1)) ++
      (11L to 20L).map(i => (i, s"zz qq vv ww item $i", 0))).toDF(
      "doc_id", "text", "y")
    // frequency-normalised features bound z by max|w|, so a larger
    // step is safe — and needed for a visible margin in few rounds
    // (measured: step 8 / 10 iters → gap ≈ 0.53; step 30 oscillates)
    val m = Curation.fitQualityLr(docs, "doc_id", "text", "y",
      iters = 10, stepSize = 8.0)
    val sc = Curation.lrScore(docs, "doc_id", "text", m)
      .join(docs.select(col("doc_id"), col("y")), Seq("doc_id"))
      .groupBy("y").agg(avg("score").as("s"))
      .collect().map(r => r.getInt(0) -> r.getDouble(1)).toMap
    assert(sc(1) > sc(0) + 0.2,
      s"positive class should score clearly higher: $sc")
  }

  test("lrScoreCol projection agrees with the batch lrScore") {
    // repeated tokens exercise the count×weight vs per-occurrence
    // float-order difference the Scaladoc documents
    val docs = Seq((1L, "spam spam spam ham", 0), (2L, "ham and eggs", 1),
      (3L, "", 1)).toDF("doc_id", "text", "y")
    val m = Curation.fitQualityLr(docs, "doc_id", "text", "y", iters = 2)
    val batch = Curation.lrScore(docs, "doc_id", "text", m)
      .select(col("doc_id"), col("score"))
      .as[(Long, Double)].collect().toMap
    val proj = docs.select(col("doc_id"),
        Curation.lrScoreCol(col("text"), m).as("score"))
      .collect().map(r => r.getLong(0) ->
        Option(r.get(1)).map(_.asInstanceOf[Double])).toMap
    assert(proj(3L).isEmpty && !batch.contains(3L)) // featureless doc
    for (id <- Seq(1L, 2L))
      assert(math.abs(batch(id) - proj(id).get) < 1e-9)
  }

  test("fitQualityLr: plain-sum fold agrees with the exact fold") {
    val docs = (1L to 30L)
      .map(i => (i, s"tok${i % 7} tok${i % 5} tok${i % 3} filler words",
        (i % 2).toInt)).toDF("doc_id", "text", "y")
    def fit(e: Boolean) = Curation.fitQualityLr(docs, "doc_id", "text",
      "y", iters = 2, exactFold = e)
    val (a, b) = (fit(true), fit(false))
    assert(math.abs(a.bias - b.bias) < 1e-9)
    assert(a.table.zip(b.table).forall { case (x, y) =>
      math.abs(x - y) < 1e-9 })
  }

  test("native 4-iteration fit trajectory matches the exactFold fit") {
    // q90's production configuration (planted vocabulary markers,
    // iters = 4, step 8 — the rows-only bench row): the plain-sum
    // fit's WEIGHT TRAJECTORY must track the gated exactFold fit
    // through all four gradient rounds within float-reassociation
    // tolerance — a wrong gradient join, a stale weight table, or a
    // mis-scaled step diverges compoundingly and fails the 1e-9 bar,
    // so the native path's arithmetic is pinned, not just one round
    // of scoring
    val docs = (1L to 60L).map { i =>
      val marker = if (i % 3 == 0) "lowvalue boiler plate marker"
                   else "curated highvalue marker"
      (i, s"body tok${i % 7} tok${i % 5} words $marker",
        if (i % 3 == 0) 0 else 1)
    }.toDF("doc_id", "text", "y")
    def fit(e: Boolean) = Curation.fitQualityLr(docs, "doc_id", "text",
      "y", iters = 4, stepSize = 8.0, exactFold = e)
    val (a, b) = (fit(true), fit(false))
    assert(math.abs(a.bias - b.bias) < 1e-9, s"bias ${a.bias} vs ${b.bias}")
    val maxDelta = a.table.zip(b.table).map { case (x, y) =>
      math.abs(x - y) }.max
    assert(maxDelta < 1e-9, s"max weight delta $maxDelta")
    // and the trajectory went somewhere: the planted markers separate
    assert(a.table.exists(_ > 0.1) && a.table.exists(_ < -0.1))
  }

  test("corpusDiff: added/removed/changed/unchanged on a hand corpus") {
    val prev = Seq((1L, "same text"), (2L, "will change"), (3L, "will vanish"))
      .toDF("doc_id", "text")
    val next = Seq((1L, "same text"), (2L, "did change"), (4L, "brand new"))
      .toDF("doc_id", "text")
    val got = Curation.corpusDiff(prev, next, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got == Map(1L -> "unchanged", 2L -> "changed",
      3L -> "removed", 4L -> "added"), s"got $got")
  }

  test("corpusReleaseGate: fractions, ties pass, tight threshold fails, empty corpora") {
    val prev = Seq((1L, "keep a"), (2L, "keep b"), (3L, "will change"),
      (4L, "will vanish")).toDF("doc_id", "text")
    val next = Seq((1L, "keep a"), (2L, "keep b"), (3L, "did change"),
      (5L, "brand new")).toDF("doc_id", "text")
    def gate(mA: Double, mR: Double, mC: Double): Map[String, Double] =
      Curation.corpusReleaseGate(prev, next, "doc_id", "text", mA, mR, mC)
        .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    // 4 prev, 4 next; 1 each of added/removed/changed → all fracs 0.25
    val g = gate(0.25, 0.25, 0.25)
    assert(g("diff:n_prev") == 4.0 && g("diff:n_next") == 4.0)
    assert(g("diff:n_added") == 1.0 && g("diff:n_removed") == 1.0 &&
      g("diff:n_changed") == 1.0 && g("diff:n_unchanged") == 2.0)
    assert(g("diff:added_frac") == 0.25 && g("diff:removed_frac") == 0.25 &&
      g("diff:changed_frac") == 0.25)
    // thresholds are inclusive: exactly-at-threshold churn passes
    assert(g("gate:pass") == 1.0, s"tie should pass: $g")
    assert(g("gate:max_changed_frac") == 0.25)
    // one fraction over its bound → verdict flips, metrics unchanged
    val tight = gate(0.25, 0.25, 0.2)
    assert(tight("gate:pass") == 0.0)
    assert(tight("diff:changed_frac") == 0.25)
    // empty → empty: zero churn, zero denominators, still a pass
    val none = prev.filter(col("doc_id") < 0)
    val e = Curation.corpusReleaseGate(none, none, "doc_id", "text")
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(e("diff:n_prev") == 0.0 && e("diff:added_frac") == 0.0 &&
      e("gate:pass") == 1.0, s"empty diff should pass: $e")
  }

  test("dropDuplicateSpans: gram tiling, keep-first, intra-doc runs") {
    val docs = Seq(
      (1L, "a b c d e"),     // all grams first occurrences → kept whole
      (2L, "x a b c d e y"), // embeds doc 1's span → a..e removed, x y kept
      (3L, "t t t t t t"),   // intra-doc run: anchors p=2..4 cover words 2..6
      (4L, "a b"),           // below anchor resolution → untouched
      (5L, "a b c d e"),     // exact copy of doc 1 → gutted to empty
      (6L, "  p   q r s  ")  // unique; reassembly normalises whitespace
    ).toDF("doc_id", "text")
    val got = Curation.dropDuplicateSpans(docs, "doc_id", "text", n = 3)
      .select("doc_id", "clean_text", "n_kept_words", "n_words")
      .collect().map(r => r.getLong(0) ->
        ((r.getString(1), r.getInt(2), r.getInt(3)))).toMap
    assert(got(1L) == (("a b c d e", 5, 5)))
    assert(got(2L) == (("x y", 2, 7)))
    assert(got(3L) == (("t", 1, 6)))
    assert(got(4L) == (("a b", 2, 2)))
    assert(got(5L) == (("", 0, 5)))
    assert(got(6L) == (("p q r s", 4, 4)))
  }

  test("redactContaminatedSpans: excises the quoted span, keeps the rest") {
    val train = Seq(
      (1L, "a b c d e f"),   // quotes the benchmark span c d e
      (2L, "g h i j k"),     // clean → untouched
      (3L, "c d e"),         // IS the benchmark item → gutted
      (4L, "x c d y e z")    // shares words but no 3-gram run → untouched
    ).toDF("doc_id", "text")
    val bench = Seq((100L, "c d e"), (101L, "q r")) // q r below n → inert
      .toDF("doc_id", "text")
    val got = Curation.redactContaminatedSpans(train, bench,
        "doc_id", "text", n = 3)
      .select("doc_id", "clean_text", "n_removed_words")
      .collect().map(r => r.getLong(0) ->
        ((r.getString(1), r.getInt(2)))).toMap
    assert(got(1L) == (("a b f", 3)))
    assert(got(2L) == (("g h i j k", 0)))
    assert(got(3L) == (("", 3)))
    assert(got(4L) == (("x c d y e z", 0)))
  }

  test("dropDuplicateSpans: hashGrams path agrees with the exact path") {
    val docs = Seq(
      (1L, "one two three four five six"),
      (2L, "zero one two three four five six seven"),
      (3L, "one two three four five six"),
      (4L, "seven eight nine seven eight nine seven eight nine")
    ).toDF("doc_id", "text")
    def run(h: Boolean) =
      Curation.dropDuplicateSpans(docs, "doc_id", "text", n = 3,
          hashGrams = h)
        .select("doc_id", "clean_text", "n_kept_words", "n_words")
        .orderBy("doc_id")
        .as[(Long, String, Int, Int)].collect().toSeq
    assert(run(true) === run(false))
  }

  test("chunkByTokens: windows advance by stride, last chunk short") {
    // 12 tokens, chunk 5, overlap 2 → stride 3, extra = ceil(7/3) = 3
    // chunks: [1..5], [4..8], [7..11], [10..12]
    val df = Seq((1L, "a b c d e f g h i j k l")).toDF("doc_id", "text")
    val got = Curation.chunkByTokens(df, "doc_id", "text", 5, 2)
      .orderBy("chunk_id")
      .select("chunk_id", "chunk_tokens", "chunk_text")
      .as[(Long, Int, String)].collect()
    assert(got.toSeq === Seq(
      (0L, 5, "a b c d e"), (1L, 5, "d e f g h"),
      (2L, 5, "g h i j k"), (3L, 3, "j k l")))
  }

  test("chunkByTokens: short doc is one whole chunk") {
    val df = Seq((1L, "only three tokens")).toDF("doc_id", "text")
    val got = Curation.chunkByTokens(df, "doc_id", "text", 50, 10)
      .select("chunk_id", "chunk_tokens", "chunk_text")
      .as[(Long, Int, String)].collect()
    assert(got.toSeq === Seq((0L, 3, "only three tokens")))
  }

  test("tfidfTopTerms ranks corpus-rare terms above ubiquitous ones") {
    val df = Seq(
      (1L, "common rare1 common common"),
      (2L, "common rare2"),
      (3L, "common other")).toDF("doc_id", "text")
    val got = operators.TextAnalysis.tfidfTopTerms(df, "doc_id", "text", 2)
      .orderBy("doc_id", "rank")
      .select("doc_id", "rank", "token").as[(Long, Int, String)].collect()
    // "common" appears in all 3 docs → idf = ln(1) = 0; rare terms win
    assert(got.filter(_._1 == 1L).map(_._3).head === "rare1")
    assert(got.filter(_._1 == 2L).map(_._3).head === "rare2")
    // zero-score terms still rank (by token) below positive scores
    assert(got.filter(_._1 == 1L).map(_._3).toSeq === Seq("rare1", "common"))
  }

  test("saltedSumStats equals the plain aggregate on a skewed key") {
    val df = (1L to 5000L).map(i => ("hot", i.toDouble)) ++
      (1L to 50L).map(i => ("cold", i.toDouble)) match {
      case rows => rows.toDF("k", "v")
    }
    val salted = operators.Skew.saltedSumStats(df, Seq("k"), "v", salts = 8)
      .orderBy("k")
      .select(col("k"), round(col("sum_v"), 6), col("n"),
        col("min_v"), col("max_v"))
      .as[(String, Double, Long, Double, Double)].collect()
    val plain = df.groupBy("k")
      .agg(round(sum("v"), 6).as("s"), count("v").as("n"),
        min("v").as("mn"), max("v").as("mx"))
      .orderBy("k")
      .as[(String, Double, Long, Double, Double)].collect()
    assert(salted.toSeq === plain.toSeq)
  }

  test("end-to-end curation pipeline: profile -> dedup -> decontaminate -> split -> pack") {
    // the operators composed the way a corpus pipeline uses them; the
    // invariants (not the exact rows) are the contract under test
    val base = (0L until 120L).map { i =>
      val body = s"unique document body number $i with some filler words " +
        ("lorem ipsum dolor sit amet " * (i % 5 + 1).toInt)
      (i, if (i % 10 == 0) "exact dup body shared by ten docs" else body)
    }.toDF("doc_id", "text")

    val profiled = operators.TextAnalysis.profile(base, "text")
      .filter(col("quality") > 0.2)
    // exact dedup keeps one representative per identical text
    val exactDeduped = operators.Dedup.exact(profiled, Seq("text"), "doc_id")
    assert(exactDeduped.filter(col("text").contains("exact dup")).count() === 1L)

    // near-dup drop over n-gram pairs (none expected among survivors)
    val pairs = operators.Dedup.ngramJaccardNearDups(
      exactDeduped, "doc_id", "text", n = 4, threshold = 0.9)
    val deduped = operators.Dedup.dropNearDups(exactDeduped, pairs, "doc_id")

    // decontaminate against a 3-doc "benchmark" blocklist
    val fp = deduped.withColumn("fingerprint",
      operators.TextAnalysis.rollingFingerprint(col("text")))
    val block = fp.filter(col("doc_id").isin(3L, 7L, 11L))
      .select("fingerprint")
    val clean = operators.TextAnalysis.decontaminate(fp, block, "fingerprint")
    assert(clean.filter(col("doc_id").isin(3L, 7L, 11L)).count() === 0L)

    // deterministic split, then pack each split shard independently
    val split = operators.TextAnalysis.hashSplit(clean, "doc_id",
      Seq("train" -> 0.9, "val" -> 0.1))
    val packed = Curation.packSequences(
      split.withColumn("n_tokens",
        operators.TextAnalysis.tokenCount(col("text"))),
      "doc_id", "n_tokens", 128, keys = Seq("split"))
    // invariants: every surviving doc packed exactly once; offsets
    // within bounds; seq ids contiguous from 0 per split
    assert(packed.count() === clean.count())
    assert(packed.filter(col("seq_offset") < 0 ||
      col("seq_offset") >= 128).count() === 0L)
    val perSplit = packed.groupBy("split")
      .agg(min("seq_id").as("lo"), countDistinct("seq_id").as("nseq"),
        max("seq_id").as("hi"))
      .collect()
    perSplit.foreach { r =>
      assert(r.getLong(1) === 0L) // first doc of a shard starts sequence 0
      assert(r.getLong(3) === r.getLong(2) - 1) // seq ids contiguous from 0
    }
    spark.catalog.clearCache() // near-dup gram table persists per session
  }

  test("property: packSequences invariants on random token streams") {
    val rnd = new scala.util.Random(42)
    (1 to 3).foreach { trial =>
      val docs = (0L until 200L)
        .map(i => (i, i % 4, rnd.nextInt(300).toLong))
        .toDF("doc_id", "shard", "n_tokens")
      val packed = Curation.packSequences(docs, "doc_id", "n_tokens", 256,
          keys = Seq("shard"))
        .select("doc_id", "shard", "n_tokens", "seq_id", "seq_offset")
        .as[(Long, Long, Long, Long, Long)].collect()
        .sortBy(_._1)
      packed.groupBy(_._2).values.foreach { shard =>
        var prior = 0L
        shard.sortBy(_._1).foreach { case (_, _, n, seqId, off) =>
          // each doc starts exactly where the running count says
          assert(seqId === prior / 256 && off === prior % 256, s"trial $trial")
          prior += n
        }
      }
    }
  }

  test("property: chunk reassembly reproduces the token stream") {
    val rnd = new scala.util.Random(7)
    val texts = (0L until 50L).map { i =>
      (i, (0 until rnd.nextInt(120) + 1).map(j => s"t${rnd.nextInt(50)}")
        .mkString(" "))
    }.toDF("doc_id", "text")
    val chunks = Curation.chunkByTokens(texts, "doc_id", "text", 16, 4)
      .select("doc_id", "chunk_id", "chunk_text")
      .as[(Long, Long, String)].collect()
      .groupBy(_._1).view.mapValues(_.sortBy(_._2).map(_._3).toList).toMap
    texts.as[(Long, String)].collect().foreach { case (id, text) =>
      val toks = text.toLowerCase.trim.split("\\s+").toList
      val cs = chunks(id)
      // first chunk starts the stream; each later chunk drops the
      // 4-token overlap; concatenation restores the original stream
      val rebuilt = cs.head.split(" ").toList ++
        cs.tail.flatMap(_.split(" ").drop(4))
      assert(rebuilt === toks, s"doc $id")
      // every chunk except the last is full-size
      cs.init.foreach(c => assert(c.split(" ").length === 16, s"doc $id"))
    }
  }

  test("property: upsample multiplicity is floor(w) or ceil(w) per key") {
    val df = (0L until 500L).map(i => (i, 0.3 + (i % 7) * 0.4)).toDF("k", "w")
    val counts = Curation.upsampleByWeight(df, "k", col("w"))
      .groupBy("k").count().as[(Long, Long)].collect().toMap
    (0L until 500L).foreach { i =>
      val wgt = 0.3 + (i % 7) * 0.4
      val got = counts.getOrElse(i, 0L)
      assert(got === math.floor(wgt).toLong || got === math.ceil(wgt).toLong,
        s"key $i weight $wgt got $got")
    }
  }

  test("curate: one-call pipeline drops dups and contamination, packs the rest") {
    val docs = (0L until 60L).map { i =>
      val body = s"document body $i " +
        (s"alpha beta gamma delta epsilon zeta eta theta iota kappa w$i " * 12)
      (i, if (i % 10 == 0) "shared duplicate body repeated verbatim here ok"
          else body)
    }.toDF("doc_id", "text")
    val bench = docs.filter(col("doc_id") === 7L)
      .select(col("doc_id") + 500L as "doc_id",
        concat(col("text"), lit(" benchmark suffix")).as("text"))
    val out = operators.Curation.curate(docs, "doc_id", "text",
      benchmark = Some(bench),
      cfg = operators.Curation.CurateConfig(minQuality = 0.0,
        nearDupNgram = 4, nearDupThreshold = 0.5))
    val ids = out.select("doc_id").as[Long].collect().toSet
    assert(!ids.contains(7L), "benchmark near-dup should be decontaminated")
    assert(ids.intersect((0L until 60L by 10L).toSet) === Set(0L),
      "exact dups keep only the lowest id")
    val cols = out.columns.toSet
    assert(Set("split", "shard", "seq_id", "seq_offset").subsetOf(cols))
    assert(out.filter(col("seq_offset") < 0).count() === 0L)
    spark.catalog.clearCache()
  }

  test("dropBoilerplateLines: cross-doc banner drops, per-doc lines stay") {
    // banner in 3/4 docs (> 0.5), notice in 2/4 (≤ 0.5, stays), doc 4
    // is ONLY the banner — must survive with empty text, not vanish
    val docs = Seq(
      (1L, "banner\nunique one\nnotice"),
      (2L, "banner\nunique two"),
      (3L, "unique three\nnotice"),
      (4L, "banner")
    ).toDF("doc_id", "text")
    val got = Curation.dropBoilerplateLines(docs, "doc_id", "text", 0.5)
      .select("doc_id", "clean_text", "n_kept_lines", "n_lines")
      .collect().map(r => r.getLong(0) ->
        ((r.getString(1), r.getInt(2), r.getInt(3)))).toMap
    assert(got(1L) == (("unique one\nnotice", 2, 3)))
    assert(got(2L) == (("unique two", 1, 2)))
    assert(got(3L) == (("unique three\nnotice", 2, 2)))
    assert(got(4L) == (("", 0, 1)))
    // duplicate lines WITHIN one doc are occurrences, not boilerplate:
    // a line repeated in a single doc keeps every copy
    val solo = Seq((1L, "a\nb\na"), (2L, "c")).toDF("doc_id", "text")
    val keep = Curation.dropBoilerplateLines(solo, "doc_id", "text", 0.6)
      .filter($"doc_id" === 1L).select("clean_text").collect()(0).getString(0)
    assert(keep == "a\nb\na")
  }

  test("sampleToTokenBudget: membership is a pure function of the corpus") {
    val docs = spark.range(200).select($"id".as("doc_id"),
      (pmod($"id" * 37L, lit(50L)) + 10L).as("n_tokens"))
    val kept = Curation.sampleToTokenBudget(docs, "doc_id", "n_tokens",
        budgetTokens = 2000L, shards = 4)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept.nonEmpty && kept.size < 200)
    // the determinism contract: same corpus → same kept set, whatever
    // the input order or partitioning (hash order, not row order)
    val again = Curation.sampleToTokenBudget(
        docs.orderBy($"doc_id".desc).repartition(7), "doc_id", "n_tokens",
        budgetTokens = 2000L, shards = 4)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(again == kept)
    // budget below the smallest doc: each shard still takes its first
    // doc (prior 0 < budget only when budget > 0)
    val tiny = Curation.sampleToTokenBudget(docs, "doc_id", "n_tokens",
        budgetTokens = 4L, shards = 4)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(tiny.size == 4)
  }

  test("curate: boilerplate strip and gopher rules as optional stages") {
    val stops = "the cat has to be one of note and that dogs have fun with"
    def body(i: Int) = (1 to 4).map(k =>
      s"$stops doc$i chunk$k carries its own distinct payload words")
      .mkString(" ") // > 50 words, unique grams per doc
    val docs = Seq(
      (1L, s"subscribe banner\n${body(1)}"),
      (2L, s"subscribe banner\n${body(2)}"),
      (3L, s"subscribe banner\n${body(3)}"),
      (4L, "subscribe banner\n# # # # # # # # # # # # # # # # # # # #")
    ).toDF("doc_id", "text")
    val out = Curation.curate(docs, "doc_id", "text",
      cfg = Curation.CurateConfig(minQuality = 0.0,
        dropBoilerplate = Some(0.9), gopherRules = true,
        splits = Seq("train" -> 1.0), seqLen = 64, packShards = 1))
    val kept = out.select("doc_id").collect().map(_.getLong(0)).toSet
    // the banner (in 4/4 docs) strips BEFORE gopher scoring, so docs
    // 1-3 pass the symbol rule; doc 4 is all symbols and fails it
    assert(kept == Set(1L, 2L, 3L), s"kept $kept")
    // stripped text flows to downstream stages: no banner in output
    assert(out.columns.contains("seq_id"))
    assert(!out.select("text").collect().exists(_.getString(0).contains("subscribe")))
  }

  test("curate: paragraph dedup and repetition rules as optional stages") {
    // all-distinct tokens per doc: the repetition rules must pass the
    // organic docs and fail only the planted self-repeat (doc 4)
    def body(i: Int) = (1 to 60).map(k => s"w${i}x$k").mkString(" ")
    val sharedPara = "shared paragraph appears in several docs verbatim"
    val docs = Seq(
      (1L, s"$sharedPara\n\n${body(1)}"),   // keeps the shared para
      (2L, s"$sharedPara\n\n${body(2)}"),   // loses it (doc 1 was first)
      (3L, body(3)),
      (4L, s"${body(4)} ${body(4)} ${body(4)}") // repetition rules drop
    ).toDF("doc_id", "text")
    val out = Curation.curate(docs, "doc_id", "text",
      cfg = Curation.CurateConfig(minQuality = 0.0,
        paragraphDedup = true, repetitionRules = true,
        splits = Seq("train" -> 1.0), seqLen = 64, packShards = 1))
    val kept = out.select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(kept.keySet == Set(1L, 2L, 3L), s"kept ${kept.keySet}")
    assert(kept(1L).contains("shared paragraph"))
    assert(!kept(2L).contains("shared paragraph"),
      "doc 2's copy of the shared paragraph must dedup away")
    spark.catalog.clearCache()
  }

  test("curate: substring-span dedup as an optional pre-scoring stage") {
    // a 6-word licence tail shared by docs 1 and 2 crosses no
    // paragraph boundary, so only the span tier can dedup it
    def body(i: Int) = (1 to 40).map(k => s"w${i}x$k").mkString(" ")
    val licence = "released under the example open licence"
    val docs = Seq(
      (1L, s"${body(1)} $licence"), // first occurrence → keeps it
      (2L, s"${body(2)} $licence"), // later occurrence → span removed
      (3L, body(3))
    ).toDF("doc_id", "text")
    val out = Curation.curate(docs, "doc_id", "text",
      cfg = Curation.CurateConfig(minQuality = 0.0,
        spanDedup = Some(3),
        splits = Seq("train" -> 1.0), seqLen = 64, packShards = 1))
    val kept = out.select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(kept.keySet == Set(1L, 2L, 3L), s"kept ${kept.keySet}")
    assert(kept(1L).contains(licence))
    assert(!kept(2L).contains("licence"),
      "doc 2's copy of the licence span must dedup away")
    spark.catalog.clearCache()
  }

  test("curate: fitted LR model as an optional quality tier") {
    val good = "clear readable prose about engineering and data work"
    val bad = "zz qq vv ww xx yy zz qq vv ww"
    val train = ((1L to 15L).map(i => (i, s"$good sample $i", 1)) ++
      (16L to 30L).map(i => (i, s"$bad item $i", 0)))
      .toDF("doc_id", "text", "y")
    val m = Curation.fitQualityLr(train, "doc_id", "text", "y",
      iters = 10, stepSize = 8.0)
    val docs = Seq(
      (1L, s"$good fresh new document"),
      (2L, s"$bad fresh junk document"))
      .toDF("doc_id", "text")
    val out = Curation.curate(docs, "doc_id", "text",
      cfg = Curation.CurateConfig(minQuality = 0.0,
        lrModel = Some(m), minLrScore = 0.5,
        splits = Seq("train" -> 1.0), seqLen = 64, packShards = 1))
    val kept = out.select("doc_id").as[Long].collect().toSet
    assert(kept == Set(1L), s"kept $kept")
    spark.catalog.clearCache()
  }

  test("upsampleByWeight: integer weights repeat exactly, zero drops") {
    val df = Seq((1L, 2.0), (2L, 0.0), (3L, 1.0)).toDF("k", "w")
    val got = Curation.upsampleByWeight(df, "k", col("w"))
      .orderBy("k", "copy").select("k", "copy").as[(Long, Long)].collect()
    assert(got.toSeq === Seq((1L, 0L), (1L, 1L), (3L, 0L)))
  }

  test("upsampleByWeight: fractional part selects ~frac of keys by hash") {
    val df = (0L until 1000L).map(i => (i, 1.5)).toDF("k", "w")
    val n = Curation.upsampleByWeight(df, "k", col("w"),
      hashFn = Dedup.md5Hash60).count()
    // every key ≥ 1 copy; ~half get 2 → total in [1400, 1600]
    assert(n > 1400L && n < 1600L)
    // realized multiset is deterministic
    val n2 = Curation.upsampleByWeight(df, "k", col("w"),
      hashFn = Dedup.md5Hash60).count()
    assert(n === n2)
  }

  test("dsir: target-like source docs outrank the background corpus") {
    // background docs share a vocabulary; the "target-like" source
    // docs carry the target's marker phrase (bigrams unseen anywhere
    // else in the source), so their log-likelihood ratio must win
    val bg = (0L until 40L).map(i =>
      (i, s"common words number $i filler text and more filler"))
    val planted = (100L until 105L).map(i =>
      (i, s"common words rare marker phrase here index $i"))
    val source = (bg ++ planted).toDF("doc_id", "text")
    val target = (200L until 210L).map(i =>
      (i, s"rare marker phrase here sample $i")).toDF("doc_id", "text")
    val top = Curation.dsirSelect(source, target, "doc_id", "text",
        k = 5, buckets = 256, gumbel = false).select("doc_id")
      .as[Long].collect().toSet
    assert(top == Set(100L, 101L, 102L, 103L, 104L),
      s"expected the planted docs on top, got $top")
  }

  test("dsir: fitted model scores new docs; native and Column scorers agree") {
    val source = (0L until 40L).map(i =>
      (i, s"common words number $i filler text and more filler"))
      .toDF("doc_id", "text")
    val target = (200L until 210L).map(i =>
      (i, s"rare marker phrase here sample $i")).toDF("doc_id", "text")
    val model = Curation.fitDsir(source, target, "text", buckets = 256)
    // new docs disjoint from both corpora: target-like must outscore
    // source-like; gibberish exercises never-seen buckets; empty → null
    val fresh = Seq(
      (500L, "rare marker phrase here brand new"),
      (501L, "common words filler text again"),
      (502L, "qqxzv wvvkj zzryx"),
      (503L, "")).toDF("doc_id", "text")
    val scored = fresh.select($"doc_id",
        Curation.dsirScore($"text", model).as("native"),
        Curation.dsirScoreCol($"text", model).as("col"))
      .collect().map(r => r.getLong(0) ->
        (Option(r.get(1)).map(_.asInstanceOf[Double]),
         Option(r.get(2)).map(_.asInstanceOf[Double]))).toMap
    // parity up to float-addition order (different summation order,
    // same terms): round both at 6
    scored.foreach { case (id, (n, c)) =>
      assert(n.isDefined == c.isDefined, s"doc $id null mismatch")
      for (nv <- n; cv <- c)
        assert(math.abs(nv - cv) < 1e-9, s"doc $id native=$nv col=$cv")
    }
    assert(scored(503L)._1.isEmpty, "empty text must score null")
    assert(scored(500L)._1.get > scored(501L)._1.get,
      "target-like doc must outscore source-like doc")
    // the md5-hashed model pairs with the Column scorer the same way
    val m2 = Curation.fitDsir(source, target, "text", buckets = 256,
      hashFn = Dedup.md5Hash60)
    val s2 = fresh.select($"doc_id",
        Curation.dsirScoreCol($"text", m2, Dedup.md5Hash60).as("s"))
      .collect().map(r => r.getLong(0) -> Option(r.get(1))).toMap
    assert(s2(500L).isDefined && s2(503L).isEmpty)
  }

  test("dsir: weights are deterministic and gumbel keys reproducible") {
    val docs = (0L until 30L).map(i => (i, s"text body $i with words"))
      .toDF("doc_id", "text")
    val tgt = docs.filter($"doc_id" % 3 === 0)
    def run() = Curation.dsirSelect(docs, tgt, "doc_id", "text", k = 10,
        buckets = 128, hashFn = Dedup.md5Hash60)
      .select("doc_id", "sel_key").as[(Long, Double)].collect().toSeq
    assert(run() === run(), "same inputs must select the same sample")
    // empty text contributes no features and is absent from weights
    val withEmpty = docs.union(Seq((999L, "   ")).toDF("doc_id", "text"))
    val w = Curation.dsirWeights(withEmpty, tgt, "doc_id", "text",
      buckets = 128)
    assert(w.filter($"doc_id" === 999L).count() === 0L)
    // n_feats = unigrams + bigrams = tokens + (tokens - 1)
    val nf = w.filter($"doc_id" === 1L).select("n_feats").as[Long].head()
    assert(nf === 5L + 4L, s"expected 9 features, got $nf")
  }

  test("capPerKey: deterministic per-domain cap, small keys untouched") {
    val docs = ((1L to 40L).map(i => (i, "big")) ++
      (41L to 43L).map(i => (i, "small"))).toDF("doc_id", "source")
    val kept = Curation.capPerKey(docs, "source", "doc_id", maxPerKey = 5)
    val bySrc = kept.groupBy("source").count().as[(String, Long)]
      .collect().toMap
    assert(bySrc("big") == 5L, s"cap must bind: $bySrc")
    assert(bySrc("small") == 3L, "under-cap keys keep everything")
    // deterministic: same rows survive a re-run and a reshuffle
    val again = Curation.capPerKey(docs.repartition(7), "source",
      "doc_id", maxPerKey = 5)
    assert(kept.exceptAll(again).isEmpty && again.exceptAll(kept).isEmpty)
    // output schema is the input schema (helper column dropped)
    assert(kept.columns.toSeq == docs.columns.toSeq)
  }

  test("curate: normalize tier folds typographic variants before dedup") {
    // two copies of the same doc differing only in curly quotes and
    // NBSP: without normalize both survive exact dedup; with it the
    // pair collapses to one survivor
    val base = "a longer document body that clears the quality gate " +
      "with enough ordinary words to score well “quoted” here"
    val variant = base.replace("“", "\"").replace("”", "\"")
      .replace(" quoted", "\u00A0quoted")
    val filler = (10L to 30L).map(i =>
      (i, s"plain filler document number $i with ordinary words " * 3))
    val docs = (Seq((1L, base), (2L, variant)) ++ filler)
      .toDF("doc_id", "text")
    def survivors(cfg: Curation.CurateConfig): Set[Long] =
      Curation.curate(docs, "doc_id", "text", cfg = cfg)
        .select("doc_id").as[Long].collect().toSet
    val without = survivors(Curation.CurateConfig(
      nearDupThreshold = 1.01)) // exact tier only
    val withNorm = survivors(Curation.CurateConfig(
      nearDupThreshold = 1.01, normalize = true))
    assert(without.contains(1L) && without.contains(2L),
      s"unnormalized variants must both survive exact dedup: $without")
    assert(withNorm.contains(1L) && !withNorm.contains(2L),
      s"normalized variants must collapse to the min id: $withNorm")
  }

  test("curate: normalize tier also normalizes the benchmark for decontam") {
    // the training doc quotes a benchmark passage with CURLY quotes;
    // the benchmark carries it with straight quotes. Raw shingling
    // tokenizes the variants differently and misses the containment;
    // with normalize on, BOTH sides fold first and the doc must drop.
    val passage = "the quick benchmark passage that “must” " +
      "never appear inside any training document corpus"
    val passageAscii = passage.replace("“", "\"").replace("”", "\"")
    val docs = (Seq(
      (1L, s"a perfectly ordinary training document which quotes $passage " +
        "and then continues with its own words for a while")) ++
      (10L to 25L).map(i =>
        (i, s"plain filler document number $i with ordinary words " * 3)))
      .toDF("doc_id", "text")
    val bench = Seq((100L, passageAscii)).toDF("doc_id", "text")
    def survivors(normalize: Boolean): Set[Long] =
      Curation.curate(docs, "doc_id", "text", benchmark = Some(bench),
          cfg = Curation.CurateConfig(normalize = normalize,
            nearDupThreshold = 1.01, decontamThreshold = 0.5))
        .select("doc_id").as[Long].collect().toSet
    assert(survivors(false).contains(1L),
      "raw variants should NOT match (the recall gap normalize closes)")
    assert(!survivors(true).contains(1L),
      "normalized benchmark grams must catch the folded quote variant")
  }

  test("normalizeText: each fold fires on its own pathology") {
    val docs = Seq(
      (1L, "“curly” ‘quotes’ – and — dash − minus"),
      (2L, "ellipsis… here"),
      (3L, "crlf\r\nlone\rcr"),
      (4L, "ctl\u0001z\u0007w zero\u200Bwidth\u200C\u200D join\uFEFFbom"),
      (5L, "runs  of\t\tmixed \t space"),
      (6L, "  edge \n lines \n  padded  "),
      (7L, "nb\u00A0sp"),
      (8L, "\n\n first\nlast \n\n")
    ).toDF("doc_id", "text")
    val got = Curation.normalizeText(docs, "text", "norm")
      .orderBy("doc_id").select("norm").as[String].collect()
    assert(got(0) == "\"curly\" 'quotes' - and - dash - minus")
    assert(got(1) == "ellipsis... here")
    assert(got(2) == "crlf\nlone\ncr")
    assert(got(3) == "ctlzw zerowidth joinbom")
    assert(got(4) == "runs of mixed space")
    assert(got(5) == "edge\nlines\npadded", s"got ${got(5)}")
    assert(got(6) == "nb sp")
    // document-end newlines stripped (trim alone only takes spaces)
    assert(got(7) == "first\nlast", got(7))
    // idempotent: re-normalizing a normalized corpus is a no-op
    val once = Curation.normalizeText(docs, "text", "n1")
    val twice = Curation.normalizeText(once.select($"doc_id",
      $"n1".as("text")), "text", "n2")
    val diff = twice.filter($"text" =!= $"n2").count()
    assert(diff == 0, s"$diff rows changed on the second pass")
  }

  test("ccnetHashKey: case/digit/punct-insensitive dedup key") {
    val key = Curation.ccnetHashKey(lit("Hello, WORLD 123!  x\ny"))
    val got = spark.range(1).select(key.as("k")).as[String].head()
    assert(got == "hello world 000 x y")
    // near-identical boilerplate variants collapse to one key
    // (hyphens and currency marks are punctuation: stripped)
    val pairs = Seq(
      ("Call 555-1234 NOW!", "call 0000000 now"),
      ("Item #42; price: $9.99", "item 00 price 000")
    ).toDF("a", "expect")
    val bad = pairs.filter(Curation.ccnetHashKey($"a") =!= $"expect").count()
    assert(bad == 0)
    // underscores are punctuation (\p{L}\p{N}, not \w): stripped
    val us = spark.range(1)
      .select(Curation.ccnetHashKey(lit("under_score")).as("k"))
      .as[String].head()
    assert(us == "underscore")
  }

  test("maintainQualityLr: lossless rooted round-trip, drifted sample fires, quiet no-op, torn refusal") {
    val fit = Seq(
      (1L, "the quick brown fox jumps over the lazy dog", 1),
      (2L, "the quick brown fox sits under the tall tree", 0),
      (3L, "a slow green turtle walks past the brown fox", 1))
      .toDF("doc_id", "text", "y")
    val model = Curation.fitQualityLr(fit, "doc_id", "text", "y",
      buckets = 4096, iters = 2, stepSize = 0.5)
    Curation.writeQualityLrRooted(spark, "lr_mw", model, fit, "text")
    val disk = Curation.readQualityLr(spark, "lr_mw")
    // sparse persistence reconstructs the dense model LOSSLESSLY
    // (untouched buckets are exactly 0.0 in the fit by construction)
    assert(disk.bias == model.bias &&
      disk.table.toSeq == model.table.toSeq,
      "reopened model must be bit-identical to the fitted one")
    val drifted = Seq((10L, "zq1 zq2 zq3 zq4 zq5 zq6 zq7 zq8 zq9"))
      .toDF("doc_id", "text")
    val corpus = fit.unionByName(drifted.withColumn("y", lit(1)))
    def window(): org.apache.spark.sql.Row =
      Curation.maintainQualityLr(spark, "lr_mw", drifted, "text",
        corpus, "doc_id", "y", maxBlindRate = 0.2).collect()(0)
    val heal = window()
    assert(heal.getLong(0) == 17L && heal.getBoolean(2) &&
      heal.getLong(3) == 0L && heal.getBoolean(4),
      s"drifted sample must fire and recover through one call: $heal")
    assert(spark.table("lr_mw_meta").collect()(0)
      .getAs[String]("gen") == "b")
    assert(!spark.catalog.tableExists("lr_mw_a_w"),
      "the superseded generation must drop after the flip")
    val metaBefore = spark.table("lr_mw_meta").collect().toSeq
    val noop = window()
    assert(noop.getLong(1) == 0L && !noop.getBoolean(2) &&
      !noop.getBoolean(4), s"undrifted sample must be a no-op: $noop")
    assert(spark.table("lr_mw_meta").collect().toSeq == metaBefore,
      "a quiet window must not touch the commit record")
    graft.sources.Generations.clearEpochTokens(spark, "lr_mw_b_w")
    assert(intercept[IllegalArgumentException] {
      Curation.readQualityLr(spark, "lr_mw")
    }.getMessage.contains("epoch token"))
  }

  test("maintainDsirRatios: dense rooted round-trip, drifted sample fires, quiet no-op, torn refusal") {
    val source = Seq((1L, "aa bb cc dd ee"), (2L, "bb cc dd ee ff"))
      .toDF("doc_id", "text")
    val target = Seq((3L, "cc dd ee ff gg")).toDF("doc_id", "text")
    val model = Curation.fitDsir(source, target, "text", buckets = 4096)
    Curation.writeDsirRooted(spark, "dsir_mw", model, source, target,
      "text")
    val disk = Curation.readDsir(spark, "dsir_mw")
    assert(disk.table.toSeq == model.table.toSeq,
      "reopened ratio table must be bit-identical to the fitted one")
    val drifted = Seq((10L, "zq1 zq2 zq3 zq4 zq5")).toDF("doc_id", "text")
    val refitSource = source.unionByName(drifted)
    def window(): org.apache.spark.sql.Row =
      Curation.maintainDsirRatios(spark, "dsir_mw", drifted, "text",
        refitSource, target, maxBlindRate = 0.2).collect()(0)
    val heal = window()
    assert(heal.getLong(0) == 9L && heal.getBoolean(2) &&
      heal.getLong(3) == 0L && heal.getBoolean(4),
      s"drifted sample must fire and recover through one call: $heal")
    assert(spark.table("dsir_mw_meta").collect()(0)
      .getAs[String]("gen") == "b")
    assert(!spark.catalog.tableExists("dsir_mw_a_w"),
      "the superseded generation must drop after the flip")
    val metaBefore = spark.table("dsir_mw_meta").collect().toSeq
    val noop = window()
    assert(noop.getLong(1) == 0L && !noop.getBoolean(2) &&
      !noop.getBoolean(4), s"undrifted sample must be a no-op: $noop")
    assert(spark.table("dsir_mw_meta").collect().toSeq == metaBefore,
      "a quiet window must not touch the commit record")
    graft.sources.Generations.clearEpochTokens(spark, "dsir_mw_b_w")
    assert(intercept[IllegalArgumentException] {
      Curation.readDsir(spark, "dsir_mw")
    }.getMessage.contains("epoch token"))
  }
}
