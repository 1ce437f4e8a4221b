package graft

import org.apache.spark.sql.functions._
import graft.operators.{Dedup, Similarity, TextAnalysis}

class DedupSpec extends SparkSpec {
  import spark.implicits._

  val docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog again and again today"),
    (2L, "the quick brown fox jumps over the lazy dog again and again today"), // exact dup of 1
    (3L, "the quick brown fox jumps over the lazy dog again and again tomorrow"), // near dup
    (4L, "completely different content about solar boats and battery telemetry"),
    (5L, "zzz qqq www eee rrr ttt yyy uuu iii ooo ppp aaa sss ddd fff ggg")
  ).toDF("doc_id", "text")

  test("ngram rescueHot recovers an identical-doc flood past the bucket guard") {
    val flood = ((0L until 60L).map(i =>
      (i, "all these documents share exactly the same words")) :+
      (100L, "a completely different document about other things entirely"))
      .toDF("doc_id", "text")
    // 60 identical docs share every 4-gram: with maxBucket = 50 the
    // plain guard drops every candidate bucket and finds nothing
    val guarded = Dedup.ngramJaccardNearDups(flood, "doc_id", "text",
      n = 4, threshold = 0.5, maxBucket = 50)
    assert(guarded.count() == 0L)
    // rescueHot collapses the identical-text group before gramming:
    // star pairs at jaccard 1.0, full recall, one survivor
    val rescued = Dedup.ngramJaccardNearDups(flood, "doc_id", "text",
      n = 4, threshold = 0.5, maxBucket = 50, rescueHot = true)
    assert(rescued.filter($"jaccard" =!= 1.0).count() == 0L)
    val kept = Dedup.dropNearDups(flood, rescued, "doc_id")
      .select("doc_id").as[Long].collect().sorted
    assert(kept.toSeq == Seq(0L, 100L), s"got ${kept.toSeq}")
  }

  test("rescueHot is semantics-preserving when no bucket is hot") {
    // mixed corpus: exact-dup groups, a near-dup pair, distinct docs.
    // With maxBucket large enough that the plain guard never bites,
    // both modes must produce the SAME dedup decisions (the collapse
    // only reroutes work; star pairs + rep banding must not change
    // connected components).
    val mixed = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (2L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (3L, "alpha beta gamma delta epsilon zeta eta theta iota lambda"),
      (4L, "totally different words live in this document here today"),
      (5L, "totally different words live in this document here today"),
      (6L, "mu nu xi omicron pi rho sigma tau upsilon phi chi psi"),
      (7L, "one more standalone document with entirely unshared tokens")
    ).toDF("doc_id", "text")
    def survivors(rescue: Boolean, path: String): Seq[Long] = {
      val pairs = path match {
        case "minhash" => Dedup.minhashNearDups(mixed, "doc_id", "text",
          numHashes = 128, bands = 32, threshold = 0.5, wordGrams = 3,
          maxBucket = 1000, rescueHot = rescue)
        case "ngram" => Dedup.ngramJaccardNearDups(mixed, "doc_id", "text",
          n = 3, threshold = 0.5, maxBucket = 1000, rescueHot = rescue)
        case "simhash" => Dedup.simhashNearDups(mixed, "doc_id", "text",
          maxHamming = 3, maxBucket = 1000, rescueHot = rescue)
      }
      Dedup.dropNearDups(mixed, pairs, "doc_id")
        .select("doc_id").as[Long].collect().sorted.toSeq
    }
    for (p <- Seq("minhash", "ngram", "simhash"))
      assert(survivors(rescue = false, p) == survivors(rescue = true, p),
        s"$p decisions changed under rescueHot")
    // and the decisions are the expected ones: 2 drops behind 1
    // (exact+near cluster), 5 behind 4, singletons stay
    assert(survivors(rescue = true, "ngram") == Seq(1L, 4L, 6L, 7L))
  }

  test("hashedRescueKey decisions equal the value-keyed rescue's") {
    // the 100 TB collapse-key tier (128-bit double xxhash64 of the
    // normalized text) must make the SAME decisions as grouping on the
    // text value — on a flood (hot buckets, star pairs live) AND on a
    // mixed corpus (near-dups found through rep banding). Also pins
    // the normalization parity: keys must see lower+trim exactly as
    // gramTable tokenizes, so "Same Text" and " same text " collapse.
    val flood = ((0L until 60L).map(i =>
      (i, if (i % 2 == 0) "All these documents share exactly the same words"
          else " all these documents share exactly the same words  ")) ++
      Seq((100L, "a completely different document about other things entirely"),
        (101L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
        (102L, "alpha beta gamma delta epsilon zeta eta theta iota lambda")))
      .toDF("doc_id", "text")
    def survivors(hashed: Boolean): Seq[Long] = {
      val pairs = Dedup.ngramJaccardNearDups(flood, "doc_id", "text",
        n = 3, threshold = 0.5, maxBucket = 50, rescueHot = true,
        hashedRescueKey = hashed)
      Dedup.dropNearDups(flood, pairs, "doc_id")
        .select("doc_id").as[Long].collect().sorted.toSeq
    }
    val value = survivors(hashed = false)
    val hashed = survivors(hashed = true)
    assert(value == hashed, s"value-keyed $value vs hashed $hashed")
    assert(value == Seq(0L, 100L, 101L), s"got $value")
  }

  test("simhash rescueHot recovers an identical-doc flood losslessly") {
    val flood = ((0L until 60L).map(i =>
      (i, "all these documents share exactly the same words")) :+
      (100L, "a completely different document about other things entirely"))
      .toDF("doc_id", "text")
    val guarded = Dedup.simhashNearDups(flood, "doc_id", "text",
      maxHamming = 3, maxBucket = 50)
    assert(guarded.count() == 0L) // every bucket hot → dropped
    val rescued = Dedup.simhashNearDups(flood, "doc_id", "text",
      maxHamming = 3, maxBucket = 50, rescueHot = true)
    // sketch-identical members pair at hamming 0 via star pairs
    assert(rescued.filter($"hamming" =!= 0).count() == 0L)
    val kept = Dedup.dropNearDups(flood, rescued, "doc_id")
      .select("doc_id").as[Long].collect().sorted
    assert(kept.toSeq == Seq(0L, 100L), s"got ${kept.toSeq}")
  }

  test("bloom incremental exact dedup: decisions exact even under forced false positives") {
    // an 8-BIT bloom over 6 accepted texts saturates (~every probe
    // positive), so every batch doc takes the verification join — and
    // the decisions must STILL be exactly those of the plain anti
    // join, because a false positive only routes a doc to
    // verification, never drops it
    val accepted = (0L until 6L).map(i => (i, s"accepted corpus text number $i"))
      .toDF("doc_id", "text")
    val batch = Seq(
      (10L, "accepted corpus text number 3"),  // exact index dup → drop
      (11L, "a brand new document"),           // novel → keep
      (12L, "a brand new document"),           // within-batch dup → drop
      (13L, "another novel document entirely") // novel → keep
    ).toDF("doc_id", "text")
    for ((bits, label) <- Seq(8L -> "saturated", (1L << 20) -> "sized")) {
      val idx = Dedup.buildExactIndex(accepted, "text",
        expectedItems = 1000L, numBits = bits)
      val kept = Dedup.incrementalDropExactDups(idx, batch, "doc_id", "text")
        .select("doc_id").as[Long].collect().sorted.toSeq
      assert(kept == Seq(11L, 13L), s"$label bloom: got $kept")
    }
  }

  test("sharded bloom index: bounded fpp past one shard's capacity, no false negatives, sharded append") {
    // the past-2^26-bits capacity mechanism, demonstrated at test
    // geometry: 4,000 accepted texts vs sketches sized for 250 items
    // (4,096 bits). ONE sketch at that geometry is 16× over capacity —
    // saturated, nearly every novel probe false-positives, and the
    // "join-free admission" pitch silently degrades to the plain anti
    // join. 16 shards of the SAME per-shard geometry carry the same
    // corpus at the designed per-shard fpp (~4e-4 here), because each
    // probe consults exactly the one sketch owning pmod(hash, k).
    // Capacity thus scales linearly with shard count with no Spark
    // conf changes — the 2^26-bit per-sketch cap becomes a per-SHARD
    // cap.
    val corpus = (0L until 4000L).map(i => (i, s"accepted shard corpus doc $i"))
      .toDF("doc_id", "text")
    val geomItems = 250L
    val geomBits = 4096L
    val single = Dedup.buildExactIndex(corpus, "text", geomItems, geomBits)
    val sharded = Dedup.buildExactIndex(corpus, "text", geomItems, geomBits,
      shards = 16)
    val novel = (0 until 2000).map(i => s"novel probe text $i").toDF("text")
    def fpRate(idx: Dedup.ExactIndex): Double =
      novel.select(Dedup.mightContainIndexCol(idx,
          xxhash64(col("text"))).as("p"))
        .filter(col("p")).count().toDouble / 2000.0
    val singleFp = fpRate(single)
    val shardedFp = fpRate(sharded)
    assert(singleFp > 0.5, f"single sketch should saturate, fp=$singleFp%.3f")
    assert(shardedFp < 0.05,
      f"sharded index should hold designed fpp, fp=$shardedFp%.3f")
    // no false negatives: every accepted text probes positive through
    // its shard (a mis-routed probe would surface here)
    assert(corpus.select(Dedup.mightContainIndexCol(sharded,
        xxhash64(col("text"))).as("p"))
      .filter(!col("p")).count() == 0L)
    // decisions through the sharded index = plain anti join semantics,
    // and a sharded APPEND keeps geometry (shard-wise mergeInPlace)
    val batch = Seq((9001L, "accepted shard corpus doc 77"), // dup → drop
      (9002L, "sharded increment doc"),                      // novel → keep
      (9003L, "accepted shard corpus doc 3999")              // dup → drop
    ).toDF("doc_id", "text")
    val kept = Dedup.incrementalDropExactDups(sharded, batch, "doc_id", "text")
    assert(kept.select("doc_id").as[Long].collect().toSeq == Seq(9002L))
    val grown = Dedup.appendToExactIndex(sharded, kept, "text")
    assert(grown.shards == 16)
    val batch2 = Seq((9100L, "sharded increment doc"), // gen-2 dup → drop
      (9101L, "post-append novel doc")).toDF("doc_id", "text")
    assert(Dedup.incrementalDropExactDups(grown, batch2, "doc_id", "text")
      .select("doc_id").as[Long].collect().toSeq == Seq(9101L))
  }

  test("compactExactIndex: fpp drift detected, compaction restores it, loop decisions unchanged") {
    import org.apache.spark.sql.functions._
    // a deliberately under-sized index (1 KiB of bits) grown 10× past
    // its design point: appends merge sketches at fixed geometry, so
    // the realized fpp saturates — the drift compaction remediates
    val seed = (0L until 100L).map(i => (i, s"fpp seed doc $i"))
      .toDF("doc_id", "text")
    val idx0 = Dedup.buildExactIndex(seed, "text", expectedItems = 128L,
      numBits = 1L << 13, shards = 1)
    val grown = (1 to 10).foldLeft(idx0) { (ix, b) =>
      val batch = (0L until 100L)
        .map(i => (b * 1000L + i, s"fpp growth batch $b doc $i"))
        .toDF("doc_id", "text")
      // checkpoint each survivor set as production growth loops do
      // (q101 materializes per generation): an un-truncated lineage
      // nests every prior generation's Bloom-literal probe plan into
      // the next — driver-side plan canonicalization explodes long
      // before the (tiny) data does
      Dedup.appendToExactIndex(ix,
        Dedup.incrementalDropExactDups(ix, batch, "doc_id", "text")
          .localCheckpoint(), "text")
    }
    // the estimate sees the drift (n ≈ 1100 on a 128-item design)
    def estMax(ix: Dedup.ExactIndex): Double =
      Dedup.estimatedFpp(ix).agg(max(col("est_fpp")))
        .collect()(0).getDouble(0)
    val estBefore = estMax(grown)
    assert(estBefore > 0.2, f"drifted index should estimate high: $estBefore%.3f")
    // empirical fpp agrees, and compaction (re-sketch the hash table,
    // larger geometry + shards — NO corpus re-hash) restores it
    val novel = (0L until 2000L).map(i => (i, s"never admitted text $i"))
      .toDF("doc_id", "text")
    def fpRate(ix: Dedup.ExactIndex): Double =
      novel.select(Dedup.mightContainIndexCol(ix,
          xxhash64(col("text"))).as("p"))
        .filter(col("p")).count().toDouble / 2000.0
    val fpBefore = fpRate(grown)
    val compacted = Dedup.compactExactIndex(grown, expectedItems = 4096L,
      numBits = 1L << 17, shards = 4)
    val fpAfter = fpRate(compacted)
    val estAfter = estMax(compacted)
    assert(fpBefore > 0.2, f"under-sized index should misfire often: $fpBefore%.3f")
    assert(fpAfter < 0.01 && estAfter < 0.01,
      f"compacted index should hold designed fpp: emp=$fpAfter%.4f est=$estAfter%.4f")
    // no false negatives through compaction: every admitted text still
    // probes positive (the hash table is the source of truth)
    assert(grown.hashes.select(Dedup.mightContainIndexCol(compacted,
        col("__h")).as("p")).filter(!col("p")).count() == 0L)
    // and the q101 loop continues across the compaction boundary:
    // dups of BOTH generations drop, novelty admits, appends work
    val batch = Seq((90001L, "fpp seed doc 7"),          // gen-0 dup
      (90002L, "fpp growth batch 3 doc 9"),              // appended dup
      (90003L, "post-compaction novel doc")).toDF("doc_id", "text")
    val kept = Dedup.incrementalDropExactDups(compacted, batch,
      "doc_id", "text")
    assert(kept.select("doc_id").as[Long].collect().toSeq == Seq(90003L))
    val next = Dedup.appendToExactIndex(compacted, kept, "text")
    assert(Dedup.incrementalDropExactDups(next,
        Seq((90100L, "post-compaction novel doc"), (90101L, "beyond"))
          .toDF("doc_id", "text"), "doc_id", "text")
      .select("doc_id").as[Long].collect().toSeq == Seq(90101L))
  }

  test("exact index save/load: sketch+geometry round-trip, decisions equal, torn manifest refused") {
    val corpus = (0L until 500L).map(i => (i, s"durable corpus doc $i"))
      .toDF("doc_id", "text")
    val idx = Dedup.buildExactIndex(corpus, "text", expectedItems = 1000L,
      numBits = 1L << 14, shards = 4)
    val dir = java.nio.file.Files.createTempDirectory("exact_idx").toString
    Dedup.writeExactIndexBucketed(idx, "exact_idx_spec", s"$dir/idx",
      numBuckets = 4)
    val loaded = Dedup.readExactIndex(spark, "exact_idx_spec", s"$dir/idx")
    assert(loaded.shards == 4 && loaded.expectedItems == 1000L &&
      loaded.numBits == (1L << 14))
    // probe parity: the reloaded shard sketches answer EXACTLY as the
    // in-memory ones over members and novels (byte-level round-trip)
    val probes = corpus.select(col("text"))
      .unionByName((0 until 200).map(i => s"novel probe $i").toDF("text"))
    def answers(i: Dedup.ExactIndex) = probes
      .select(col("text"), Dedup.mightContainIndexCol(i,
        xxhash64(col("text"))).as("p"))
      .collect().map(r => r.getString(0) -> r.getBoolean(1)).toMap
    assert(answers(loaded) == answers(idx))
    // admission through the LOADED index = the in-memory decisions
    val batch = Seq((9000L, "durable corpus doc 123"), // dup → drop
      (9001L, "post restart novel doc"),              // novel → keep
      (9002L, "durable corpus doc 499")               // dup → drop
    ).toDF("doc_id", "text")
    assert(Dedup.incrementalDropExactDups(loaded, batch, "doc_id", "text")
      .select("doc_id").as[Long].collect().toSeq == Seq(9001L))
    // DRIVER RESTART: the default in-memory catalog forgets the table
    // across JVMs; the data is EXTERNAL at indexDir/hashes so a drop
    // leaves it on disk, and readExactIndex re-registers the bucketed
    // table and answers identically in the "fresh" session
    spark.sql("DROP TABLE exact_idx_spec")
    assert(!spark.catalog.tableExists("exact_idx_spec"))
    val reborn = Dedup.readExactIndex(spark, "exact_idx_spec", s"$dir/idx")
    assert(answers(reborn) == answers(idx))
    assert(Dedup.incrementalDropExactDups(reborn, batch, "doc_id", "text")
      .select("doc_id").as[Long].collect().toSeq == Seq(9001L))
    // CROSS-EPOCH guard: a manifest whose epoch token is gone from the
    // hashes dir (a torn rewrite wiped it with the old table) refuses —
    // sketches and table from different write attempts must never serve
    val manifestPath =
      java.nio.file.Paths.get(s"$dir/idx/sketches", "MANIFEST")
    val epoch = new String(java.nio.file.Files.readAllBytes(manifestPath),
      "UTF-8").trim.split("\\s+").last
    val tokenPath =
      java.nio.file.Paths.get(s"$dir/idx/hashes", s"_graft_epoch_$epoch")
    java.nio.file.Files.delete(tokenPath)
    val mixed = intercept[IllegalArgumentException] {
      Dedup.readExactIndex(spark, "exact_idx_spec", s"$dir/idx")
    }
    assert(mixed.getMessage.contains("epoch token"))
    java.nio.file.Files.createFile(tokenPath) // restore
    // CATALOG-MIXUP guard: re-registering the SAME table name over a
    // different epoch dir, then reading the first dir, must refuse —
    // this dir's sketches over that dir's table would admit duplicates
    Dedup.writeExactIndexBucketed(idx, "exact_idx_spec", s"$dir/idx2",
      numBuckets = 4)
    val cross = intercept[IllegalArgumentException] {
      Dedup.readExactIndex(spark, "exact_idx_spec", s"$dir/idx")
    }
    assert(cross.getMessage.contains("points at"))
    // while the MATCHING dir still reads fine
    assert(answers(Dedup.readExactIndex(spark, "exact_idx_spec",
      s"$dir/idx2")) == answers(idx))
    spark.sql("DROP TABLE exact_idx_spec") // external: files survive
    // a TORN manifest (crash mid-create left a zero-byte file) must
    // refuse with the designed message, not mis-parse
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$dir/idx/sketches", "MANIFEST"),
      Array.empty[Byte])
    val torn = intercept[IllegalArgumentException] {
      Dedup.readExactIndex(spark, "exact_idx_spec", s"$dir/idx")
    }
    assert(torn.getMessage.contains("torn MANIFEST"))
    // a MANIFEST-less sketch dir (pre-rename crash) also refuses
    java.nio.file.Files.delete(
      java.nio.file.Paths.get(s"$dir/idx/sketches", "MANIFEST"))
    val err = intercept[IllegalArgumentException] {
      Dedup.readExactIndex(spark, "exact_idx_spec", s"$dir/idx")
    }
    assert(err.getMessage.contains("MANIFEST"))
  }

  test("broadcast shard probe: parity with the plan-literal CASE tier") {
    // the large-index probe path (total sketch bytes over the literal
    // budget): same pmod routing, same sketches, shipped by broadcast
    // instead of as plan literals — answers must be bit-identical
    val corpus = (0L until 2000L).map(i => (i, s"bc probe corpus doc $i"))
      .toDF("doc_id", "text")
    val idx = Dedup.buildExactIndex(corpus, "text", expectedItems = 500L,
      numBits = 1L << 13, shards = 8)
    val probes = corpus.select(col("text"))
      .unionByName((0 until 500).map(i => s"bc novel probe $i").toDF("text"))
    def answers(probe: org.apache.spark.sql.Column) = probes
      .select(col("text"), probe.as("p"))
      .collect().map(r => r.getString(0) -> r.getBoolean(1)).toMap
    val viaLiteral = answers(
      Dedup.mightContainIndexCol(idx, xxhash64(col("text"))))
    val viaBroadcast = answers(
      Dedup.mightContainBroadcastCol(idx, xxhash64(col("text"))))
    assert(viaLiteral == viaBroadcast)
    // and the members all probe positive through the broadcast path
    assert(corpus.select(Dedup.mightContainBroadcastCol(idx,
        xxhash64(col("text"))).as("p"))
      .filter(!col("p")).count() == 0L)
    // NULL-hash parity (round-10 advisor find): the plan-literal
    // BloomFilterMightContain propagates a null hash to a null
    // decision; the broadcast tier must do the SAME, not default to
    // false — a nullable hash column routed by total sketch size
    // would otherwise change answers between tiers
    val nullHash = Seq(Tuple1(Option.empty[Long])).toDF("h")
    def nullAnswer(probe: org.apache.spark.sql.Column): Boolean =
      nullHash.select(probe.as("p")).collect()(0).isNullAt(0)
    assert(nullAnswer(Dedup.mightContainIndexCol(idx, col("h"))),
      "literal tier: null hash must yield null")
    assert(nullAnswer(Dedup.mightContainBroadcastCol(idx, col("h"))),
      "broadcast tier: null hash must yield null, not false")
  }

  test("exact index release(): frees the sketch broadcast, idempotent, reprobe re-broadcasts") {
    val corpus = (0L until 300L).map(i => (i, s"release corpus doc $i"))
      .toDF("doc_id", "text")
    val idx = Dedup.buildExactIndex(corpus, "text", expectedItems = 200L,
      numBits = 1L << 12, shards = 4)
    def members() = corpus.select(Dedup.mightContainBroadcastCol(idx,
        xxhash64(col("text"))).as("p"))
      .filter(!col("p")).count()
    assert(members() == 0L) // materializes the broadcast
    // retire the generation: executor copies unpersist now, not at
    // some future driver GC (the growth loop creates one broadcast
    // per appended batch — retained epochs must not accumulate GiB
    // executor blocks). unpersist, NOT destroy: a plan built before
    // the release must re-fetch, never crash (review find)
    idx.release()
    idx.release() // idempotent — and safe before any probe ever ran
    // a released index is not poisoned: a later probe re-fetches the
    // unpersisted broadcast (correct answers, just re-pays the ship)
    assert(members() == 0L)
    idx.release()
  }

  test("bloom probe: negatives bypass the join; append merges the sketch") {
    val accepted = (0L until 50L).map(i => (i, s"seed text $i"))
      .toDF("doc_id", "text")
    val idx = Dedup.buildExactIndex(accepted, "text")
    // a properly-sized bloom answers false for novel text (whp): the
    // probe column itself is checked so the fast path is real, not
    // just absorbed by the verification join
    val probes = accepted.sparkSession.range(1).select(
      Dedup.mightContainCol(idx.bloom, xxhash64(lit("seed text 7"))).as("dup"),
      Dedup.mightContainCol(idx.bloom,
        xxhash64(lit("never seen before text"))).as("novel"))
      .head()
    assert(probes.getBoolean(0), "true member must probe positive")
    assert(!probes.getBoolean(1), "novel text should probe negative (fpp ~1e-6 here)")
    // append: survivors of batch 1 enter the index; batch 2 copies of
    // BOTH generations drop
    val batch1 = Seq((100L, "first increment doc"), (101L, "seed text 3"))
      .toDF("doc_id", "text")
    val kept1 = Dedup.incrementalDropExactDups(idx, batch1, "doc_id", "text")
    assert(kept1.select("doc_id").as[Long].collect().toSeq == Seq(100L))
    val idx2 = Dedup.appendToExactIndex(idx, kept1, "text")
    val batch2 = Seq((200L, "seed text 9"), (201L, "first increment doc"),
      (202L, "second increment doc")).toDF("doc_id", "text")
    val kept2 = Dedup.incrementalDropExactDups(idx2, batch2, "doc_id", "text")
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(kept2 == Seq(202L), s"got $kept2")
    // append of an EMPTY survivor set (all-dups batch): the fallback
    // sketch must share the aggregate's geometry or mergeInPlace
    // throws IncompatibleMergeException — the all-dups-batch and
    // empty-bootstrap cases
    val allDups = Seq((300L, "seed text 5")).toDF("doc_id", "text")
    val kept3 = Dedup.incrementalDropExactDups(idx2, allDups, "doc_id", "text")
    assert(kept3.count() == 0L)
    val idx3 = Dedup.appendToExactIndex(idx2, kept3, "text")
    val empty = Dedup.buildExactIndex(
      Seq.empty[(Long, String)].toDF("doc_id", "text"), "text")
    val idx4 = Dedup.appendToExactIndex(empty, accepted, "text")
    assert(Dedup.incrementalDropExactDups(idx4,
        Seq((400L, "seed text 2"), (401L, "novel after bootstrap"))
          .toDF("doc_id", "text"), "doc_id", "text")
      .select("doc_id").as[Long].collect().toSeq == Seq(401L))
    assert(idx3.hashes.count() == idx2.hashes.count())
  }

  test("exact dedup keeps lowest id per identical text") {
    val out = Dedup.exact(docs, Seq("text"), "doc_id")
    assert(out.count() == 4)
    assert(out.filter($"doc_id" === 2).count() == 0)
  }

  test("minhash near-dups find exact+near pairs, skip distinct docs") {
    val pairs = Dedup.minhashNearDups(docs, "doc_id", "text",
        numHashes = 64, bands = 32, threshold = 0.5)
      .select("a", "b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L))) // identical
    assert(pairs.contains((1L, 3L)) && pairs.contains((2L, 3L))) // near
    assert(!pairs.exists(p => p._1 == 4L || p._2 == 4L))
    assert(!pairs.exists(p => p._1 == 5L || p._2 == 5L))
  }

  test("identical docs have jaccard exactly 1.0") {
    val sh = Dedup.shingles(docs, "doc_id", "text", 5)
    val j = Dedup.jaccardVerify(Seq((1L, 2L)).toDF("a", "b"), sh, "doc_id")
      .select("jaccard").collect()(0).getDouble(0)
    assert(j == 1.0)
  }

  test("simhash: identical → hamming 0; near → small; distinct → large") {
    val hs = Dedup.simhash(docs, "doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(hs(1L) == hs(2L))
    assert(java.lang.Long.bitCount(hs(1L) ^ hs(3L)) <= 10)
    assert(java.lang.Long.bitCount(hs(1L) ^ hs(4L)) > 10)
    val pairs = Dedup.simhashNearDups(docs, "doc_id", "text", maxHamming = 3)
      .select("a", "b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)))
  }

  test("ngram jaccard near-dups: word-level 4-grams") {
    val pairs = Dedup.ngramJaccardNearDups(docs, "doc_id", "text",
        n = 4, threshold = 0.5)
      .select("a", "b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)))
    assert(pairs.contains((1L, 3L)))
    assert(!pairs.exists(p => p._2 == 4L))
  }

  test("skew guard: 1000 identical docs stay bounded, real pairs kept") {
    // A degenerate web-corpus bucket: 1,000 byte-identical boilerplate
    // docs share EVERY minhash band and every simhash band — uncapped,
    // candidate generation is ~500k pairs per band. The maxBucket guard
    // must (a) keep the run bounded and (b) not cost recall on the
    // non-degenerate near-dup pair that rides alongside.
    val boiler = spark.range(1000).select(($"id" + 100L).as("doc_id"),
      lit("lorem ipsum dolor sit amet consectetur adipiscing elit sed do eiusmod tempor").as("text"))
    val corpus = docs.unionByName(boiler)

    val mh = Dedup.minhashNearDups(corpus, "doc_id", "text",
        numHashes = 64, bands = 32, threshold = 0.5, maxBucket = 100)
      .select("a", "b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(mh.contains((1L, 2L)) && mh.contains((1L, 3L)))
    assert(!mh.exists(p => p._1 >= 100L && p._1 < 1100L)) // hot bucket dropped

    val sh = Dedup.simhashNearDups(corpus, "doc_id", "text",
        maxHamming = 3, maxBucket = 100)
      .select("a", "b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(sh.contains((1L, 2L)))
    assert(!sh.exists(p => p._1 >= 100L && p._1 < 1100L))

    val ng = Dedup.ngramJaccardNearDups(corpus, "doc_id", "text",
        n = 4, threshold = 0.5, maxBucket = 100)
      .select("a", "b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(ng.contains((1L, 2L)) && ng.contains((1L, 3L)))
    assert(!ng.exists(p => p._1 >= 100L && p._1 < 1100L))
  }

  test("connected components: chains converge past direct neighbors") {
    // chain 1-2-3-4 (diameter 3: label 1 must propagate through two
    // hops, proving the loop iterates past round one), plus a separate
    // pair and an out-of-order edge direction
    val pairs = Seq((2L, 1L), (2L, 3L), (3L, 4L), (10L, 11L))
      .toDF("a", "b")
    val comps = Dedup.connectedComponents(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(comps == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L))
  }

  test("dropNearDups keeps one representative and all singletons") {
    val pairs = Seq((1L, 2L), (2L, 3L)).toDF("a", "b")
    val kept = Dedup.dropNearDups(docs, pairs, "doc_id")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(1L, 4L, 5L)) // 2,3 fold into 1; 4,5 unpaired
  }

  test("dropNearDups with an empty pair table keeps every doc") {
    // exercises connectedComponents' empty-edges convergence (the
    // label-sum witness must terminate on the first round, not spin to
    // maxIter or NPE on the null sum of an empty frame)
    val pairs = Seq.empty[(Long, Long)].toDF("a", "b")
    val kept = Dedup.dropNearDups(docs, pairs, "doc_id")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(1L, 2L, 3L, 4L, 5L))
  }

  test("connectedComponents labels string-keyed graphs (non-numeric path)") {
    val pairs = Seq(("docB", "docA"), ("docB", "docC"), ("docX", "docY"))
      .toDF("a", "b")
    val comps = Dedup.connectedComponents(pairs)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(comps == Map("docA" -> "docA", "docB" -> "docA", "docC" -> "docA",
      "docX" -> "docX", "docY" -> "docX"))
  }

  test("embedding cosine near-dups via hyperplane LSH") {
    val vecs = Seq(
      (1L, Array(1.0f, 0.0f, 0.0f, 0.0f)),
      (2L, Array(0.99f, 0.01f, 0.0f, 0.0f)),  // ~same direction as 1
      (3L, Array(0.0f, 1.0f, 0.0f, 0.0f)),
      (4L, Array(-1.0f, 0.0f, 0.0f, 0.0f))
    ).toDF("vec_id", "embedding")
    val pairs = Similarity.cosineNearDups(vecs, "vec_id", "embedding", 0.99)
      .select("a", "b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((1L, 2L)))
  }

  test("cosine near-dups: multi-probe recovers 1-bit signature flips") {
    // Perturbed twins of 50 random-ish vectors: cosine ≈ 1 but a plane
    // whose projection sits near zero can flip between the twins. The
    // 1-bit multi-probe must reach 100% recall regardless — every
    // (i, i+1000) pair comes back at threshold 0.99.
    val base = spark.range(50).select($"id".as("vec_id"),
      expr("transform(sequence(0, 15), d -> " +
        "CAST(hash(id, d) % 1000 AS DOUBLE) / 250.0)").as("embedding"))
    val twins = base.select(($"vec_id" + 1000L).as("vec_id"),
      expr("transform(embedding, x -> x * 1.001 + 0.0005)").as("embedding"))
    val pairs = Similarity.cosineNearDups(base.unionByName(twins),
        "vec_id", "embedding", 0.99)
      .select("a", "b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    (0L until 50L).foreach { i => assert(pairs.contains((i, i + 1000L))) }
  }

  test("cross-corpus jaccard pairs + fuzzy decontamination") {
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again"),
      (2L, "completely different content about solar telemetry and boats"),
      (3L, "unrelated third document with its own words entirely here")
    ).toDF("doc_id", "text")
    // benchmark: doc 1 lightly edited (near-dup), plus an unrelated doc
    val bench = Seq(
      (100L, "the quick brown fox jumps over the lazy dog again and again extra"),
      (101L, "benchmark question about something else altogether now")
    ).toDF("doc_id", "text")
    val pairs = Dedup.crossJaccardNearDups(docs, bench, "doc_id", "text",
        n = 4, threshold = 0.5)
      .select("a", "b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs === Set((1L, 100L)))
    val clean = operators.TextAnalysis.fuzzyDecontaminate(
        docs, bench, "doc_id", "text", n = 4, threshold = 0.5)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(clean === Set(2L, 3L))
    spark.catalog.clearCache()
  }

  test("native minhash signature matches the aggregate form bit-for-bit") {
    // mixed content: repeated tokens (duplicate shingles), unicode,
    // single-char docs — the native per-row expression must reproduce
    // the 64 aggregate-buffer mins exactly
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog the quick brown"),
      (2L, "solar boat telemetry päneln ünïcode 電池 data"),
      (3L, "x"),
      (4L, "a b a b a b a b")
    ).toDF("doc_id", "text")
    for (wordGrams <- Seq(0, 2)) {
      val sh = if (wordGrams > 0) Dedup.wordShingles(docs, "doc_id", "text", wordGrams)
               else Dedup.shingles(docs, "doc_id", "text", 5)
      val viaAgg = Dedup.minhashSignatures(sh, "doc_id", 64)
        .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
      val arr = if (wordGrams > 0)
          docs.select(col("doc_id"),
            split(lower(trim(col("text"))), "\\s+").as("__tk"))
            .select(col("doc_id"), expr(
              s"transform(sequence(1, greatest(size(__tk)-${wordGrams - 1}, 1)), " +
                s"i -> concat_ws(' ', slice(__tk, i, $wordGrams)))").as("__sh"))
        else
          docs.select(col("doc_id"), lower(col("text")).as("__lt"))
            .select(col("doc_id"), expr(
              "transform(sequence(1, greatest(length(__lt)-4, 1)), " +
                "i -> substring(__lt, i, 5))").as("__sh"))
      val viaNative = arr.select(col("doc_id"),
          Dedup.minhashSignatureCol(col("__sh"), 64).as("sig"))
        .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
      assert(viaNative === viaAgg, s"wordGrams=$wordGrams")
    }
  }

  test("fused word-gram minhash matches shingle-array + MinhashSignature") {
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "  padded   text  "),
      (3L, "short"),
      (4L, "ünïcode 電池 bytes here")
    ).toDF("doc_id", "text")
    for (n <- Seq(2, 3)) {
      val toks = split(lower(trim(col("text"))), "\\s+")
      val viaTwoStep = docs.select(col("doc_id"), toks.as("__tk"))
        .select(col("doc_id"), expr(
          s"transform(sequence(1, greatest(size(__tk)-${n - 1}, 1)), " +
            s"i -> concat_ws(' ', slice(__tk, i, $n)))").as("__sh"))
        .select(col("doc_id"), Dedup.minhashSignatureCol(col("__sh"), 64).as("s"))
        .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
      val viaFused = docs.select(col("doc_id"),
          org.apache.spark.sql.GraftExpressionBridge.column(
            graft.expressions.MinhashWordGrams(
              org.apache.spark.sql.GraftExpressionBridge.expression(toks),
              n, 64)).as("s"))
        .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
      assert(viaFused === viaTwoStep, s"n=$n")
    }
  }

  test("native gram hashes match the transform/concat_ws/xxhash64 form") {
    val docs = Seq(
      (1L, "the quick brown fox jumps over"),
      (2L, "  padded   whitespace text  "),
      (3L, "short"),                     // fewer tokens than n → 1 gram
      (4L, "ünïcode 電池 bytes mixed in here")
    ).toDF("doc_id", "text")
    for (n <- Seq(2, 4, 8)) {
      val toks = split(lower(trim(col("text"))), "\\s+")
      val viaColumns = docs.select(col("doc_id"), toks.as("__tk"))
        .select(col("doc_id"), explode(expr(
          s"transform(sequence(1, greatest(size(__tk)-${n - 1}, 1)), " +
            s"i -> xxhash64(concat_ws(' ', slice(__tk, i, $n))))")).as("g"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
      val viaNative = docs.select(col("doc_id"),
          explode(Dedup.gramHashesCol(toks, n)).as("g"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
      assert(viaNative === viaColumns, s"n=$n")
    }
  }

  test("native md5 gram hashes match the transform+conv column form") {
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "  leading and  trailing   whitespace "), // tokenizer fold
      (3L, "short doc"),                             // < n tokens: ONE gram
      (4L, "päneln 電池 ünïcode tökens here"),        // multi-byte UTF-8
      (5L, "x")                                      // single token
    ).toDF("doc_id", "text")
    for (n <- Seq(2, 4)) {
      val toks = split(lower(trim(col("text"))), "\\s+")
      val viaColumns = docs.select(col("doc_id"), toks.as("__tk"))
        .select(col("doc_id"), explode(expr(
          s"transform(sequence(1, greatest(size(__tk)-${n - 1}, 1)), " +
            s"i -> cast(conv(substring(md5(concat_ws(' ', slice(__tk, i, " +
            s"$n))), 1, 15), 16, 10) as long))")).as("g"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
      val viaNative = docs.select(col("doc_id"),
          explode(org.apache.spark.sql.GraftExpressionBridge.column(
            graft.expressions.GramHashesMd5(
              org.apache.spark.sql.GraftExpressionBridge.expression(toks),
              n))).as("g"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
      assert(viaNative === viaColumns, s"n=$n")
    }
  }

  test("native rolling fingerprint matches the HOF fold bit-for-bit") {
    val docs = Seq(
      (1L, "  the quick  brown fox "), // whitespace-normalized fold
      (2L, "the quick brown fox"),     // must equal doc 1
      (3L, "fox brown quick the"),     // order-sensitive: must differ
      (4L, "päneln 電池 ünïcode")
    ).toDF("doc_id", "text")
    val viaHof = docs.select(col("doc_id"),
        operators.TextAnalysis.rollingFingerprint(col("text"),
          tokenHash = c => xxhash64(c)).as("fp"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val viaNative = docs.select(col("doc_id"),
        operators.TextAnalysis.rollingFingerprint(col("text")).as("fp"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(viaNative === viaHof)
    assert(viaNative(1L) == viaNative(2L))
    assert(viaNative(1L) != viaNative(3L))
  }

  test("native simhash matches the aggregate form bit-for-bit") {
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "the quick brown fox jumps over the lazy dog"), // identical
      (3L, "a b a b a b"), // duplicate tokens MUST vote per occurrence
      (4L, "päneln ünïcode 電池 mixed")
    ).toDF("doc_id", "text")
    // force the aggregate path with an explicitly-passed default-equal
    // hash (a fresh lambda is not `eq` DefaultTokenHash)
    val viaAgg = Dedup.simhash(docs, "doc_id", "text",
        tokenHash = c => xxhash64(c))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val viaNative = Dedup.simhash(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(viaNative === viaAgg)
    assert(viaNative(1L) == viaNative(2L))
  }

  test("exact dedup: null order keys sort first, rows never dropped") {
    // min_by skips rows whose ORDERING expression is null — the
    // struct wrap must neutralize that (window parity: NULLS FIRST)
    val df = Seq[(java.lang.Long, String)](
      (null, "dup"), (5L, "dup"), (3L, "dup"), (7L, "solo"))
      .toDF("doc_id", "text")
    val kept = Dedup.exact(df, Seq("text"), "doc_id")
      .collect().map(r => r.getString(1) ->
        Option(r.get(0)).map(_.asInstanceOf[Long])).toMap
    assert(kept === Map("dup" -> None, "solo" -> Some(7L)))
  }

  test("connectedComponents: flat labels plan, loop blocks released") {
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("a", "b")
    val comps = Dedup.connectedComponents(pairs)
    val got = comps.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L))
    // the returned labels are FLAT (one LogicalRDD leaf): each round
    // checkpoints its labels, so round N's plan can never re-embed the
    // edges pipeline — the growth that OOM'd an 8 GB driver inside
    // explainString when the upstream was a deep rescue composition
    assert(comps.queryExecution.analyzed
      .collect { case p => p }.length == 1,
      s"labels plan not flat:\n${comps.queryExecution.analyzed}")
    // the loop invariants' storage is released eagerly: at most the
    // final labels' own RDD remains persisted (edge table + prior
    // rounds' labels are freed explicitly — Dataset.unpersist is a
    // no-op on checkpointed RDDs, so a leak here accumulates executor
    // storage across every dedup call in a session)
    val leaked = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(leaked.size <= 1, s"leaked persisted RDDs: $leaked")
  }

  test("native md5 simhash matches the aggregate form bit-for-bit") {
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "the quick brown fox jumps over the lazy dog"), // identical
      (3L, "a b a b a b"), // duplicate tokens MUST vote per occurrence
      (4L, "päneln ünïcode 電池 mixed"),
      (5L, "")
    ).toDF("doc_id", "text")
    // force the aggregate path with a fresh md5 lambda (not `eq`
    // Dedup.md5Hash60) — the SQL-recomputable reference semantics
    val viaAgg = Dedup.simhash(docs, "doc_id", "text",
        tokenHash = c => conv(substring(md5(c), 1, 15), 16, 10).cast("long"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // the stable-reference val takes the native projection
    val viaNative = Dedup.simhash(docs, "doc_id", "text",
        tokenHash = Dedup.md5Hash60)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(viaNative === viaAgg)
    assert(viaNative(1L) == viaNative(2L))
    // the scalar hash itself is value-identical to the SQL conv form
    val hashes = docs.filter(col("doc_id") === 1L)
      .select(explode(split(lower(col("text")), "\\s+")).as("tok"))
      .select(col("tok"), Dedup.md5Hash60(col("tok")).as("sqlh"))
      .collect()
    val jdk = java.security.MessageDigest.getInstance("MD5")
    hashes.foreach { r =>
      val viaJdk = graft.expressions.SimhashSignatureMd5.hash60(
        jdk, r.getString(0).getBytes("UTF-8"))
      assert(r.getLong(1) === viaJdk, s"token ${r.getString(0)}")
    }
  }

  test("containment mode catches embedded benchmark passages") {
    // a short eval item EMBEDDED in a long training doc: symmetric
    // Jaccard ≈ |passage grams| / |doc grams| ≈ 0, containment = 1.0
    val long = (1 to 60).map(i => s"w$i").mkString(" ")
    val docs = Seq(
      (1L, s"$long the secret benchmark answer is forty two $long"),
      (2L, "totally unrelated words nothing shared at all here friend")
    ).toDF("doc_id", "text")
    val bench = Seq((100L, "the secret benchmark answer is forty two"))
      .toDF("doc_id", "text")
    val jac = Dedup.crossJaccardNearDups(docs, bench, "doc_id", "text",
      n = 4, threshold = 0.5).count()
    assert(jac === 0L, "symmetric Jaccard misses the embedded passage")
    val cont = Dedup.crossJaccardNearDups(docs, bench, "doc_id", "text",
        n = 4, threshold = 0.8, containment = true)
      .collect()
    assert(cont.length === 1)
    assert(cont(0).getLong(0) === 1L && cont(0).getLong(1) === 100L)
    assert(cont(0).getDouble(2) === 1.0) // every benchmark gram is in doc 1
    val clean = operators.TextAnalysis.fuzzyDecontaminate(
        docs, bench, "doc_id", "text", n = 4, threshold = 0.8,
        containment = true)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(clean === Set(2L))
    spark.catalog.clearCache()
  }

  test("fuzzy decontamination: an identical-copy flood cannot swamp the guard") {
    // 200 identical copies of a contaminated doc + 1 clean doc, with
    // the default maxBucket = 50: ungated, the flood blows every gram
    // bucket and ALL contaminated copies would be admitted. The
    // exact-dup collapse scores one representative and the whole flood
    // must drop.
    val bench = Seq((9000L, "a b c d e f g h i j")).toDF("doc_id", "text")
    val docs = ((0L until 200L).map(i =>
      (i, "a b c d e f g h x y")) :+          // 8/12 vs bench ≥ 0.5
      (500L, "zz yy xx ww vv uu tt ss rr qq") // clean, must survive
    ).toDF("doc_id", "text")
    val clean = operators.TextAnalysis.fuzzyDecontaminate(
        docs, bench, "doc_id", "text", n = 1, threshold = 0.5)
      .select("doc_id").as[Long].collect().sorted
    assert(clean.toSeq == Seq(500L), s"kept ${clean.toSeq}")
    spark.catalog.clearCache()
  }

  test("incremental dedup: a within-batch identical flood cannot swamp the guard") {
    // 200 identical new docs + 1 doc matching the index + 1 fresh doc,
    // with maxBucket = 50: ungated, the flood blows every bucket on
    // both the within-batch and cross-index joins and ALL copies would
    // be admitted. The exact-dup collapse must admit exactly one flood
    // representative and the fresh doc, and still drop the index hit.
    val old = Seq((100L, "a b c d e f g h i j")).toDF("doc_id", "text")
    val flood = (0L until 200L).map(i =>
      (i, "m n o p q r s t u v"))            // novel content, 200 copies
    val batch = (flood :+
      (500L, "a b c d e f g h x y") :+        // 8/12 vs old → index hit
      (501L, "zz yy xx ww vv uu tt ss rr qq") // fresh, must survive
    ).toDF("doc_id", "text")
    val idx = Dedup.buildNgramIndex(old, "doc_id", "text", n = 1)
    idx.grams.persist()
    val kept = Dedup.incrementalDropNearDups(idx, batch, "text",
        threshold = 0.5, maxBucket = 50)
      .select("doc_id").as[Long].collect().sorted
    assert(kept.toSeq == Seq(0L, 501L), s"kept ${kept.toSeq}")
    idx.grams.unpersist()
  }

  test("incremental dedup: chains through the batch to the index drop") {
    // unigram Jaccard, hand-sized overlaps:
    //   old     = {a..j}
    //   new1    = {a..h, x, y}      → vs old 8/12 ≈ 0.67 ≥ 0.5 (index hit)
    //   new2    = {c..h, x, y, u, v}→ vs new1 8/12 ≥ 0.5, vs old 6/14 < 0.5
    //   new3    = {p..?}            → unrelated, must survive
    // new2 never matches the index itself, but its within-batch chain
    // reaches new1 which does — the whole component is tainted, so the
    // one-shot global decision (only `old` survives) is preserved.
    val old = Seq((100L, "a b c d e f g h i j")).toDF("doc_id", "text")
    val batch = Seq(
      (1L, "a b c d e f g h x y"),
      (2L, "c d e f g h x y u v"),
      (3L, "p q r s t u1 v1 w1 z1 k1")
    ).toDF("doc_id", "text")
    val idx = Dedup.buildNgramIndex(old, "doc_id", "text", n = 1)
    idx.grams.persist()
    val kept = Dedup.incrementalDropNearDups(idx, batch, "text",
        threshold = 0.5)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(3L), s"kept $kept")
    // admitting the survivors and re-checking a later batch: a dup of
    // the NEWLY accepted doc 3 must now drop against the grown index
    val idx2 = Dedup.appendToIndex(idx,
      batch.filter($"doc_id" === 3L), "text")
    idx2.grams.persist()
    val batch2 = Seq(
      (10L, "p q r s t u1 v1 w1 z1 zz"),   // near-dup of accepted 3
      (11L, "totally fresh words nothing shared here at all ok fine")
    ).toDF("doc_id", "text")
    val kept2 = Dedup.incrementalDropNearDups(idx2, batch2, "text",
        threshold = 0.5)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept2 == Set(11L), s"kept2 $kept2")
    idx.grams.unpersist(); idx2.grams.unpersist()
  }

  test("cosine near-dups: hot bucket capped, pairs elsewhere kept") {
    // 500 identical vectors share every probe bucket — uncapped that is
    // ~125k candidate pairs. With maxBucket they are dropped while a
    // distinct near-dup pair in another bucket region survives.
    val boiler = spark.range(500).select(($"id" + 100L).as("vec_id"),
      expr("array(1.0D, 2.0D, 3.0D, 4.0D)").as("embedding"))
    val real = Seq(
      (1L, Array(-1.0, 0.5, -0.25, 0.125)),
      (2L, Array(-1.001, 0.5005, -0.2502, 0.1251))).toDF("vec_id", "embedding")
    val pairs = Similarity.cosineNearDups(boiler.unionByName(real),
        "vec_id", "embedding", 0.999, maxBucket = 100)
      .select("a", "b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)))
    assert(!pairs.exists(p => p._1 >= 100L))
    // rescueHot: the identical-vector flood collapses to rep 100 and
    // every copy attaches via a verified star pair — full recall with
    // the guard still ON, and the distinct near-dup pair still found
    val rescued = Similarity.cosineNearDups(boiler.unionByName(real),
        "vec_id", "embedding", 0.999, maxBucket = 100, rescueHot = true)
    val kept = Dedup.dropNearDups(boiler.unionByName(real), rescued, "vec_id")
      .select("vec_id").as[Long].collect().sorted
    assert(kept.toSeq == Seq(1L, 100L), s"got ${kept.toSeq}")
  }

  test("exact-index takedown: durable ledger re-admits copies; purge moves cost, not decisions") {
    val corpus = (0L until 300L).map(i => (i, s"takedown corpus doc $i"))
      .toDF("doc_id", "text")
    val idx = Dedup.buildExactIndex(corpus, "text", expectedItems = 1000L,
      numBits = 1L << 14, shards = 2)
    val dir = java.nio.file.Files.createTempDirectory("exact_td").toString
    Dedup.writeExactIndexBucketed(idx, "exact_td_spec", s"$dir/idx",
      numBuckets = 2)
    val batch = Seq(
      (9000L, "takedown corpus doc 7"),   // copy of a tombstoned doc
      (9001L, "takedown corpus doc 8"),   // copy of a kept doc
      (9002L, "entirely novel doc")).toDF("doc_id", "text")
    def kept(ix: Dedup.ExactIndex): Seq[Long] =
      Dedup.incrementalDropExactDups(ix, batch, "doc_id", "text")
        .select("doc_id").as[Long].collect().sorted.toSeq
    assert(kept(Dedup.readExactIndexLive(spark, "exact_td_spec",
      s"$dir/idx")) == Seq(9002L), "no takedowns filed yet")
    // idempotent ledger (a crashed half-applied batch re-runs)
    Dedup.tombstoneExactIndex(spark, "exact_td_spec",
      Seq(Tuple1("takedown corpus doc 7")).toDF("text"), "text")
    Dedup.tombstoneExactIndex(spark, "exact_td_spec",
      Seq(Tuple1("takedown corpus doc 7")).toDF("text"), "text")
    assert(graft.sources.Generations.readLedger(spark, "exact_td_spec_tombstones")
      .get._2.count() == 1L)
    val live = Dedup.readExactIndexLive(spark, "exact_td_spec", s"$dir/idx")
    assert(kept(live) == Seq(9000L, 9002L),
      "a copy of the tombstoned doc must re-admit immediately")
    // the Bloom still says "maybe" for the removed text (stale
    // positive — cost, not correctness); compaction purges it
    assert(live.hashes.count() == 299L)
    val purged = Dedup.compactExactIndex(live, 1000L, 1L << 14, 2)
    assert(kept(purged) == Seq(9000L, 9002L),
      "the purge must not move any decision")
    val stale = Seq(Tuple1("takedown corpus doc 7")).toDF("text")
      .select(Dedup.mightContainIndexCol(purged,
        xxhash64(col("text"))).as("p"))
      .collect()(0).getBoolean(0)
    assert(!stale,
      "the re-sketched Bloom must forget the purged text " +
        "(deterministic fixture: a collision here would be permanent — " +
        "re-word the planted text)")
  }

  test("ngram-index takedown: durable ledger untaints near-copies; chain taint still drops") {
    val corpus = Seq(
      (2L, "alpha beta gamma delta epsilon zeta"),
      (4L, "one two three four five six seven")).toDF("doc_id", "text")
    val idx = Dedup.buildNgramIndex(corpus, "doc_id", "text", n = 4)
    Dedup.writeNgramIndexBucketed(idx, "ngram_td_spec", numBuckets = 2)
    val batch = Seq(
      // near-copy of doc 2 (to be tombstoned) + a chained neighbor:
      // the chain must drop pre (tainted via 101) and admit ONE rep post
      (101L, "alpha beta gamma delta epsilon zeta eta"),
      (102L, "alpha beta gamma delta epsilon zeta eta theta"),
      // near-copy of the KEPT doc 4 — drops in both worlds
      (103L, "one two three four five six seven eight"),
      (104L, "completely unrelated novel words here entirely"))
      .toDF("doc_id", "text")
    def kept(ix: Dedup.NgramIndex): Seq[Long] =
      Dedup.incrementalDropNearDups(ix, batch, "text", threshold = 0.5)
        .select("doc_id").as[Long].collect().sorted.toSeq
    assert(kept(Dedup.readNgramIndexLive(spark, "ngram_td_spec",
      "doc_id", 4)) == Seq(104L), "everything near-matched drops pre")
    Dedup.tombstoneNgramIndex(spark, "ngram_td_spec",
      Seq(2L).toDF("doc_id"))
    Dedup.tombstoneNgramIndex(spark, "ngram_td_spec",
      Seq(2L).toDF("doc_id")) // idempotent re-run
    assert(graft.sources.Generations.readLedger(spark, "ngram_td_spec_tombstones")
      .get._2.count() == 1L)
    val live = Dedup.readNgramIndexLive(spark, "ngram_td_spec",
      "doc_id", 4)
    assert(kept(live) == Seq(101L, 104L),
      "the untainted component re-admits exactly its min-id rep")
  }

  test("tombstoneFromHammingMembers: removed ids leave every member array; emptied buckets drop; empty takedown is a no-op") {
    val sigs: Seq[(Long, java.lang.Long)] = Seq(
      (10L, 0x5A5A5A5A5A5A5A5AL), (20L, 0x5A5A5A5A5A5A5A5BL),
      (30L, 0x0123456789ABCDEFL))
    val members = Dedup.hammingBandMembers(sigs.toDF("ref_id", "sig"),
      "ref_id", "sig", maxHamming = 3)
    def idsIn(m: org.apache.spark.sql.DataFrame): Set[Long] =
      m.select(explode(col("members")).as("m"))
        .select(col("m.neighbor_id")).as[Long].collect().toSet
    assert(idsIn(members) == Set(10L, 20L, 30L))
    val live = Dedup.tombstoneFromHammingMembers(members,
      Seq(30L).toDF("media_id"))
    assert(idsIn(live) == Set(10L, 20L),
      "the removed id must leave every member array")
    // ref 30 shares no band hash with 10/20 (distant signature), so
    // its buckets empty out and must DROP rather than linger as
    // zero-member rows a stream-side broadcast would still carry
    assert(live.filter(size(col("members")) === 0).count() == 0L)
    assert(live.count() < members.count(),
      "emptied buckets must drop from the member table")
    val noop = Dedup.tombstoneFromHammingMembers(members,
      spark.emptyDataFrame.select(lit(0L).as("media_id")).limit(0))
    assert(idsIn(noop) == Set(10L, 20L, 30L),
      "an empty takedown list must change nothing")
  }

  test("durable hamming members: write/read parity, ledgered takedown, compaction purges and flips the epoch") {
    val base = 0x5A5A5A5A5A5A5A5AL
    def flip(s: Long, bits: Seq[Int]): Long =
      bits.foldLeft(s)((x, b) => x ^ (1L << b))
    val sigs: Seq[(Long, java.lang.Long)] = Seq(
      (10L, base), (20L, flip(base, Seq(0))),
      (30L, 0x0123456789ABCDEFL))
    val members = Dedup.hammingBandMembers(sigs.toDF("ref_id", "sig"),
      "ref_id", "sig", maxHamming = 3)
    Dedup.writeHammingMembers(spark, members, "hm_spec")
    def idsIn(m: org.apache.spark.sql.DataFrame): Set[Long] =
      m.select(explode(col("members")).as("m"))
        .select(col("m.neighbor_id")).as[Long].collect().toSet
    // reopened table serves the identical bucket map
    val reopened = Dedup.readHammingMembers(spark, "hm_spec")
    assert(reopened.collect().toSet == members.collect().toSet)
    // ledgered takedown: removed id leaves the live view immediately;
    // idempotent re-file converges
    Dedup.tombstoneHammingMembers(spark, "hm_spec", Seq(30L).toDF("id"))
    Dedup.tombstoneHammingMembers(spark, "hm_spec", Seq(30L).toDF("id"))
    assert(idsIn(Dedup.readHammingMembersLive(spark, "hm_spec"))
      == Set(10L, 20L))
    // compaction: physical purge from the members table's own
    // distinct signatures (no external corpus), A/B flip, fresh
    // epoch, ledger cleared
    val epochBefore = spark.table("hm_spec_meta").collect()(0).getString(0)
    Dedup.compactHammingMembers(spark, "hm_spec", maxHamming = 3)
    val metaAfter = spark.table("hm_spec_meta").collect()(0)
    assert(metaAfter.getString(0) != epochBefore, "epoch must advance")
    assert(metaAfter.getString(1) == "hm_spec_members_b",
      "the generation pointer must flip")
    assert(!spark.catalog.tableExists("hm_spec_members"),
      "the superseded generation drops")
    assert(graft.sources.Generations.readLedger(spark, "hm_spec_tombstones")
      .isEmpty, "the ledger clears once deletes are physical")
    val compacted = Dedup.readHammingMembers(spark, "hm_spec")
    assert(idsIn(compacted) == Set(10L, 20L),
      "the purged signature must not re-band")
    assert(compacted.collect().toSet ==
      Dedup.hammingBandMembers(
          sigs.filter(_._1 != 30L).toDF("ref_id", "sig"),
          "ref_id", "sig", maxHamming = 3).collect().toSet,
      "compacted table ≡ a fresh build on the purged reference set")
    // torn window: wiping the live generation's epoch token refuses
    graft.sources.Generations.clearEpochTokens(spark, "hm_spec_members_b")
    assert(intercept[IllegalArgumentException] {
      Dedup.readHammingMembers(spark, "hm_spec")
    }.getMessage.contains("epoch token"))
  }

  test("hammingNearDups: pigeonhole banding is exact-recall at the threshold; nulls never match") {
    val base = 0x0F0F0F0F0F0F0F0FL
    def flip(s: Long, bits: Seq[Int]): Long =
      bits.foldLeft(s)((x, b) => x ^ (1L << b))
    // distances planted to STRESS the banding: id 3's three flips
    // land in three different bands (bits 63/32/5), so only the
    // pigeonhole guarantee — not luck — finds (1, 3); id 4 sits just
    // over the threshold and must NOT pair with 1
    val sigs: Seq[(Long, java.lang.Long)] = Seq(
      (1L, base), (2L, flip(base, Seq(0))),
      (3L, flip(base, Seq(63, 32, 5))),
      (4L, flip(base, Seq(1, 2, 3, 4))),
      (5L, 0x0123456789ABCDEFL),
      (6L, null), (7L, null))
    val df = sigs.toDF("id", "sig")
    val got = Dedup.hammingNearDups(df, "id", "sig", maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    // brute-force truth over the non-null signatures
    val vals = sigs.filter(_._2 != null).map { case (i, s) => (i, s.longValue) }
    val want = (for {
      (a, sa) <- vals; (b, sb) <- vals if a < b
      d = java.lang.Long.bitCount(sa ^ sb) if d <= 3
    } yield (a, b, d)).toSet
    assert(got == want, s"got $got want $want")
    assert(want.contains((1L, 3L, 3)), "the cross-band pair must exist")
    assert(!want.exists(p => p._1 == 1L && p._2 == 4L))
    // the skew guard: an identical-signature flood is dropped under
    // the cap (quadratic otherwise), kept when the cap allows it
    val flood = (100L to 130L).map(i => (i, base)).toDF("id", "sig")
    assert(Dedup.hammingNearDups(flood, "id", "sig", maxHamming = 3,
      maxBucket = 10).count() == 0L)
    assert(Dedup.hammingNearDups(flood, "id", "sig", maxHamming = 3,
      maxBucket = 50).count() == 31L * 30L / 2L)
  }

  test("maintainExactIndex: fpp drift fires and the resized geometry recovers; purge debt purges; quiet no-op leaves meta bit-identical") {
    val corpus = (0L until 400L).map(i => (i, s"maintain corpus doc $i"))
      .toDF("doc_id", "text")
    // deliberately starved geometry (400 texts into 256 bits/shard,
    // k=11) — est fpp ≈ 1, the drift signal MUST fire
    val root = java.nio.file.Files.createTempDirectory("exact_maint")
      .toString
    Dedup.writeExactIndexRooted(spark, "exact_maint", s"$root/idx",
      Dedup.buildExactIndex(corpus, "text", expectedItems = 16L,
        numBits = 256L, shards = 2),
      numBuckets = 2)
    val r1 = Dedup.maintainExactIndex(spark, "exact_maint", s"$root/idx",
      maxFpp = 0.05, targetFpp = 0.01, numBuckets = 2).collect()(0)
    assert(r1.getAs[Boolean]("fpp_fired"), "starved geometry must fire")
    assert(!r1.getAs[Boolean]("purge_fired"))
    assert(r1.getAs[Boolean]("gen_changed"))
    assert(r1.getAs[Double]("pre_worst_fpp") > 0.5)
    assert(r1.getAs[Double]("post_worst_fpp") <= 0.05,
      "the optimalNumOfBits re-size must bring fpp under the target")
    assert(spark.table("exact_maint_meta").collect()(0).getString(0)
      == "b", "generation a -> b")
    val batch = Seq((9000L, "maintain corpus doc 7"),
      (9001L, "entirely novel text")).toDF("doc_id", "text")
    def kept(): Seq[Long] = Dedup.incrementalDropExactDups(
        Dedup.readExactIndexRootedLive(spark, "exact_maint"),
        batch, "doc_id", "text")
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(kept() == Seq(9001L), "decisions unchanged through the resize")
    // quiet window: true no-op, meta row bit-identical
    val metaBefore = spark.table("exact_maint_meta").collect()(0)
    val r2 = Dedup.maintainExactIndex(spark, "exact_maint", s"$root/idx",
      maxFpp = 0.05, numBuckets = 2).collect()(0)
    assert(!r2.getAs[Boolean]("fpp_fired")
      && !r2.getAs[Boolean]("purge_fired")
      && !r2.getAs[Boolean]("gen_changed"))
    assert(spark.table("exact_maint_meta").collect()(0) == metaBefore)
    // purge debt: the filed takedown fires the window, copies
    // re-admit, the ledger clears, the generation flips back b -> a
    Dedup.tombstoneExactIndex(spark, "exact_maint",
      Seq(Tuple1("maintain corpus doc 7")).toDF("text"), "text")
    assert(kept() == Seq(9000L, 9001L), "logical delete re-admits")
    val r3 = Dedup.maintainExactIndex(spark, "exact_maint", s"$root/idx",
      maxFpp = 0.05, numBuckets = 2).collect()(0)
    assert(r3.getAs[Boolean]("purge_fired")
      && r3.getAs[Long]("pending_tombstones") == 1L
      && r3.getAs[Long]("post_pending") == 0L
      && r3.getAs[Boolean]("gen_changed"))
    assert(spark.table("exact_maint_meta").collect()(0).getString(0)
      == "a", "generation b -> a")
    assert(kept() == Seq(9000L, 9001L),
      "physical purge must not move any decision")
    assert(graft.sources.Generations.readLedger(spark,
      "exact_maint_tombstones").isEmpty, "ledger clears after the purge")
    val stale = Seq(Tuple1("maintain corpus doc 7")).toDF("text")
      .select(Dedup.mightContainIndexCol(
        Dedup.readExactIndexRooted(spark, "exact_maint"),
        xxhash64(col("text"))).as("p"))
      .collect()(0).getBoolean(0)
    assert(!stale, "the re-sketched Bloom must forget the purged text")
  }

  test("maintainNgramIndex: purge debt rewrites a ledger-free generation with decisions held; quiet no-op leaves meta bit-identical") {
    val corpus = Seq(
      (2L, "alpha beta gamma delta epsilon zeta"),
      (4L, "one two three four five six seven")).toDF("doc_id", "text")
    Dedup.writeNgramIndexRooted(spark, "ngram_maint",
      Dedup.buildNgramIndex(corpus, "doc_id", "text", n = 4),
      numBuckets = 2)
    val batch = Seq(
      (101L, "alpha beta gamma delta epsilon zeta eta"),
      (103L, "one two three four five six seven eight"),
      (104L, "completely unrelated novel words here entirely"))
      .toDF("doc_id", "text")
    def kept(): Seq[Long] = Dedup.incrementalDropNearDups(
        Dedup.readNgramIndexRootedLive(spark, "ngram_maint", "doc_id", 4),
        batch, "text", threshold = 0.5)
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(kept() == Seq(104L))
    // quiet window first: nothing pending, true no-op
    val metaBefore = spark.table("ngram_maint_meta").collect()(0)
    val r0 = Dedup.maintainNgramIndex(spark, "ngram_maint", "doc_id",
      n = 4, numBuckets = 2).collect()(0)
    assert(!r0.getAs[Boolean]("fired")
      && !r0.getAs[Boolean]("gen_changed"))
    assert(spark.table("ngram_maint_meta").collect()(0) == metaBefore)
    // filed takedown: logical untaint immediately, then the window
    // purges physically and decisions hold
    Dedup.tombstoneNgramIndex(spark, "ngram_maint", Seq(2L).toDF("doc_id"))
    assert(kept() == Seq(101L, 104L))
    val r1 = Dedup.maintainNgramIndex(spark, "ngram_maint", "doc_id",
      n = 4, numBuckets = 2).collect()(0)
    assert(r1.getAs[Boolean]("fired")
      && r1.getAs[Long]("pending_tombstones") == 1L
      && r1.getAs[Long]("post_pending") == 0L
      && r1.getAs[Boolean]("gen_changed"))
    assert(spark.table("ngram_maint_meta").collect()(0).getString(0)
      == "b", "generation a -> b")
    assert(kept() == Seq(101L, 104L),
      "physical purge must not move any decision")
    assert(Dedup.readNgramIndexRooted(spark, "ngram_maint", "doc_id", 4)
      .grams.filter($"doc_id" === 2L).count() == 0L,
      "the purged generation carries no grams of the removed doc")
    assert(!spark.catalog.tableExists("ngram_maint_grams_a"),
      "the superseded generation drops")
    assert(graft.sources.Generations.readLedger(spark,
      "ngram_maint_tombstones").isEmpty)
  }

  test("maintainHammingMembers: purge debt compacts through the one call; quiet no-op leaves meta bit-identical") {
    val sigs: Seq[(Long, java.lang.Long)] = Seq(
      (10L, 0x5A5A5A5A5A5A5A5AL), (20L, 0x5A5A5A5A5A5A5A5BL),
      (30L, 0x0123456789ABCDEFL))
    Dedup.writeHammingMembers(spark,
      Dedup.hammingBandMembers(sigs.toDF("ref_id", "sig"),
        "ref_id", "sig", maxHamming = 3),
      "hm_maint")
    def idsIn(m: org.apache.spark.sql.DataFrame): Set[Long] =
      m.select(explode(col("members")).as("m"))
        .select(col("m.neighbor_id")).as[Long].collect().toSet
    val metaBefore = spark.table("hm_maint_meta").collect()(0)
    val r0 = Dedup.maintainHammingMembers(spark, "hm_maint",
      maxHamming = 3).collect()(0)
    assert(!r0.getAs[Boolean]("fired")
      && !r0.getAs[Boolean]("gen_changed"))
    assert(spark.table("hm_maint_meta").collect()(0) == metaBefore)
    Dedup.tombstoneHammingMembers(spark, "hm_maint", Seq(30L).toDF("id"))
    val r1 = Dedup.maintainHammingMembers(spark, "hm_maint",
      maxHamming = 3).collect()(0)
    assert(r1.getAs[Boolean]("fired")
      && r1.getAs[Long]("pending_tombstones") == 1L
      && r1.getAs[Long]("post_pending") == 0L
      && r1.getAs[Boolean]("gen_changed"))
    assert(idsIn(Dedup.readHammingMembers(spark, "hm_maint"))
      == Set(10L, 20L), "the purged id must not re-band")
    assert(graft.sources.Generations.readLedger(spark,
      "hm_maint_tombstones").isEmpty)
  }

  test("banded-signature index: relational probe ≡ broadcast members, takedown flips, purge window, torn refusal") {
    import org.apache.spark.sql.functions._
    val base = 0x5A5A5A5A5A5A5A5AL
    val refs = Seq(
      (1L, base), (2L, base ^ 0xFFL), (3L, 0x0123456789ABCDEFL))
      .toDF("media_id", "sig")
    graft.sources.Generations.clearLedger(spark, "bsi_tombstones")
    Dedup.writeHammingBandIndexRooted(spark, "bsi", refs, "media_id",
      "sig", maxHamming = 2, numBuckets = 4)
    val (mh, rows) = Dedup.readHammingBandIndexRootedLive(spark, "bsi")
    assert(mh == 2, "the banded threshold must ride the index meta")
    val batch = Seq(
      (101L, Some(base ^ 1L)),              // hamming 1 of ref 1
      (102L, Some(base ^ 0xFFL)),           // exact copy of ref 2
      (103L, Some(0x7777777777777777L)),    // novel
      (104L, None: Option[Long]))           // null sig → admit
      .toDF("media_id", "sig")
    def decisions(out: org.apache.spark.sql.DataFrame)
        : Map[Long, (Boolean, Option[Long], Option[Int])] =
      out.select("media_id", "admitted", "match_id", "match_hamming")
        .collect().map(r => r.getLong(0) -> ((r.getBoolean(1),
          if (r.isNullAt(2)) None else Some(r.getLong(2)),
          if (r.isNullAt(3)) None else Some(r.getInt(3))))).toMap
    val rel = decisions(
      Dedup.searchHammingBandIndex(rows, mh, batch, "media_id", "sig"))
    assert(rel(101L) == (false, Some(1L), Some(1)), s"${rel(101L)}")
    assert(rel(102L) == (false, Some(2L), Some(0)), s"${rel(102L)}")
    assert(rel(103L) == (true, None, None))
    assert(rel(104L) == (true, None, None), "null signature must admit")
    // parity: the broadcast members face makes the same decisions
    val members = Dedup.hammingBandMembers(refs, "media_id", "sig",
      maxHamming = 2)
    val bc = decisions(graft.streaming.StreamingParse
      .hammingAdmissionStream(batch, "media_id", "sig", members, 2))
    assert(bc == rel,
      "relational and broadcast faces must make identical decisions")
    // takedown flips at the next read; untouched members hold
    Dedup.tombstoneHammingBandIndex(spark, "bsi",
      Seq(1L).toDF("media_id"))
    val (_, liveRows) = Dedup.readHammingBandIndexRootedLive(spark, "bsi")
    val live = decisions(
      Dedup.searchHammingBandIndex(liveRows, mh, batch, "media_id", "sig"))
    assert(live(101L) == (true, None, None),
      s"takedown must admit ref 1's look-alike: ${live(101L)}")
    assert(live(102L) == rel(102L) && live(103L) == rel(103L))
    // purge window: fires on debt, flips the generation, clears the
    // ledger; decisions unchanged from the live view
    val purge = Dedup.purgeHammingBandIndex(spark, "bsi",
      numBuckets = 4).collect()(0)
    assert(purge.getLong(0) == 1L && purge.getBoolean(1) &&
      purge.getLong(2) == 0L && purge.getBoolean(3), s"$purge")
    assert(spark.table("bsi_meta").collect()(0)
      .getAs[String]("gen") == "b")
    assert(!spark.catalog.tableExists("bsi_bands_a"),
      "the superseded generation must drop after the purge flip")
    val (mh2, purgedRows) = Dedup.readHammingBandIndexRootedLive(spark, "bsi")
    assert(decisions(Dedup.searchHammingBandIndex(purgedRows, mh2,
      batch, "media_id", "sig")) == live,
      "physical purge must not move any decision")
    // quiet window: no debt → meta untouched bit-for-bit
    val metaBefore = spark.table("bsi_meta").collect().toSeq
    val quiet = Dedup.purgeHammingBandIndex(spark, "bsi",
      numBuckets = 4).collect()(0)
    assert(!quiet.getBoolean(1) && !quiet.getBoolean(3))
    assert(spark.table("bsi_meta").collect().toSeq == metaBefore,
      "a quiet window must not touch the commit record")
    // torn generation refuses at the rooted read
    graft.sources.Generations.clearEpochTokens(spark, "bsi_bands_b")
    assert(intercept[IllegalArgumentException] {
      Dedup.readHammingBandIndexRooted(spark, "bsi")
    }.getMessage.contains("epoch token"))
  }

  test("banded-signature index: O(new) append ≡ full rebuild, torn mid-append refuses") {
    import org.apache.spark.sql.functions._
    val rnd = new scala.util.Random(23)
    val base = (1L to 60L).map(i => (i, rnd.nextLong()))
      .toDF("media_id", "sig")
    val extra = (61L to 90L).map(i => (i, rnd.nextLong()))
      .toDF("media_id", "sig")
    graft.sources.Generations.clearLedger(spark, "bsa_tombstones")
    graft.sources.Generations.clearLedger(spark, "bsa_rb_tombstones")
    Dedup.writeHammingBandIndexRooted(spark, "bsa", base, "media_id",
      "sig", maxHamming = 3, numBuckets = 4)
    Dedup.appendToHammingBandIndexRooted(spark, "bsa", extra,
      "media_id", "sig")
    // the rebuilt-from-union control
    Dedup.writeHammingBandIndexRooted(spark, "bsa_rb",
      base.unionByName(extra), "media_id", "sig", maxHamming = 3,
      numBuckets = 4)
    // band rows identical set-wise (banding is data-oblivious)
    val (mhA, rowsA) = Dedup.readHammingBandIndexRootedLive(spark, "bsa")
    val (mhB, rowsB) = Dedup.readHammingBandIndexRootedLive(spark, "bsa_rb")
    assert(mhA == mhB)
    assert(rowsA.collect().toSet == rowsB.collect().toSet,
      "appended band rows must equal the full rebuild's")
    // and search decisions are identical — appended members serve
    val batch = ((1L to 5L) ++ (61L to 65L) ++ Seq(9001L))
      .map(i => (1000L + i, if (i == 9001L) rnd.nextLong()
        else { // exact copies of base/appended members
          val all = (base.collect() ++ extra.collect())
            .map(r => r.getLong(0) -> r.getLong(1)).toMap
          all(i)
        }))
      .toDF("media_id", "sig")
    def dec(rows: org.apache.spark.sql.DataFrame, mh: Int) =
      Dedup.searchHammingBandIndex(rows, mh, batch, "media_id", "sig")
        .select("media_id", "admitted", "match_id").collect()
        .map(r => (r.getLong(0), r.getBoolean(1),
          if (r.isNullAt(2)) 0L else r.getLong(2))).toSet
    assert(dec(rowsA, mhA) == dec(rowsB, mhB),
      "append and rebuild must make identical decisions (appended " +
        "members must serve)")
    // crash mid-append = poisoned epoch → loud refusal, never a
    // half-appended serve
    graft.sources.Generations.clearEpochTokens(spark, "bsa_bands_a")
    assert(intercept[IllegalArgumentException] {
      Dedup.readHammingBandIndexRooted(spark, "bsa")
    }.getMessage.contains("epoch token"))
  }

  test("merged one-action reopen: metaWithLedgerMeta ≡ readLedger + meta read, torn states still refuse") {
    import spark.implicits._
    // fixture: a 1-row index-style meta + a committed ledger
    graft.sources.Sinks.writeTable(
      Seq(("a", "mlm_idx_dir")).toDF("gen", "index_dir"), "mlm_meta")
    graft.sources.Generations.appendLedger(spark, "mlm_tombstones",
      spark.range(1, 10).select($"id".as("neighbor_id")))
    // values equal the sequential composition's
    val (meta, ledMeta) = graft.sources.Generations.metaWithLedgerMeta(spark,
      "mlm_meta", "mlm_tombstones")
    assert(meta == Map("gen" -> "a", "index_dir" -> "mlm_idx_dir"))
    val Some((gen, rows)) =
      graft.sources.Generations.readLedger(spark, "mlm_tombstones")
    assert(ledMeta.map(_._1).contains(gen),
      "merged read must resolve the same serving generation")
    val resolved = graft.sources.Generations.resolveLedgerGen(spark,
      "mlm_tombstones", ledMeta.get._1, ledMeta.get._2)
    assert(resolved.collect().map(_.getLong(0)).sorted.toSeq ==
      rows.collect().map(_.getLong(0)).sorted.toSeq)
    // absent ledger → None, one action, meta values intact
    val (meta2, led2) = graft.sources.Generations.metaWithLedgerMeta(spark,
      "mlm_meta", "mlm_nosuch")
    assert(meta2("gen") == "a" && led2.isEmpty)
    // torn ledger (generation table dropped under the meta) must
    // refuse exactly as readLedger does
    spark.sql(s"DROP TABLE mlm_tombstones_$gen")
    val (_, led3) = graft.sources.Generations.metaWithLedgerMeta(spark,
      "mlm_meta", "mlm_tombstones")
    assert(intercept[IllegalArgumentException] {
      graft.sources.Generations.resolveLedgerGen(spark, "mlm_tombstones",
        led3.get._1, led3.get._2)
    }.getMessage.contains("torn"))
  }
}
