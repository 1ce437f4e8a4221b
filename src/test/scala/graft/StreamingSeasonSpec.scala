package graft

import java.nio.file.Files
import graft.pipeline.Seasons
import graft.sources.{CanFixtures, CanSchema}
import graft.streaming.StreamingParse
import org.apache.spark.sql.functions.{col, size}

class StreamingSeasonSpec extends SparkSpec {

  test("streaming parse: file source → decode → memory sink (incremental)") {
    val dir = Files.createTempDirectory("stream")
    Files.write(dir.resolve("a.log"), Seq(
      "(1580415599.609366) can0 021#11E803110300",
      "(1580415600.109366) can0 021#11D00733FF00").mkString("\n").getBytes)
    val decoded = StreamingParse.decodedStream(spark, dir.toString,
      CanFixtures.schema)
    val q = decoded.writeStream.format("memory").queryName("can_stream")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      assert(spark.sql("select count(*) from can_stream").collect()(0).getLong(0) == 10)
      // a new file arrives → incremental batch picks it up
      Files.write(dir.resolve("b.log"),
        "(1580415601.000000) can0 021#110000000000".getBytes)
      q.processAllAvailable()
      assert(spark.sql("select count(*) from can_stream").collect()(0).getLong(0) == 15)
      val vals = spark.sql(
        "select byte_name, value from can_stream where timestamp = timestamp_micros(1580415599609366)")
        .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
      assert(vals("CURR") == 10.0)
    } finally q.stop()
  }

  test("streaming wide-schema decode keeps whole-stage codegen (no 64 KB fallback)") {
    // the round-9 batch guarantee, re-proved in the STREAMING
    // compilation context: MicroBatchExecution wraps and replans the
    // logical plan per trigger, so the batch probe (ParseStageSpec)
    // does not transfer — a regression could de-fuse only the stream's
    // generate stage. Same real 2020 schema, same execution-time
    // appender probe: no janino 64 KB CodeGenerator ERROR, and the
    // regex-generate stage must not appear in a disabled plan.
    val s20 = graft.sources.CanSchema.load(SeasonSchemas.path("2020"))
    val dir = Files.createTempDirectory("stream_cg")
    Files.write(dir.resolve("s.log"), (0 until 50).map { i =>
      f"(${1580515200L + i}%d.000000) can0 011#E4360F0000780216"
    }.mkString("\n").getBytes)
    val (errors, disabled) = CodegenProbe {
      val decoded = StreamingParse.decodedStream(spark, dir.toString, s20)
      val q = decoded.writeStream.format("memory").queryName("cg_stream")
        .outputMode("append").start()
      try {
        q.processAllAvailable()
        assert(spark.sql("select count(*) from cg_stream").head().getLong(0)
          == 50L * 5) // 5 decoded fields per MCC19_4 MEASUREMENTS frame
      } finally q.stop()
    }
    assert(errors.isEmpty,
      s"streaming wide-schema decode hit codegen fallback:\n${errors.headOption}")
    val defusedGenerate = disabled.filter(_.contains("Generate "))
    assert(defusedGenerate.isEmpty,
      "the streaming regex-generate stage de-fused:\n" +
        defusedGenerate.headOption.map(_.take(800)))
  }

  test("checkpoint restart: stop mid-corpus, resume, output equals batch exactly once") {
    // the S9 exactly-once claim behind the streaming parse variant
    // (lib/canparser.py:315-317's restart semantics, scaled): a
    // checkpointed file-source query is stopped after half the corpus,
    // RESTARTED from the same checkpoint with new files present, and
    // the parquet sink's union across both runs must equal one batch
    // decode of the whole corpus — files from run 1 are not reparsed
    // (no duplicates), files that arrived while down are not missed
    val dir = Files.createTempDirectory("stream_restart")
    val in = Files.createDirectory(dir.resolve("in"))
    val out = dir.resolve("out").toString
    val ckpt = dir.resolve("ckpt").toString
    def lines(base: Long, n: Int): String = (0 until n).map { i =>
      f"($base%d.${i * 1000}%06d) can0 021#11E803110300" }.mkString("\n")
    Files.write(in.resolve("a.log"), lines(1580415599L, 4).getBytes)
    Files.write(in.resolve("b.log"), lines(1580415600L, 3).getBytes)
    def runOnce(): Unit = {
      val decoded = StreamingParse.decodedStream(spark, in.toString,
        CanFixtures.schema)
      val q = decoded.writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", ckpt)
        .outputMode("append").start()
      try q.processAllAvailable() finally q.stop()
    }
    runOnce() // run 1: a.log + b.log
    // two more files land while the query is DOWN
    Files.write(in.resolve("c.log"), lines(1580415601L, 5).getBytes)
    Files.write(in.resolve("d.log"), lines(1580415602L, 2).getBytes)
    runOnce() // run 2: resumes from the checkpoint
    val got = spark.read.parquet(out)
      .select("timestamp", "module_name", "topic_name", "byte_name", "value")
      .collect().map(_.toString).sorted.toSeq
    // batch oracle over the full corpus (the framesFromLines +
    // decodeLong path the streaming variant mirrors)
    val batchLines = spark.read.text(
        Seq("a", "b", "c", "d").map(f => in.resolve(s"$f.log").toString): _*)
      .select(org.apache.spark.sql.functions.col("value").as("line"),
        org.apache.spark.sql.functions.input_file_name().as("file"))
    val want = graft.operators.CanDecode.decodeLong(
        graft.sources.Candump.framesFromLines(batchLines), CanFixtures.schema)
      .select("timestamp", "module_name", "topic_name", "byte_name", "value")
      .collect().map(_.toString).sorted.toSeq
    assert(got.nonEmpty && got == want,
      s"restart union (${got.size} rows) != batch oracle (${want.size} rows)")
  }

  test("checkpoint restart: watermark + aggregation state survive into correct bins") {
    // the STATEFUL face of the restart contract: an append-mode
    // windowed aggregate is stopped while a bin is still open in the
    // state store, restarted from the checkpoint, and later data must
    // flush that bin with the PRE-restart events aggregated in — so
    // offsets (no double-count), the watermark, and the partial
    // aggregate all provably round-trip the checkpoint
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val t0 = 1580515200000L
    def ev(minutes: Range) = minutes.map { i =>
      (new java.sql.Timestamp(t0 + i * 60000L), "a", 0.015 + i * 0.01)
    }.toDF("ts", "k", "v")
    val dir = Files.createTempDirectory("stream_state_restart")
    val in = Files.createDirectory(dir.resolve("in"))
    val out = dir.resolve("out").toString
    val ckpt = dir.resolve("ckpt").toString
    val schema = ev(0 until 1).schema
    // plain files with FORCED mtime order (the sentinel-spec pattern):
    // the file source processes oldest-first, and f1-before-f2 is
    // load-bearing — reversed, f1's rows would arrive behind the
    // watermark f2 set and be dropped as late data
    def addFile(df: org.apache.spark.sql.DataFrame, name: String,
                mtimeOffsetMs: Long): Unit = {
      val stage = dir.resolve(s"stage_$name")
      df.coalesce(1).write.parquet(stage.toString)
      import scala.jdk.CollectionConverters._
      val part = Files.list(stage).iterator().asScala
        .find(_.getFileName.toString.startsWith("part-")).get
      val dst = in.resolve(s"$name.snappy.parquet")
      Files.move(part, dst)
      Files.setLastModifiedTime(dst, java.nio.file.attribute.FileTime
        .fromMillis(System.currentTimeMillis() + mtimeOffsetMs))
    }
    addFile(ev(0 until 60), "f1", -3000L)
    addFile(ev(60 until 90), "f2", -2000L)
    def runOnce(): Unit = {
      val stream = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1).parquet(in.toString)
      val q = StreamingParse.resampleEventsStream(stream, "ts", 3600,
          Seq("k"), "v", watermark = "1 second")
        .writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", ckpt)
        .outputMode("append").start()
      try q.processAllAvailable() finally q.stop()
    }
    runOnce() // bin 1 flushes; bin 2 (f2's 30 rows) stays in STATE
    val afterRun1 = spark.read.parquet(out).count()
    assert(afterRun1 == 1L, s"run 1 should flush only bin 1, got $afterRun1")
    // hour-3 data lands while the query is down; the restart's
    // watermark advance must flush bin 2 from the RESTORED state
    addFile(ev(120 until 150), "f3", 0L)
    runOnce()
    val got = spark.read.parquet(out)
      .select("k", "bucket_ts", "sum_value", "n", "mean_value")
      .orderBy("bucket_ts").collect().map(_.toString).toSeq
    val want = graft.operators.TimeSeries.resampleAgg(
        ev(0 until 90), "ts", 3600L, Seq("k"), "v")
      .select(col("k"), col("bucket_ts"), col("sum_value"), col("n"),
        col("mean_value"))
      .orderBy("bucket_ts").collect().map(_.toString).toSeq
    assert(got.size == 2, s"bins 1+2 flushed, bin 3 open: $got")
    assert(got == want,
      s"restored-state bins must equal the batch aggregate:\n$got\nvs\n$want")
  }

  test("streaming resample: watermarked tumbling mean per signal") {
    val dir = Files.createTempDirectory("stream2")
    Files.write(dir.resolve("a.log"), Seq(
      "(1580415599.000000) can0 021#11E803110300",
      "(1580415599.500000) can0 021#11D00733FF00").mkString("\n").getBytes)
    val agg = StreamingParse.resampleStream(
      StreamingParse.decodedStream(spark, dir.toString, CanFixtures.schema), 1L)
    val q = agg.writeStream.format("memory").queryName("can_bins")
      .outputMode("complete").start()
    try {
      q.processAllAvailable()
      val rows = spark.sql(
        "select signal, mean_value, n from can_bins where signal = 'MOD17__SENSOR__CURR'")
        .collect()
      assert(rows.length == 1)
      assert(rows(0).getDouble(1) == 15.0 && rows(0).getLong(2) == 2)
    } finally q.stop()
  }

  test("resampleEventsStream: streamed bins equal the batch resampleAgg") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // 2 keys × 90 minutes of events → two 1 h bins per key, fractional
    // means (sum-rounding parity matters, not just integer luck)
    val ev = (0 until 180).map { i =>
      (new java.sql.Timestamp(1580515200000L + (i % 90) * 60000L),
        if (i < 90) "a" else "b", 0.015 + i * 0.01)
    }.toDF("ts", "k", "v")
    val dir = Files.createTempDirectory("stream_resample_parity")
    ev.repartition(3).write.parquet(dir.resolve("in").toString)
    val stream = spark.readStream.schema(ev.schema)
      .option("maxFilesPerTrigger", 1).parquet(dir.resolve("in").toString)
    // complete mode: every bin emits regardless of watermark, so the
    // parity check needs no sentinel mechanics (q77 gates the
    // append-mode flush path end-to-end against DuckDB)
    val q = StreamingParse.resampleEventsStream(stream, "ts", 3600,
        Seq("k"), "v")
      .writeStream.format("memory").queryName("resample_parity")
      .outputMode("complete").start()
    try {
      q.processAllAvailable()
      val got = spark.sql(
          "select k, bucket_ts, sum_value, n, mean_value from resample_parity")
        .orderBy("k", "bucket_ts").collect().map(_.toString).toSeq
      val want = graft.operators.TimeSeries.resampleAgg(ev, "ts", 3600L,
          Seq("k"), "v")
        .select(col("k"), col("bucket_ts"), col("sum_value"), col("n"),
          col("mean_value"))
        .orderBy("k", "bucket_ts").collect().map(_.toString).toSeq
      assert(got.nonEmpty && got == want)
    } finally q.stop()
  }

  test("append-mode flush: a late-mtime sentinel emits every real bin, not its own") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // the q77 gate mechanism in miniature: real events span 3 hours;
    // a sentinel 400 days out, in its own file with a FORCED later
    // mtime, must drive the closing watermark past every real bin so
    // append mode flushes them all — while the sentinel's own bin
    // stays in state and never emits
    val real = (0 until 180).map { i =>
      (new java.sql.Timestamp(1580515200000L + i * 60000L), "a", 1.0)
    }.toDF("ts", "k", "v")
    val sentinel = Seq((new java.sql.Timestamp(
      1580515200000L + 400L * 24 * 3600 * 1000), "__sentinel", 0.0))
      .toDF("ts", "k", "v")
    val dir = Files.createTempDirectory("stream_sentinel_flush")
    val in = dir.resolve("in")
    real.repartition(2).write.parquet(in.toString)
    val stage = dir.resolve("stage")
    sentinel.coalesce(1).write.parquet(stage.toString)
    import scala.jdk.CollectionConverters._
    val part = Files.list(stage).iterator().asScala
      .find(_.getFileName.toString.startsWith("part-")).get
    val dst = in.resolve("part-99999-sentinel.snappy.parquet")
    Files.move(part, dst)
    Files.setLastModifiedTime(dst, java.nio.file.attribute.FileTime
      .fromMillis(System.currentTimeMillis() + 60000L))
    val stream = spark.readStream.schema(real.schema)
      .option("maxFilesPerTrigger", 1).parquet(in.toString)
    val q = StreamingParse.resampleEventsStream(stream, "ts", 3600,
        Seq("k"), "v", watermark = "365 days")
      .writeStream.format("memory").queryName("sentinel_flush")
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    try {
      q.awaitTermination()
      val rows = spark.sql("select k, n from sentinel_flush").collect()
      // all three real 1 h bins flushed, 60 events each
      assert(rows.count(_.getString(0) == "a") == 3)
      assert(rows.filter(_.getString(0) == "a").forall(_.getLong(1) == 60))
      // the sentinel's bin is beyond the final watermark — withheld
      assert(!rows.exists(_.getString(0) == "__sentinel"))
    } finally q.stop()
  }

  test("streaming dedup: duplicate keys within the watermark dropped") {
    val dir = Files.createTempDirectory("stream3")
    // three frames, the second a byte-exact duplicate of the first
    // (same timestamp + payload → same decoded keys)
    Files.write(dir.resolve("a.log"), Seq(
      "(1580415599.000000) can0 021#11E803110300",
      "(1580415599.000000) can0 021#11E803110300",
      "(1580415600.000000) can0 021#11D00733FF00").mkString("\n").getBytes)
    val decoded = StreamingParse.decodedStream(spark, dir.toString,
      CanFixtures.schema)
    val deduped = StreamingParse.dedupStream(decoded,
      Seq("timestamp", "module_name", "topic_name", "byte_name"), "timestamp")
    val q = deduped.writeStream.format("memory").queryName("can_dedup")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      // 3 lines × 5 fields = 15 decoded rows; 5 are duplicates
      assert(spark.sql("select count(*) from can_dedup")
        .collect()(0).getLong(0) == 10)
      assert(spark.sql(
          "select count(*) from can_dedup where timestamp = timestamp_micros(1580415599000000)")
        .collect()(0).getLong(0) == 5)
    } finally q.stop()
  }

  test("streaming simhash pre-dedup drops sketch-identical near-dups") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, split, lower}
    val base = ("the " * 50).trim
    val docs = Seq(
      (java.sql.Timestamp.valueOf("2020-02-01 00:00:00"), 1L, s"$base unique1"),
      (java.sql.Timestamp.valueOf("2020-02-01 00:00:01"), 2L, s"$base unique2"),
      (java.sql.Timestamp.valueOf("2020-02-01 00:00:02"), 3L,
        "completely different content with its own words here"))
      .toDF("ts", "doc_id", "text")
    // precondition (batch): one differing token among 50 repeats can't
    // flip any bit's vote majority → docs 1 and 2 share a sketch
    val sk = docs.select(col("doc_id"), graft.operators.Dedup.simhashCol(
        split(lower(col("text")), "\\s+")).as("s"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sk(1L) == sk(2L) && sk(1L) != sk(3L))
    val dir = Files.createTempDirectory("stream_simdedup")
    docs.write.parquet(dir.resolve("in").toString)
    val stream = spark.readStream.schema(docs.schema)
      .parquet(dir.resolve("in").toString)
    val q = graft.streaming.StreamingParse
      .simhashDedupStream(stream, "ts", "text")
      .writeStream.format("memory").queryName("sim_dedup")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      val out = spark.sql("select doc_id, simhash from sim_dedup").collect()
      assert(out.length == 2) // one of {1,2} dropped, 3 kept
      assert(out.map(_.getLong(1)).toSet == Set(sk(1L), sk(3L)))
    } finally q.stop()
  }

  test("streaming pre-drop agrees with the batch rescue on a planted flood") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // 100 byte-identical copies of doc 0 (the flood that blows a
    // maxBucket = 20 guard) + distinct docs pairwise far apart in
    // hamming. The flood case is exactly where a streaming sketch
    // pre-drop could diverge from batch CC decisions: the guard
    // would DROP the hot bucket (batch keeps all copies) while the
    // stream drops the repeats — rescueHot is what re-aligns them.
    val distinct = Seq(
      (0L, "all these documents share exactly the same words today"),
      (200L, "completely different content about solar boats and batteries"),
      (201L, "zzz qqq www eee rrr ttt yyy uuu iii ooo ppp aaa"),
      (202L, "the weather in joinville is variable during race week"))
    val flood = (1L to 99L).map(i => (i, distinct.head._2))
    val corpus = (distinct ++ flood).sortBy(_._1)
      .toDF("doc_id", "text")
      .withColumn("ts", expr("timestamp_micros(1700000000000000 + doc_id)"))
    // premise check: distinct docs are pairwise > 3 apart, so batch
    // components coincide with sketch-equality classes and the parity
    // claim below is exact (not vacuously order-dependent)
    val sk = graft.operators.Dedup.simhash(corpus, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    for (Seq(a, b) <- Seq(0L, 200L, 201L, 202L).combinations(2))
      assert(java.lang.Long.bitCount(sk(a) ^ sk(b)) > 3, s"docs $a/$b too close")
    // batch: guarded banding WITH the rescue — decisions must survive
    // the flood (maxBucket 20 << 100 copies)
    val pairs = graft.operators.Dedup.simhashNearDups(corpus, "doc_id",
      "text", maxHamming = 3, maxBucket = 20, rescueHot = true)
    val batchKept = graft.operators.Dedup
      .dropNearDups(corpus, pairs, "doc_id")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    // stream: single sorted file so within-batch "first seen" is the
    // min doc id, matching the batch's min-id representative choice
    val dir = Files.createTempDirectory("stream_flood")
    corpus.orderBy("doc_id").coalesce(1)
      .write.parquet(dir.resolve("in").toString)
    val stream = spark.readStream.schema(corpus.schema)
      .parquet(dir.resolve("in").toString)
    val q = graft.streaming.StreamingParse
      .simhashDedupStream(stream, "ts", "text")
      .writeStream.format("memory").queryName("flood_dedup")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      val streamKept = spark.sql("select doc_id from flood_dedup")
        .collect().map(_.getLong(0)).toSet
      assert(streamKept === batchKept,
        s"stream admitted $streamKept, batch admitted $batchKept")
      // and the flood collapsed to exactly its min-id representative
      assert(batchKept.count(_ < 100L) == 1 && batchKept.contains(0L))
    } finally q.stop()
  }

  test("streaming decontamination: blocklisted fingerprints never emit") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val docs = Seq(
      (1L, "the exact benchmark item text appears here"),
      (2L, "an innocent training document with its own words"),
      (3L, "  THE exact   benchmark item text appears here "))
      .toDF("doc_id", "text")
    // blocklist built from the benchmark text; doc 3 is a whitespace/
    // case variant, which the normalized fingerprint must also catch
    val block = Seq("the exact benchmark item text appears here").toDF("text")
      .select(graft.operators.TextAnalysis.rollingFingerprint(col("text"))
        .as("fingerprint"))
    val dir = Files.createTempDirectory("stream_decontam")
    docs.write.parquet(dir.resolve("in").toString)
    val stream = spark.readStream.schema(docs.schema)
      .parquet(dir.resolve("in").toString)
    val q = graft.streaming.StreamingParse
      .decontaminateStream(stream, block, "text")
      .writeStream.format("memory").queryName("decontam_stream")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      val kept = spark.sql("select doc_id from decontam_stream").collect()
        .map(_.getLong(0)).toSet
      assert(kept == Set(2L), s"kept $kept")
    } finally q.stop()
  }

  test("streaming quality + DSIR admission filter (stateless projections)") {
    import spark.implicits._
    val dom = "solar boat telemetry battery current voltage panel energy motor speed"
    val gen = "market stock price trading bond yield finance quarterly report earnings"
    val source = (0 until 40).map(i => (i.toLong, gen)).toDF("doc_id", "text")
    val target = (0 until 40).map(i => (i.toLong, dom)).toDF("doc_id", "text")
    val model = graft.operators.Curation.fitDsir(source, target, "text",
      buckets = 4096)
    val docs = Seq(
      (1L, (dom + " ") * 3),      // on-domain, quality 1.0 → admitted
      (2L, (gen + " ") * 3),      // good quality but off-domain → DSIR rejects
      (3L, "!!! ??? !!! ### $$$"), // punct junk → quality rejects
      (4L, ""))                   // empty: null score → rejected
      .toDF("doc_id", "text")
    // precondition (batch): each threshold bites independently — doc 2
    // fails ONLY the DSIR gate, doc 3 fails the quality gate, doc 4
    // scores null
    val scored = docs.select($"doc_id",
        graft.operators.TextAnalysis.qualityScore($"text").as("q"),
        graft.operators.Curation.dsirScore($"text", model).as("d"))
      .collect().map(r => r.getLong(0) ->
        (r.getDouble(1), if (r.isNullAt(2)) None else Some(r.getDouble(2))))
      .toMap
    assert(scored(1L)._1 >= 0.5 && scored(1L)._2.get > 0.0)
    assert(scored(2L)._1 >= 0.5 && scored(2L)._2.get < 0.0)
    assert(scored(3L)._1 < 0.5)
    assert(scored(4L)._2.isEmpty)
    val dir = Files.createTempDirectory("stream_scorefilter")
    docs.write.parquet(dir.resolve("in").toString)
    val stream = spark.readStream.schema(docs.schema)
      .parquet(dir.resolve("in").toString)
    val q = graft.streaming.StreamingParse
      .scoreFilterStream(stream, "text", model,
        minQuality = 0.5, minDsir = 0.0)
      .writeStream.format("memory").queryName("score_filter")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      val kept = spark.sql("select doc_id from score_filter").collect()
        .map(_.getLong(0)).toSet
      assert(kept == Set(1L), s"kept $kept")
    } finally q.stop()
  }

  test("streaming text normalization: pure projection, batch-identical") {
    import spark.implicits._
    // normalizeText is a translate+regexp projection with no state, so
    // the SAME operator runs unchanged on a streaming frame — this
    // pins that property (and that micro-batch planning preserves the
    // fold semantics byte-for-byte vs batch)
    val docs = Seq(
      (1L, "“q” – x… end"),
      (2L, "crlf\r\nnext  line\t\t!"),
      (3L, "zero\u200Bwidth nb\u00A0sp"))
      .toDF("doc_id", "text")
    val want = graft.operators.Curation.normalizeText(docs, "text", "norm")
      .collect().map(r => r.getLong(0) -> r.getString(2)).toMap
    val dir = Files.createTempDirectory("stream_norm")
    docs.write.parquet(dir.resolve("in").toString)
    val stream = spark.readStream.schema(docs.schema)
      .parquet(dir.resolve("in").toString)
    val q = graft.operators.Curation.normalizeText(stream, "text", "norm")
      .select($"doc_id", $"norm")
      .writeStream.format("memory").queryName("norm_stream")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      val got = spark.sql("select doc_id, norm from norm_stream").collect()
        .map(r => r.getLong(0) -> r.getString(1)).toMap
      assert(got == want, s"streamed norm diverged: $got vs $want")
    } finally q.stop()
  }

  test("streaming LM tiering keeps rows whose lang was never calibrated (null bucket)") {
    import spark.implicits._
    // fit the LM + per-lang thresholds on an en/pt calibration corpus,
    // then stream a doc in a lang the calibration never saw: the row
    // must EMIT with bucket null (advisor r11 — an inner threshold
    // join would silently drop it from the ingestion stream)
    val cal = (1L to 40L).map(i =>
      (i, if (i % 2 == 0) "en" else "pt",
        s"common words shared by every doc plus w${i % 5}"))
      .toDF("doc_id", "lang", "text")
    val model = graft.operators.TextAnalysis.fitUnigramLm(cal, "text",
      maxVocab = 32)
    val th = graft.operators.TextAnalysis.scoreThresholds(
      cal.withColumn("lm_score",
        graft.operators.TextAnalysis.unigramLmScoreCol($"text", model)),
      "lm_score", Seq("lang"))
    val docs = Seq(
      (100L, "en", "common words shared by every doc plus w1"),
      (101L, "de", "common words shared by every doc plus w2"))
      .toDF("doc_id", "lang", "text")
    val dir = Files.createTempDirectory("stream_lm_unseen")
    docs.write.parquet(dir.resolve("in").toString)
    val stream = spark.readStream.schema(docs.schema)
      .parquet(dir.resolve("in").toString)
    val q = graft.streaming.StreamingParse
      .lmBucketStream(stream, "text", Seq("lang"), model, th)
      .select($"doc_id", $"lm_score", $"bucket")
      .writeStream.format("memory").queryName("lm_unseen")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      val got = spark.sql("select doc_id, lm_score, bucket from lm_unseen")
        .collect().map(r => r.getLong(0) ->
          (r.isNullAt(1), Option(r.getString(2)))).toMap
      assert(got.size == 2, s"uncalibrated-lang row dropped: $got")
      assert(!got(100L)._1 && got(100L)._2.nonEmpty,
        "calibrated lang labels normally")
      assert(!got(101L)._1 && got(101L)._2.isEmpty,
        "uncalibrated lang keeps its score and gets a null bucket")
    } finally q.stop()
  }

  test("streaming trigram LM tiering: broadcast-join scorer + literal thresholds equal batch") {
    import spark.implicits._
    val docs = (1L to 36L).map(i =>
      (i, if (i % 2 == 0) "en" else "pt",
        s"the solar boat logged w${i % 5} telemetry rows w${i % 3} today"))
      .toDF("doc_id", "lang", "text")
    val model = graft.operators.TextAnalysis.fitTrigramLm(docs, "text")
    val batchScored = graft.operators.TextAnalysis.trigramLmScore(docs,
      "doc_id", "text", model, carryCols = Seq("lang"))
    val th = graft.operators.TextAnalysis.scoreThresholds(batchScored,
      "lm3_score", Seq("lang"))
    val want = graft.operators.TextAnalysis.applyScoreBuckets(batchScored,
        "lm3_score", Seq("lang"), th)
      .select($"doc_id", $"lm3_score", $"bucket").collect()
      .map(r => r.getLong(0) -> (r.getDouble(1), r.getString(2))).toMap
    val dir = Files.createTempDirectory("stream_tg_lm")
    docs.repartition(3).write.parquet(dir.resolve("in").toString)
    val stream = spark.readStream.schema(docs.schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(dir.resolve("in").toString)
    val q = graft.streaming.StreamingParse
      .trigramBucketStream(stream, "doc_id", "text", Seq("lang"), model, th)
      .select($"doc_id", $"lm3_score", $"bucket")
      .writeStream.format("memory").queryName("tg_buckets")
      .outputMode("complete").start()
    try {
      q.processAllAvailable()
      val got = spark.sql("select doc_id, lm3_score, bucket from tg_buckets")
        .collect().map(r =>
          r.getLong(0) -> (r.getDouble(1), r.getString(2))).toMap
      assert(got == want && got.size == 36,
        s"streamed trigram buckets diverged from batch")
    } finally q.stop()
  }

  test("streaming LR-classifier admission filter (stateless projection)") {
    import spark.implicits._
    val good = "clear readable prose about solar boats and telemetry data"
    val bad = "zz qq vv ww xx yy zz qq vv ww"
    val train = ((1L to 20L).map(i => (i, s"$good sample $i", 1)) ++
      (21L to 40L).map(i => (i, s"$bad item $i", 0)))
      .toDF("doc_id", "text", "y")
    val model = graft.operators.Curation.fitQualityLr(train,
      "doc_id", "text", "y", iters = 10, stepSize = 8.0)
    val docs = Seq(
      (1L, good + " fresh document"), // positive-vocab → admitted
      (2L, bad + " fresh junk"),      // negative-vocab → rejected
      (3L, ""))                       // featureless: null → rejected
      .toDF("doc_id", "text")
    // precondition (batch): the projection separates the classes
    val sc = docs.select($"doc_id",
        graft.operators.Curation.lrScoreCol($"text", model).as("s"))
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) None else Some(r.getDouble(1)))).toMap
    assert(sc(1L).get >= 0.5 && sc(2L).get < 0.5 && sc(3L).isEmpty)
    val dir = Files.createTempDirectory("stream_lrfilter")
    docs.write.parquet(dir.resolve("in").toString)
    val stream = spark.readStream.schema(docs.schema)
      .parquet(dir.resolve("in").toString)
    val q = graft.streaming.StreamingParse
      .classifierFilterStream(stream, "text", model, minScore = 0.5)
      .writeStream.format("memory").queryName("lr_filter")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      val kept = spark.sql("select doc_id from lr_filter").collect()
        .map(_.getLong(0)).toSet
      assert(kept == Set(1L), s"kept $kept")
    } finally q.stop()
  }

  test("streaming bloom admission: novel admitted join-free, accepted dropped, FP verified") {
    import spark.implicits._
    val accepted = (0L until 40L).map(i => (i, s"accepted doc $i"))
      .toDF("doc_id", "text")
    val idx = graft.operators.Dedup.buildExactIndex(accepted, "text")
    idx.hashes.persist()
    val docs = Seq(
      (1L, "accepted doc 7"),        // in the index → dropped
      (2L, "genuinely novel text"),  // bloom-negative → admitted join-free
      (3L, "accepted doc 39"),       // in the index → dropped
      (4L, "another new document"))  // admitted
      .toDF("doc_id", "text")
    val dir = Files.createTempDirectory("stream_bloom")
    docs.write.parquet(dir.resolve("in").toString)
    val stream = spark.readStream.schema(docs.schema)
      .parquet(dir.resolve("in").toString)
    val q = graft.streaming.StreamingParse
      .bloomDedupStream(stream, "text", idx)
      .writeStream.format("memory").queryName("bloom_admit")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      val kept = spark.sql("select doc_id from bloom_admit").collect()
        .map(_.getLong(0)).toSet
      assert(kept == Set(2L, 4L), s"kept $kept")
    } finally { q.stop(); idx.hashes.unpersist() }
    // a SATURATED sketch (forced false positives) must not change
    // admissions — positives are verified against the real hash table
    val tiny = graft.operators.Dedup.buildExactIndex(accepted, "text",
      expectedItems = 1000L, numBits = 8L)
    val q2 = graft.streaming.StreamingParse
      .bloomDedupStream(spark.readStream.schema(docs.schema)
        .parquet(dir.resolve("in").toString), "text", tiny)
      .writeStream.format("memory").queryName("bloom_admit_fp")
      .outputMode("append").start()
    try {
      q2.processAllAvailable()
      val kept = spark.sql("select doc_id from bloom_admit_fp").collect()
        .map(_.getLong(0)).toSet
      assert(kept == Set(2L, 4L), s"saturated-bloom kept $kept")
    } finally q2.stop()
  }

  test("streaming winnow screening: quoted doc dropped, clean admitted") {
    import spark.implicits._
    val quote = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val bench = Seq((100L, quote)).toDF("doc_id", "text")
    val docs = Seq(
      (1L, s"long unrelated training prose embedding $quote inside it"),
      (2L, "entirely different content with no overlap at all whatsoever"))
      .toDF("doc_id", "text")
    // batch precondition: overlap detection matches winnowContainment
    val cont = graft.operators.TextAnalysis
      .winnowContainment(docs, bench, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(cont(1L) >= 1 && cont(2L) == 0)
    val dir = Files.createTempDirectory("stream_winnow")
    docs.write.parquet(dir.resolve("in").toString)
    val stream = spark.readStream.schema(docs.schema)
      .parquet(dir.resolve("in").toString)
    val q = graft.streaming.StreamingParse
      .winnowScreenStream(stream, "doc_id", "text", bench, "doc_id", "text")
      .writeStream.format("memory").queryName("winnow_screen")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      val kept = spark.sql("select doc_id, n_fp from winnow_screen").collect()
        .map(r => (r.getLong(0), r.getInt(1)))
      assert(kept.map(_._1).toSet == Set(2L), s"kept ${kept.toSeq}")
      assert(kept.forall(_._2 > 0), "audit column n_fp should be populated")
    } finally q.stop()
  }

  test("streaming ANN admission: copies reject, novel/null admit, nProbe widens recall") {
    import spark.implicits._
    // hand-built 2-cell geometry (lloydIters=1, seeds = ids 10/20):
    // cell A = {10, 30} → centroid (0.975, 0.025); cell B = {20, 40}
    // → centroid (0.3, 0.9). Candidate 101 at ~32° sits on A's side
    // of the cell boundary (~36.5°) but its only ≥ tau match (id 40,
    // cos ≈ 0.933) lives in cell B — the probe-width dial made
    // concrete: nProbe=1 misses it, nProbe=2 catches it.
    val accepted = Seq(
      (10L, Seq(1.0, 0.0, 0.0, 0.0)), (20L, Seq(0.0, 1.0, 0.0, 0.0)),
      (30L, Seq(0.95, 0.05, 0.0, 0.0)), (40L, Seq(0.6, 0.8, 0.0, 0.0)))
      .toDF("vec_id", "embedding")
    val index = graft.operators.Similarity.buildIvf(accepted, "vec_id",
      "embedding", nCells = 2, lloydIters = 1)
    val members = graft.operators.Similarity.cellMembers(index)
    members.persist().count()
    val cands = Seq(
      (101L, Seq(0.848, 0.530, 0.0, 0.0)),  // 2nd-cell near-dup of 40
      (102L, Seq(0.95, 0.05, 0.0, 0.0)),    // exact copy of 30 (cell A)
      (103L, Seq(0.0, 0.0, 1.0, 0.0)),      // novel direction
      (104L, null.asInstanceOf[Seq[Double]])) // unprovable → admit
      .toDF("vec_id", "embedding")
    val dir = Files.createTempDirectory("stream_ann")
    cands.write.parquet(dir.resolve("in").toString)
    def run(nProbe: Int, tag: String): Map[Long, (Boolean, Option[Long])] = {
      val stream = spark.readStream.schema(cands.schema)
        .parquet(dir.resolve("in").toString)
      val q = graft.streaming.StreamingParse
        .annAdmissionStream(stream, "vec_id", "embedding", index, members,
          tau = 0.9, nProbe = nProbe)
        .writeStream.format("memory").queryName(tag)
        .outputMode("append").start()
      try {
        q.processAllAvailable()
        spark.sql(s"select vec_id, admitted, match_id from $tag").collect()
          .map(r => r.getLong(0) ->
            (r.getBoolean(1), if (r.isNullAt(2)) None else Some(r.getLong(2))))
          .toMap
      } finally q.stop()
    }
    try {
      val wide = run(2, "ann_admit_p2")
      assert(wide(101L) == (false, Some(40L)), s"2nd-cell match: ${wide(101L)}")
      assert(wide(102L) == (false, Some(30L)), s"same-cell copy: ${wide(102L)}")
      assert(wide(103L) == (true, None), s"novel: ${wide(103L)}")
      assert(wide(104L) == (true, None), s"null vector: ${wide(104L)}")
      val narrow = run(1, "ann_admit_p1")
      assert(narrow(101L) == (true, None),
        s"nProbe=1 must miss the 2nd-cell match: ${narrow(101L)}")
      assert(narrow(102L) == (false, Some(30L)),
        s"nProbe=1 still rejects the same-cell copy: ${narrow(102L)}")
    } finally members.unpersist()
  }

  test("streaming Hamming admission: pigeonhole recall is exact; nulls admit; ties to smaller id") {
    import spark.implicits._
    val base = 0x5A5A5A5A5A5A5A5AL
    def flip(s: Long, bits: Seq[Int]): Long =
      bits.foldLeft(s)((x, b) => x ^ (1L << b))
    val reference: Seq[(Long, java.lang.Long)] = Seq(
      (10L, base),
      (20L, flip(base, Seq(0, 1, 2, 3, 4, 5, 6, 7, 8, 9))), // far
      (30L, null))                                           // unmatchable
    val members = graft.operators.Dedup.hammingBandMembers(
      reference.toDF("ref_id", "sig"), "ref_id", "sig", maxHamming = 3)
    members.persist().count()
    val cands: Seq[(Long, java.lang.Long)] = Seq(
      (101L, base),                      // exact → reject w/ 10, d=0
      (102L, flip(base, Seq(63, 32, 5))), // 3 flips across 3 DIFFERENT
                                          // bands — only pigeonhole
                                          // catches it → reject, d=3
      (103L, flip(base, Seq(0, 1, 2, 3))), // d=4 > threshold → admit
      (104L, null))                        // unprovable → admit
    val dir = Files.createTempDirectory("stream_phash")
    cands.toDF("media_id", "sig").write.parquet(dir.resolve("in").toString)
    val stream = spark.readStream
      .schema(cands.toDF("media_id", "sig").schema)
      .parquet(dir.resolve("in").toString)
    val q = graft.streaming.StreamingParse.hammingAdmissionStream(
        stream, "media_id", "sig", members, maxHamming = 3)
      .writeStream.format("memory").queryName("phash_admit")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      val out = spark.sql(
          "select media_id, admitted, match_id, match_hamming from phash_admit")
        .collect().map(r => r.getLong(0) -> (r.getBoolean(1),
          if (r.isNullAt(2)) None else Some(r.getLong(2)),
          if (r.isNullAt(3)) None else Some(r.getInt(3)))).toMap
      assert(out(101L) == (false, Some(10L), Some(0)), s"${out(101L)}")
      assert(out(102L) == (false, Some(10L), Some(3)),
        s"cross-band match must be found: ${out(102L)}")
      assert(out(103L) == (true, None, None), s"${out(103L)}")
      assert(out(104L) == (true, None, None), s"${out(104L)}")
    } finally { q.stop(); members.unpersist() }
  }

  test("streaming ANN admission: zero-norm and empty vectors ADMIT (NaN cosines can't reject)") {
    import spark.implicits._
    // advisor r12: Spark's total ordering ranks NaN above every
    // double, so an ungated zero-norm probe would see `NaN >= tau` as
    // TRUE and REJECT with an arbitrary match — membership is
    // unprovable for a zero vector, which the contract maps to ADMIT.
    // A zero-norm INDEX member exercises the other NaN path: its
    // member sim is NaN for every probe and must never be elected as
    // the argmax match.
    val accepted = Seq(
      (10L, Seq(1.0, 0.0, 0.0, 0.0)), (20L, Seq(0.0, 1.0, 0.0, 0.0)),
      (30L, Seq(0.95, 0.05, 0.0, 0.0)), (40L, Seq(0.6, 0.8, 0.0, 0.0)),
      (50L, Seq(0.0, 0.0, 0.0, 0.0))) // zero-norm member in the index
      .toDF("vec_id", "embedding")
    val index = graft.operators.Similarity.buildIvf(accepted, "vec_id",
      "embedding", nCells = 2, lloydIters = 1)
    val members = graft.operators.Similarity.cellMembers(index)
    members.persist().count()
    val cands = Seq(
      (201L, Seq(0.0, 0.0, 0.0, 0.0)),     // zero-norm → admit
      (202L, Seq.empty[Double]),           // empty → admit
      (203L, Seq(0.95, 0.05, 0.0, 0.0)))   // copy of 30 → reject w/ 30
      .toDF("vec_id", "embedding")
    val dir = Files.createTempDirectory("stream_ann_nan")
    cands.write.parquet(dir.resolve("in").toString)
    val stream = spark.readStream.schema(cands.schema)
      .parquet(dir.resolve("in").toString)
    val q = graft.streaming.StreamingParse
      .annAdmissionStream(stream, "vec_id", "embedding", index, members,
        tau = 0.9, nProbe = 2)
      .writeStream.format("memory").queryName("ann_admit_nan")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      val out = spark.sql("select vec_id, admitted, match_id from ann_admit_nan")
        .collect().map(r => r.getLong(0) ->
          (r.getBoolean(1), if (r.isNullAt(2)) None else Some(r.getLong(2))))
        .toMap
      assert(out(201L) == (true, None), s"zero-norm probe: ${out(201L)}")
      assert(out(202L) == (true, None), s"empty probe: ${out(202L)}")
      assert(out(203L) == (false, Some(30L)),
        s"the zero-norm index member must not hijack the argmax: ${out(203L)}")
    } finally { q.stop(); members.unpersist() }
  }

  test("streaming ANN admission: a zero-norm CENTROID ranks last, never captures a probe slot") {
    import spark.implicits._
    // advisor r13: a struct with a null FIELD compares SMALLEST in
    // array_sort (nulls-last applies to null elements, not fields),
    // so a zero-norm centroid's null (−cosine) used to grab the TOP
    // probe slot and silently shrink the effective nProbe. With the
    // coalesce-to-MaxValue fix, nProbe=1 must still probe the REAL
    // cell and reject the planted copy.
    val centroids = Seq(
      (0, Seq(0.0, 0.0, 0.0, 0.0)),   // degenerate (zero-norm) cell
      (1, Seq(1.0, 0.0, 0.0, 0.0)))
      .toDF("cell", "cvec")
    val mv = Seq(0.95, 0.05, 0.0, 0.0)
    val corpusCells = Seq((1, 30L, mv, math.sqrt(mv.map(x => x * x).sum)))
      .toDF("cell", "neighbor_id", "__cv", "__cn")
    val index = graft.operators.Similarity.IvfIndex(centroids, corpusCells)
    val members = graft.operators.Similarity.cellMembers(index)
    members.persist().count()
    val cands = Seq((301L, mv)).toDF("vec_id", "embedding")
    val dir = Files.createTempDirectory("stream_ann_zc")
    cands.write.parquet(dir.resolve("in").toString)
    val stream = spark.readStream.schema(cands.schema)
      .parquet(dir.resolve("in").toString)
    val q = graft.streaming.StreamingParse
      .annAdmissionStream(stream, "vec_id", "embedding", index, members,
        tau = 0.9, nProbe = 1)
      .writeStream.format("memory").queryName("ann_admit_zc")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      val out = spark.sql("select vec_id, admitted, match_id from ann_admit_zc")
        .collect().map(r => r.getLong(0) ->
          (r.getBoolean(1), if (r.isNullAt(2)) None else Some(r.getLong(2))))
        .toMap
      assert(out(301L) == (false, Some(30L)),
        "the single probe slot must go to the real cell, not the " +
          s"zero-norm centroid: ${out(301L)}")
    } finally { q.stop(); members.unpersist() }
  }

  test("streaming Hamming admission: an over-cap member bucket drops and fails OPEN") {
    import spark.implicits._
    // advisor r13: the batch hammingNearDups path caps candidate
    // buckets while the member table had no cap — the divergence is
    // now explicit: hammingBandMembers drops over-maxBucket buckets
    // (observe-metered) and the stream ADMITS what only those buckets
    // could have matched. Identical reference signatures flood every
    // band bucket past maxBucket=2, so an exact copy must flip to
    // admit; a reference set under the cap still rejects it.
    val base = 0x0123456789ABCDEFL
    val flooded: Seq[(Long, java.lang.Long)] =
      (1L to 3L).map(i => (i, java.lang.Long.valueOf(base)))
    def run(ref: Seq[(Long, java.lang.Long)], cap: Int, tag: String)
        : (Boolean, Long) = {
      val members = graft.operators.Dedup.hammingBandMembers(
        ref.toDF("ref_id", "sig"), "ref_id", "sig", maxHamming = 3,
        maxBucket = cap)
      members.persist()
      val overCap = members.filter(size(col("members")) > cap).count()
      val dir = Files.createTempDirectory(s"stream_phash_$tag")
      Seq((101L, java.lang.Long.valueOf(base))).toDF("media_id", "sig")
        .write.parquet(dir.resolve("in").toString)
      val stream = spark.readStream
        .schema(new org.apache.spark.sql.types.StructType()
          .add("media_id", "long").add("sig", "long"))
        .parquet(dir.resolve("in").toString)
      val q = graft.streaming.StreamingParse.hammingAdmissionStream(
          stream, "media_id", "sig", members, maxHamming = 3)
        .writeStream.format("memory").queryName(s"phash_cap_$tag")
        .outputMode("append").start()
      try {
        q.processAllAvailable()
        val admitted = spark.sql(s"select admitted from phash_cap_$tag")
          .collect()(0).getBoolean(0)
        (admitted, overCap)
      } finally { q.stop(); members.unpersist() }
    }
    val (underCapAdmit, underCapOver) = run(flooded, 3, "under")
    assert(!underCapAdmit && underCapOver == 0,
      "under the cap the exact copy rejects")
    val (overCapAdmit, overCapOver) = run(flooded, 2, "over")
    assert(overCapAdmit && overCapOver == 0,
      "a flooded bucket drops from the member table (fail-open admit) " +
        "and no over-cap row survives the filter")
  }

  test("season driver wiring: parse→resample→forecast→gps end-to-end") {
    val dir = Files.createTempDirectory("season")
    Files.write(dir.resolve("can_ids_test.json"), CanFixtures.json.getBytes)
    val dataDir = Files.createDirectory(dir.resolve("candump"))
    Files.write(dataDir.resolve("run.log"), (0 until 120).map { i =>
      f"(${1580515200L + i}%d.000000) can0 021#11E803${i % 256}%02X0300"
    }.mkString("\n").getBytes)
    val cfg = Seasons.SeasonConfig(
      name = "test", canIdsPath = dir.resolve("can_ids_test.json").toString,
      mab20Workaround = false, shiftBackLocalize = false,
      site = Some(graft.pipeline.SolarStage.Site(-26.243602, -48.6417668)),
      resamplePeriods = Seq("10s"),
      datasets = Seq(Seasons.DatasetFiles(s"$dataDir/*.log")))
    val out = Seasons.run(spark, cfg, dir.resolve("out").toString,
      resamplePeriod = "10s")
    val rows = out.orderBy("timestamp").collect()
    assert(rows.length == 12) // 120 s of frames → 12 ten-second bins
    val cols = out.columns
    assert(cols.contains("MOD17__SENSOR__CURR"))
    // all bins populated: mean of CURR = 10.0 constant
    val currIdx = cols.indexOf("MOD17__SENSOR__CURR")
    assert(rows.forall(r => r.getDouble(currIdx) == 10.0))
  }

  test("season forecast path: event slice + solcast_energy in final table") {
    val dir = Files.createTempDirectory("season_fc")
    Files.write(dir.resolve("ids.json"), CanFixtures.json.getBytes)
    val dataDir = Files.createDirectory(dir.resolve("candump"))
    val t0 = 1580515200L // 2020-02-01T00:00:00Z
    Files.write(dataDir.resolve("run.log"), (0 until 120).map { i =>
      f"(${t0 + i}%d.000000) can0 021#11E803110300"
    }.mkString("\n").getBytes)
    // forecast every 30 s spanning [23:59:00, 00:05:00] — wider than the
    // event window, so the slice has something to cut on both sides
    val fcsv = dir.resolve("solcast.csv")
    val hdr = "PeriodStart,PeriodEnd,Period,Dni,Ghi,Dhi,Airmass,AlbedoDaily"
    val fcRows = (0 until 13).map { i =>
      val t = java.time.Instant.ofEpochSecond(t0 - 60 + i * 30)
      s"$t,$t,PT5M,800,600,100,1.2,0.08"
    }
    Files.write(fcsv, (hdr +: fcRows).mkString("\n").getBytes)
    val cfg = Seasons.SeasonConfig(
      name = "fc_test", canIdsPath = dir.resolve("ids.json").toString,
      mab20Workaround = false, shiftBackLocalize = false,
      site = Some(graft.pipeline.SolarStage.Site(-26.243602, -48.6417668)),
      resamplePeriods = Seq("10s"),
      datasets = Seq(Seasons.DatasetFiles(s"$dataDir/run.log")),
      // event starts 30 s into the telemetry range: the first three
      // 10 s ticks precede every surviving forecast row
      event = Some(("2020-02-01 00:00:30", "2020-02-01 00:10:00")))
    val out = Seasons.run(spark, cfg, dir.resolve("out").toString,
      forecastCsv = Some(fcsv.toString), resamplePeriod = "10s")
    // main_2020.py:174-181 → process_solcast_historic_data.py:102-104:
    // the unified table must carry the forecast's cumulative energy
    assert(out.columns.contains("solcast_energy"))
    assert(out.columns.contains("solcast_poa"))
    val rows = out.orderBy("timestamp").collect()
    assert(rows.length == 12)
    val e = rows.map(r => Option(r.getAs[java.lang.Double]("solcast_energy"))
      .map(_.toDouble))
    // ticks before the event window joined NO forecast rows (leading
    // nulls, not interpolated from pre-event data)
    assert(e.take(3).forall(_.isEmpty), s"pre-event ticks carried forecast: ${e.toSeq}")
    // in-window ticks carry the integral: starts at 0, non-decreasing
    val inWin = e.drop(3).map(_.getOrElse(fail(s"in-event tick missing energy: ${e.toSeq}")))
    assert(inWin.head == 0.0)
    assert(inWin.sliding(2).forall(p => p(1) >= p(0)))
    assert(inWin.last > 0.0)
  }

  test("unify stage (J1): reference-DB rows merged, clipped to range") {
    val dir = Files.createTempDirectory("season_db")
    Files.write(dir.resolve("ids.json"), CanFixtures.json.getBytes)
    val dataDir = Files.createDirectory(dir.resolve("candump"))
    val t0 = 1580515200L
    // main run: CURR=10.0 for 120 s
    Files.write(dataDir.resolve("run.log"), (0 until 120).map { i =>
      f"(${t0 + i}%d.000000) can0 021#11E803110300"
    }.mkString("\n").getBytes)
    // db dump: CURR=20.0 at +30..+49 s (inside) and +300..+319 s (outside)
    Files.write(dataDir.resolve("run-from_db0.log"),
      ((30 until 50) ++ (300 until 320)).map { i =>
        f"(${t0 + i}%d.000000) can0 021#11D00733FF00"
      }.mkString("\n").getBytes)
    val cfg = Seasons.SeasonConfig(
      name = "db_test", canIdsPath = dir.resolve("ids.json").toString,
      mab20Workaround = false, shiftBackLocalize = false,
      site = None, resamplePeriods = Seq("10s"),
      datasets = Seq(
        Seasons.DatasetFiles(s"$dataDir/run.log"),
        Seasons.DatasetFiles(s"$dataDir/run-from_db*.log", isReferenceDb = true)))
    val out = Seasons.run(spark, cfg, dir.resolve("out").toString,
      resamplePeriod = "10s")
    val cols = out.columns
    val currIdx = cols.indexOf("MOD17__SENSOR__CURR")
    val rows = out.orderBy("timestamp").collect()
    // db rows OUTSIDE the main range are clipped → still 12 bins
    assert(rows.length == 12)
    // bins 3 and 4 (+30..+49) blend 10 main rows @10.0 + 10 db rows @20.0
    val means = rows.map(_.getDouble(currIdx))
    assert(means(3) == 15.0 && means(4) == 15.0)
    assert(means(0) == 10.0 && means(11) == 10.0)
  }

  test("runAll parses once: period 2 reads period 1's parsed parquet (S9)") {
    val dir = Files.createTempDirectory("season_reuse")
    Files.write(dir.resolve("ids.json"), CanFixtures.json.getBytes)
    val dataDir = Files.createDirectory(dir.resolve("candump"))
    val t0 = 1580515200L
    Files.write(dataDir.resolve("run.log"), (0 until 120).map { i =>
      f"(${t0 + i}%d.000000) can0 021#11E803110300"
    }.mkString("\n").getBytes)
    Files.write(dataDir.resolve("run-from_db0.log"), (30 until 50).map { i =>
      f"(${t0 + i}%d.000000) can0 021#11D00733FF00"
    }.mkString("\n").getBytes)
    val cfg = Seasons.SeasonConfig(
      name = "reuse", canIdsPath = dir.resolve("ids.json").toString,
      mab20Workaround = false, shiftBackLocalize = false,
      site = None, resamplePeriods = Seq("10s", "20s"),
      datasets = Seq(
        Seasons.DatasetFiles(s"$dataDir/run.log"),
        Seasons.DatasetFiles(s"$dataDir/run-from_db*.log", isReferenceDb = true)))
    // count parquet WRITES into the parse output dirs via the SQL
    // execution listener: the S9 reuse contract is that each dataset
    // is parsed (written) exactly once even with two periods
    val writes = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    // (outputPath, does-the-insert's-plan-scan-the-parsed-parquet):
    // with disk-backed stage boundaries, the parsed-parquet read sits
    // inside the resampled-stage WRITE job, not the returned plan
    val writePlans = new java.util.concurrent.ConcurrentLinkedQueue[(String, Boolean)]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          durationNs: Long): Unit = qe.analyzed match {
        case c: org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand =>
          writes.add(c.outputPath.toString)
          // executedPlan, not analyzed: only FileScan nodes print their
          // location, and the scan-source check needs the path
          writePlans.add((c.outputPath.toString,
            qe.executedPlan.toString.contains("parsed_reuse_d0"))); ()
        case _ => ()
      }
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      val out = dir.resolve("out").toString
      // another SeasonConfig's live stage scratch under the SAME
      // outputDir — this run's cleanup must be scoped to its own
      // season subtree (round-10 advisor: an unscoped delete of
      // `_stages` would kill a concurrent config's stage parquet
      // mid-pipeline)
      val otherStage = java.nio.file.Paths.get(out, "_stages", "other_cfg")
      java.nio.file.Files.createDirectories(otherStage)
      java.nio.file.Files.write(otherStage.resolve("stage_live.parquet"),
        Array[Byte](1))
      val byPeriod = Seasons.runAll(spark, cfg, out)
      // stage-boundary scratch is deleted once every period's final
      // table is durable — no orphan stage_* dirs accumulate, and the
      // returned frames (final-parquet scans) survive the cleanup
      assert(!java.nio.file.Files.exists(
          java.nio.file.Paths.get(out, "_stages", cfg.name)),
        "runAll must remove its own _stages scratch subtree")
      assert(java.nio.file.Files.exists(
          otherStage.resolve("stage_live.parquet")),
        "runAll must not delete another season's live stage scratch")
      // once the foreign subtree goes too, the emptied parent follows
      java.nio.file.Files.delete(otherStage.resolve("stage_live.parquet"))
      java.nio.file.Files.delete(otherStage)
      assert(java.nio.file.Files.exists(
        java.nio.file.Paths.get(out, "_stages")))
      assert(byPeriod.values.forall(_.count() > 0))
      // listener events are delivered asynchronously — wait for the
      // expected write count to stabilize
      val deadline = System.nanoTime() + 10_000_000_000L
      def parseWrites = { import scala.jdk.CollectionConverters._
        writes.asScala.toSeq.filter(_.contains("parsed_reuse_")) }
      def finalWrites = { import scala.jdk.CollectionConverters._
        writes.asScala.toSeq.filter(_.contains("final_reuse")) }
      while (System.nanoTime() < deadline &&
             (parseWrites.size < 2 || finalWrites.size < 2)) Thread.sleep(50)
      // exactly one parse write per dataset (d0 + db0) — NOT per period
      assert(parseWrites.sorted == Seq(s"file:$out/parsed_reuse_d0",
        s"file:$out/parsed_reuse_db0"),
        s"expected one parse write per dataset, got $parseWrites")
      assert(finalWrites.size == 2, s"expected two final writes: $finalWrites")
      // period 2 READ the parsed parquet: its resampled-stage write
      // job scans the parse output path (period 1's same write runs
      // the in-memory parse pipeline — parsed_reuse_d0 did not exist
      // yet when its plan was built)
      import scala.jdk.CollectionConverters._
      def stageScan(period: String): Option[Boolean] =
        writePlans.asScala.collectFirst {
          case (p, scans)
              if p.contains(s"_stages/reuse/stage_${period}_resampled") =>
            scans }
      assert(stageScan("20s").contains(true),
        "period 2's resample stage should scan period 1's parsed parquet")
      assert(stageScan("10s").contains(false),
        "period 1 parses in-pipeline, not from its own output")
      // and the reuse loses nothing: period 2's table equals a fresh
      // single-period run that parses from scratch
      val fresh = Seasons.run(spark, cfg, dir.resolve("fresh").toString,
        resamplePeriod = "20s")
      val got = spark.read.parquet(s"$out/20s/final_reuse")
        .orderBy("timestamp").collect().map(_.toString).toSeq
      val want = fresh.orderBy("timestamp").collect().map(_.toString).toSeq
      assert(got == want)
      assert(got.nonEmpty)
    } finally spark.listenerManager.unregister(listener)
  }

  test("all four season configs run end-to-end on their real schemas") {
    val dir = Files.createTempDirectory("seasons4")
    val dataDir = Files.createDirectory(dir.resolve("candump"))
    // one synthetic log per dataset filename the configs reference,
    // with frames valid for that season's real schema
    def writeLog(name: String, schemaPath: String): Unit = {
      val schema = CanSchema.load(schemaPath)
      val (m, t) = schema.allTopics.maxBy { case (_, t) => t.fields.length }
      val payload = f"${m.signature}%02x" + "00" * (t.declaredSize - 1)
      val lines = (0 until 60).map { i =>
        f"(${1580515200L + i}%d.000000) can0 ${t.id}%03x#$payload"
      }
      Files.write(dataDir.resolve(name), lines.mkString("\n").getBytes)
    }
    for (n <- Seq("candump-2020-01-29_115602.log", "candump-2020-01-30_054738.log",
        "candump-2020-01-30_172000.log", "candump-2020-02-01_064223.log",
        "candump-2020-02-01_064222.log", "candump-from_db0.log"))
      writeLog(n, SeasonSchemas.path("2020"))
    for (n <- Seq("candump-2022-10-15_234814.log", "candump-2023-07-02_104810.log"))
      writeLog(n, if (n.contains("2023")) SeasonSchemas.path("lic")
                  else SeasonSchemas.path("2022"))
    // configs point at $dataDir; schema paths redirected to the stand-ins
    val cfgs = Seq(
      Seasons.season2020(dir.toString).copy(
        canIdsPath = SeasonSchemas.path("2020"),
        resamplePeriods = Seq("1s", "100ms")), // sub-second period live
      Seasons.season2022(dir.toString).copy(
        canIdsPath = SeasonSchemas.path("2022"), resamplePeriods = Seq("1s")),
      Seasons.season2022Ita(dir.toString).copy(
        canIdsPath = SeasonSchemas.path("2022")),
      Seasons.season2023Lic(dir.toString).copy(
        canIdsPath = SeasonSchemas.path("lic")))
    for (cfg <- cfgs) {
      val byPeriod = Seasons.runAll(spark, cfg,
        dir.resolve(s"out_${cfg.name}").toString)
      assert(byPeriod.keySet == cfg.resamplePeriods.toSet)
      for ((period, df) <- byPeriod) {
        val n = spark.read.parquet(
          dir.resolve(s"out_${cfg.name}/$period/final_${cfg.name}").toString).count()
        assert(n > 0, s"${cfg.name}/$period produced no rows")
        assert(df.columns.contains("timestamp"))
      }
    }
  }

  test("quarantine split: corrupt payloads land verbatim with deterministic reasons; healthy rows flow through the transform once") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    def png(seed: Int): Array[Byte] = {
      val im = new java.awt.image.BufferedImage(10, 8,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until 8; x <- 0 until 10) {
        val g = (seed * 13 + x * 7 + y * 3) % 256
        im.setRGB(x, y, (g << 16) | (g << 8) | g)
      }
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(im, "png", bos)
      bos.toByteArray
    }
    val rows: Seq[(Long, Array[Byte])] = Seq(
      (1L, png(1)), (2L, png(2)),
      (3L, "garbage".getBytes("UTF-8")),
      (4L, Array.empty[Byte]),
      (5L, null.asInstanceOf[Array[Byte]]))
    val dir = Files.createTempDirectory("quarantine").toString
    rows.toDF("media_id", "payload").repartition(2)
      .write.parquet(s"$dir/in")
    // decodeStatus classification, batch-side first
    val statuses = graft.operators.Multimodal.decodeImages(
        spark.read.parquet(s"$dir/in"), "payload")
      .select(col("media_id"),
        graft.operators.Multimodal.decodeStatus(
          col("payload"), col("img_width")).as("st"))
      .as[(Long, String)].collect().toMap
    assert(statuses == Map(1L -> "ok", 2L -> "ok", 3L -> "undecodable",
      4L -> "empty_payload", 5L -> "null_payload"))
    // the streaming split: healthy rows through a visible transform,
    // corrupt rows verbatim with the reason; batch_id stamped on both
    Seq("quar_spec_main", "quar_spec_dead").foreach(t =>
      spark.sql(s"DROP TABLE IF EXISTS $t"))
    val sch = spark.read.parquet(s"$dir/in").schema
    StreamingParse.quarantineStream(
      graft.operators.Multimodal.decodeImages(
          spark.readStream.schema(sch).option("maxFilesPerTrigger", 1)
            .parquet(s"$dir/in"), "payload")
        .withColumn("st", graft.operators.Multimodal.decodeStatus(
          col("payload"), col("img_width"))),
      "st",
      b => b.select(col("media_id"),
        (col("img_width") * col("img_height")).as("npx")),
      "quar_spec_main", "quar_spec_dead")
    val main = spark.table("quar_spec_main")
      .select("media_id", "npx").as[(Long, Int)].collect().toMap
    assert(main == Map(1L -> 80, 2L -> 80),
      "exactly the decodable rows flow to the main table")
    assert(spark.table("quar_spec_main").columns.contains("batch_id"))
    val dead = spark.table("quar_spec_dead")
    assert(dead.select("media_id", "st").as[(Long, String)].collect()
      .toMap == Map(3L -> "undecodable", 4L -> "empty_payload",
        5L -> "null_payload"))
    // verbatim: the original payload bytes survive for forensics
    val g = dead.filter(col("media_id") === 3L)
      .select("payload").as[Array[Byte]].collect()(0)
    assert(new String(g, "UTF-8") == "garbage")
  }

  test("idempotent quarantine sink: a replayed batch rewrites its own partition, other batches untouched") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // two batches of plain rows; 'status' pre-computed so the split is
    // pure routing — the property under test is the SINK semantics
    val dir = Files.createTempDirectory("idem_sink").toString
    Seq((1L, "ok"), (2L, "bad")).toDF("id", "st").coalesce(1)
      .write.parquet(s"$dir/in")
    Seq((3L, "ok"), (4L, "ok")).toDF("id", "st").coalesce(1)
      .write.mode("append").parquet(s"$dir/in")
    val sch = spark.read.parquet(s"$dir/in").schema
    val mainP = s"$dir/main"; val deadP = s"$dir/dead"
    def healthy(b: org.apache.spark.sql.DataFrame) =
      b.select(col("id"), (col("id") * 10).as("v"))
    StreamingParse.quarantineStreamIdempotent(
      spark.readStream.schema(sch).option("maxFilesPerTrigger", 1)
        .parquet(s"$dir/in"),
      "st", healthy, mainP, deadP)
    val once = spark.read.parquet(mainP)
      .select("id", "v", "batch_id").collect().toSet
    assert(once.map(r => (r.getLong(0), r.getLong(1))) ==
      Set((1L, 10L), (3L, 30L), (4L, 40L)))
    assert(once.map(_.get(2).toString.toLong).size == 2,
      "the two files must land as two batch partitions")
    // crash-redelivery of batch containing id 1: same rows, same id.
    // An append sink would now hold id 1 twice; a FULL overwrite
    // would drop the other batch's partition. Dynamic overwrite must
    // leave the output byte-identical.
    val b0 = spark.read.parquet(mainP)
      .filter(col("id") === 1L).select(col("batch_id").cast("long"))
      .collect()(0).getLong(0)
    StreamingParse.applyQuarantineBatchIdempotent(
      Seq((1L, "ok"), (2L, "bad")).toDF("id", "st"), b0, "st", healthy,
      mainP, deadP)
    val twice = spark.read.parquet(mainP)
      .select("id", "v", "batch_id").collect().toSet
    assert(twice == once,
      "a replayed batch must leave the main sink byte-identical")
    assert(spark.read.parquet(deadP).select("id").collect()
      .map(_.getLong(0)).toSeq == Seq(2L),
      "the quarantine side replays idempotently too")
  }

  test("four-tier batched cascade: per-tier reasons, takedowns flip next pass, idempotent replay") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    import graft.operators.{Dedup, Similarity, TextAnalysis}
    val accepted = Seq(
      (1L, "alpha bravo charlie delta echo foxtrot golf hotel india juliet"),
      (2L, "kilo lima mike november oscar papa quebec romeo sierra tango"),
      (3L, "uniform victor whiskey xray yankee zulu apple banana cherry dates"))
      .toDF("doc_id", "text")
    graft.sources.Generations.clearLedger(spark, "casc_ng_tombstones")
    graft.sources.Generations.clearLedger(spark, "casc_idx_tombstones")
    Dedup.writeNgramIndexRooted(spark, "casc_ng",
      Dedup.buildNgramIndex(accepted, "doc_id", "text", n = 4),
      numBuckets = 2)
    Similarity.writeIvfIndexBucketed(
      Similarity.buildIvf(
        TextAnalysis.hashEmbed(accepted, "text", dim = 64)
          .select($"doc_id", $"embedding"),
        "doc_id", "embedding", nCells = 2, lloydIters = 1),
      "casc_idx", numBuckets = 2)
    val acceptedTexts = accepted
      .groupBy($"text").agg(min($"doc_id").as("exact_id"))
    val dir = Files.createTempDirectory("casc4").toString
    Seq(
      (101L, "alpha bravo charlie delta echo foxtrot golf hotel india juliet"),
      // tail-token paraphrase: evades exact, Jaccard 7/9 > 0.5, and
      // its cosine sqrt(10/12) ≈ 0.913 sits BELOW tau 0.92 — the row
      // only the fuzzy tier can reject
      (102L, "kilo lima mike november oscar papa quebec romeo sierra tango junk tail"),
      // reversed token order: 4-gram Jaccard ~0 (sails through
      // fuzzy), bag-of-words embedding identical (cosine 1.0)
      (103L, "dates cherry banana apple zulu yankee xray whiskey victor uniform"),
      (104L, "short"),
      (105L, "completely different words entirely novel content here okay then"))
      .toDF("doc_id", "text").coalesce(1).write.parquet(s"$dir/in")
    val sch = spark.read.parquet(s"$dir/in").schema
    def run(out: String, accTexts: org.apache.spark.sql.DataFrame): Map[Long, (Boolean, String)] = {
      StreamingParse.admissionCascadeBatchedStream(
        spark.readStream.schema(sch).parquet(s"$dir/in"),
        "doc_id", "text", accTexts, minLen = 20,
        maxNonAlphaRatio = 0.3, ngramPrefix = "casc_ng", n = 4,
        threshold = 0.5, maxBucket = 50, annPrefix = "casc_idx",
        tau = 0.92, dim = 64, nProbe = 2, outPath = s"$dir/$out")
      spark.read.parquet(s"$dir/$out")
        .select("doc_id", "cascade_admitted", "reason").collect()
        .map(r => r.getLong(0) -> (r.getBoolean(1), r.getString(2)))
        .toMap
    }
    val pre = run("pre", acceptedTexts)
    assert(pre(101L) == (false, "exact"))
    assert(pre(102L) == (false, "fuzzy"),
      s"the paraphrase must reject at the FUZZY tier: ${pre(102L)}")
    assert(pre(103L) == (false, "semantic"),
      s"the reversed copy must reach the semantic tier: ${pre(103L)}")
    assert(pre(104L)._2 == "quality")
    assert(pre(105L) == (true, null))
    // takedowns against the fuzzy + semantic durable faces: the next
    // stream pass must flip exactly the removed sources' arrivals
    Dedup.tombstoneNgramIndex(spark, "casc_ng",
      Seq(2L, 3L).toDF("doc_id"))
    Similarity.tombstoneIvf(spark, "casc_idx",
      Seq(2L, 3L).toDF("doc_id"), "doc_id")
    val post = run("post", acceptedTexts)
    assert(post(102L) == (true, null),
      s"ngram takedown must admit the paraphrase in-stream: ${post(102L)}")
    assert(post(103L) == (true, null),
      s"vector takedown must admit the reversed copy: ${post(103L)}")
    assert(post(101L) == (false, "exact") && post(104L)._2 == "quality" &&
      post(105L) == (true, null), "untouched rows must hold")
    // crash-redelivery: replaying the batch must leave the output
    // byte-identical (dynamic overwrite of its own partition)
    val outDf = spark.read.parquet(s"$dir/post")
    val bId = outDf.agg(max($"batch_id".cast("long"))).collect()(0).getLong(0)
    val once = outDf.collect().toSet
    StreamingParse.applyCascadeBatch(spark,
      spark.read.parquet(s"$dir/in"), bId, "doc_id", "text",
      acceptedTexts, 20, 0.3, "casc_ng", 4, 0.5, 50, "casc_idx",
      0.92, 64, 2, s"$dir/post")
    assert(spark.read.parquet(s"$dir/post").collect().toSet == once,
      "a replayed batch must leave the sink byte-identical")
  }

  test("media batched cascade: decisions ≡ one-pass on the live faces, takedowns flip next pass, idempotent replay") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    import graft.operators.{Dedup, Similarity}
    // codec-free fixture: signatures and vectors fed directly — the
    // bytes→signal bridges are pinned elsewhere (q118/q125/q148); this
    // pins the CASCADE algebra across the two execution shapes
    val refs = Seq(
      (1L, 0x0L, Seq(1.0, 0.0, 0.0, 0.0)),
      (2L, 0x00FFL, Seq(0.0, 1.0, 0.0, 0.0)),
      (3L, 0x0F0F0F0F0F0F0F0FL, Seq(0.0, 0.0, 1.0, 0.0)))
      .toDF("media_id", "sig", "vec")
    graft.sources.Generations.clearLedger(spark, "mcasc_ham_tombstones")
    graft.sources.Generations.clearLedger(spark, "mcasc_ivf_tombstones")
    // perceptual window = refs 1-2 only; vector corpus = refs 1-3
    Dedup.writeHammingMembers(spark,
      Dedup.hammingBandMembers(refs.filter($"media_id" <= 2)
          .select($"media_id", $"sig"),
        "media_id", "sig", maxHamming = 2), "mcasc_ham")
    Similarity.writeIvfIndexBucketed(
      Similarity.buildIvf(refs.select($"media_id", $"vec"), "media_id",
        "vec", nCells = 2, lloydIters = 1), "mcasc_ivf", numBuckets = 2)
    val batch = Seq(
      (101L, "ok", Some(1L), Some(Seq(0.9, 0.1, 0.0, 0.0))),
      (102L, "ok", Some(0x7777777777777777L),
        Some(Seq(0.0, 0.0, 1.0, 0.0))),
      (103L, "ok", Some(0x7777777777777777L ^ 0xF0F0L),
        Some(Seq(0.0, 0.0, 0.0, 1.0))),
      (104L, "undecodable", None: Option[Long],
        None: Option[Seq[Double]]))
      .toDF("media_id", "status", "sig", "vec")
    val dir = Files.createTempDirectory("mcasc").toString
    batch.coalesce(1).write.parquet(s"$dir/in")
    val sch = spark.read.parquet(s"$dir/in").schema
    type D = Map[Long, (Boolean, String, Option[Long], Option[Long])]
    def decode(df: org.apache.spark.sql.DataFrame): D =
      df.select($"media_id", $"cascade_admitted", $"reason",
          $"perceptual_match_id", $"semantic_match_id").collect()
        .map(r => r.getLong(0) -> ((r.getBoolean(1), r.getString(2),
          if (r.isNullAt(3)) None else Some(r.getLong(3)),
          if (r.isNullAt(4)) None else Some(r.getLong(4)))))
        .toMap
    def runBatched(out: String): D = {
      StreamingParse.mediaAdmissionCascadeBatchedStream(
        spark.readStream.schema(sch).parquet(s"$dir/in"),
        "media_id", "status", "sig", membersTable = "mcasc_ham",
        maxHamming = 2, vecCol = "vec", annPrefix = "mcasc_ivf",
        tau = 0.9, nProbe = 2, outPath = s"$dir/$out")
      decode(spark.read.parquet(s"$dir/$out"))
    }
    def runOnePass(tag: String): D = {
      val members = Dedup.readHammingMembersLive(spark, "mcasc_ham")
        .persist()
      val index = Similarity.readIvfIndexLive(spark, "mcasc_ivf")
      val cm = Similarity.cellMembersLive(spark, "mcasc_ivf").persist()
      members.count(); cm.count()
      val q = StreamingParse.mediaAdmissionCascadeStream(
          spark.readStream.schema(sch).parquet(s"$dir/in"),
          "media_id", "status", "sig", members, maxHamming = 2,
          "vec", index, cm, tau = 0.9, nProbe = 2)
        .writeStream.format("memory").queryName(tag)
        .outputMode("append").start()
      try {
        q.processAllAvailable()
        decode(spark.table(tag))
      } finally { q.stop(); members.unpersist(); cm.unpersist() }
    }
    val pre = runBatched("pre")
    assert(pre(101L) == (false, "perceptual", Some(1L), None), s"${pre(101L)}")
    assert(pre(102L) == (false, "semantic", None, Some(3L)), s"${pre(102L)}")
    assert(pre(103L) == (true, null, None, None), s"${pre(103L)}")
    assert(pre(104L)._2 == "dead_letter", s"${pre(104L)}")
    assert(runOnePass("mcasc_pre") == pre,
      "batched decisions must equal the one-pass cascade on the same live faces")
    // takedowns against both durable faces: the next pass flips
    // exactly the removed refs' dependents, no restart
    Dedup.tombstoneHammingMembers(spark, "mcasc_ham",
      Seq(1L).toDF("media_id"))
    Similarity.tombstoneIvf(spark, "mcasc_ivf",
      Seq(1L, 3L).toDF("media_id"), "media_id")
    val live = runBatched("live")
    assert(live(101L) == (true, null, None, None),
      s"perceptual takedown must admit ref 1's look-alike: ${live(101L)}")
    assert(live(102L) == (true, null, None, None),
      s"vector takedown must admit ref 3's copy: ${live(102L)}")
    assert(live(103L) == pre(103L) && live(104L) == pre(104L),
      "untouched rows must hold")
    assert(runOnePass("mcasc_live") == live,
      "one-pass over the re-read live faces must agree post-takedown")
    // crash-redelivery: replaying the batch rewrites its own
    // partition byte-identically
    val once = spark.read.parquet(s"$dir/live").collect().toSet
    StreamingParse.applyMediaCascadeBatch(spark,
      spark.read.parquet(s"$dir/in"), 0L, "media_id", "status", "sig",
      "mcasc_ham", 2, "vec", "mcasc_ivf", 0.9, 2, s"$dir/live")
    assert(spark.read.parquet(s"$dir/live").collect().toSet == once,
      "a replayed batch must leave the sink byte-identical")
  }
}
