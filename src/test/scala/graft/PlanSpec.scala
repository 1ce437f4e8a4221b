package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan

/** Physical-plan assertions: the optimizations the engine relies on at
  * scale must actually appear in the executed plans — filter/column
  * pushdown into the parquet scan, broadcast joins for small sides,
  * partial aggregation, whole-stage codegen, and no cartesian products
  * anywhere in the catalog.
  */
class PlanSpec extends SparkSpec {

  val sf = "/root/testdata/sf0.001"

  def planOf(q: String): String = {
    val df = SparkEntry.queries(q)(spark, sf)
    df.queryExecution.executedPlan.toString
  }

  test("q02: predicate and projection pushed to the parquet scan") {
    val p = planOf("q02_filter_project")
    Seq("IsNotNull(event_type)", "EqualTo(event_type,purchase)",
        "GreaterThan(value,100.0)").foreach { f =>
      assert(p.contains(f), s"filter $f not pushed in:\n${p.take(2000)}")
    }
    // column pruning: props (never used) must not be read
    assert(p.contains("ReadSchema") && !p.contains("props"),
      "props column should be pruned from the scan")
  }

  test("q03: dimension side broadcast, fact join shuffled, partial agg") {
    val p = planOf("q03_join_agg")
    assert(p.contains("BroadcastHashJoin"), "customer should broadcast")
    assert(p.contains("HashAggregate"), "hash aggregate expected")
    assert(p.contains("partial_"), "map-side partial aggregation expected")
  }

  test("q04: global sort+limit becomes TakeOrderedAndProject") {
    val p = planOf("q04_topk")
    assert(p.contains("TakeOrderedAndProject"), s"got:\n${p.take(1500)}")
  }

  test("q01: two-level hash aggregate with map-side partials") {
    val p = planOf("q01_agg")
    assert(p.contains("HashAggregate"))
    assert(p.contains("partial_sum"), "map-side combine expected")
    // only the needed 5 columns are read
    assert(!p.contains("l_orderkey"), "unused columns should be pruned")
  }

  test("q30: sub-second resample is one partial-aggregated shuffle on a pruned scan") {
    val p = planOf("q30_resample_ms")
    assert(p.contains("partial_sum"), "map-side combine expected")
    assert(p.contains("ReadSchema") && !p.contains("event_id"),
      "unused columns should be pruned from the events scan")
  }

  test("q31: ANN index probes broadcast the small sides") {
    val p = planOf("q31_ann_recall")
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastExchange"),
      "centroids/queries should broadcast, never shuffle the corpus")
  }

  test("q32: fingerprint fold is a pure projection (no shuffle before the sort)") {
    val p = planOf("q32_rolling_fingerprint")
    assert(!p.contains("HashAggregate"), "no aggregation expected")
    assert(p.split("Exchange").length <= 3, // output sort only
      s"unexpected extra shuffles:\n${p.take(1500)}")
  }

  test("q35: every dimension side broadcasts; only the fact spine shuffles") {
    val p = planOf("q35_star_join")
    // 5 dimension joins (customer/supplier/nation/region/part) must all
    // be broadcast hash joins; a shuffle of a dimension would mean
    // Catalyst lost the size estimate
    assert(p.split("BroadcastHashJoin").length >= 6,
      s"expected ≥5 broadcast joins:\n${p.take(2000)}")
    assert(p.contains("PushedFilters: [IsNotNull(p_size), LessThan(p_size,25)"),
      "part filter should push into the scan")
  }

  test("q39: rollup compiles to Expand + partial-aggregated hash aggregate") {
    val p = planOf("q39_rollup_stats")
    assert(p.contains("Expand"), "grouping sets should use Expand")
    assert(p.contains("partial_"), "map-side partial aggregation expected")
  }

  test("q48: salted aggregate runs two aggregate levels on the salt then the key") {
    val p = planOf("q48_salted_agg")
    assert(p.contains("__salt"), "salt grouping expected in the plan")
    assert(p.contains("partial_sum"), "map-side combine expected")
  }

  test("q47: chunking is a pure generator — no shuffle but the output sort") {
    val p = planOf("q47_chunk_overlap")
    assert(p.contains("Generate"), "explode-based chunker expected")
    assert(!p.contains("HashAggregate") && !p.contains("Join"),
      "no aggregation or join expected")
    assert(p.split("Exchange").length <= 2, // output range sort only
      s"unexpected extra shuffles:\n${p.take(1500)}")
  }

  test("q41: packing shuffles once for the per-shard window") {
    val p = planOf("q41_sequence_pack")
    assert(p.contains("Window"), "running-count window expected")
    // one hash exchange for the window partitioning + the output sort
    assert(p.split("Exchange").length <= 3,
      s"unexpected extra shuffles:\n${p.take(1500)}")
  }

  test("q57: quality flags are one pure projection (no shuffle but the sort)") {
    val p = planOf("q57_gopher_rules")
    assert(!p.contains("HashAggregate") && !p.contains("Join"),
      "no aggregation or join expected")
    assert(p.split("Exchange").length <= 2, // output range sort only
      s"unexpected extra shuffles:\n${p.take(1500)}")
  }

  test("q55: token-budget sample shuffles once for the per-shard window") {
    val p = planOf("q55_token_budget")
    assert(p.contains("Window"), "running-total window expected")
    assert(!p.contains("Join"), "no join expected")
    // the window's hash exchange + the output sort, nothing else
    assert(p.split("Exchange").length <= 3,
      s"unexpected extra shuffles:\n${p.take(1500)}")
  }

  test("q53: exact percentile partial-aggregates map-side") {
    val p = planOf("q53_length_quantiles")
    assert(p.contains("ObjectHashAggregate") || p.contains("SortAggregate"),
      "percentile uses an object/sort aggregate")
    assert(p.contains("partial_"), "map-side partial aggregation expected")
  }

  test("q58: repetition flags are a pure projection — no shuffle, no join") {
    val p = planOf("q58_gopher_repetition")
    // intra-document statistics: the native RepetitionStats expression
    // groups units/grams inside the row, so the only exchange allowed
    // is the gate's final orderBy
    assert(!p.contains("Generate"), "no explode expected")
    assert(!p.contains("Join"), "no join expected")
    assert(p.split("Exchange").length <= 2,
      s"only the orderBy range exchange expected:\n${p.take(1500)}")
  }

  test("q59: paragraph dedup is explode + keyed aggregates, no window") {
    val p = planOf("q59_paragraph_dedup")
    assert(p.contains("partial_"), "map-side partial aggregation expected")
    assert(p.contains("Generate"), "posexplode of paragraphs expected")
    // first-occurrence selection is a min-struct aggregate, NOT a
    // row_number window over the corpus-wide paragraph partitioning
    assert(!p.contains("Window"), "no corpus-wide window expected")
  }

  test("q83: span dedup is explode + keyed aggregates + anti join, no window") {
    val p = planOf("q83_substring_dedup")
    assert(p.contains("Generate"), "gram/word explodes expected")
    assert(p.contains("partial_"), "map-side partial aggregation expected")
    assert(p.contains("LeftAnti"), "covered-word removal is an anti join")
    // first-occurrence selection is a min-struct aggregate, NOT a
    // row_number window over the corpus-wide gram partitioning
    assert(!p.contains("Window"), "no corpus-wide window expected")
  }

  test("q86: span decontamination probes benchmark grams via a semi join") {
    val p = planOf("q86_span_decontam")
    assert(p.contains("LeftSemi"),
      "benchmark-gram hit detection must be a semi join, not a full join")
    assert(p.contains("LeftAnti"), "covered-word removal is an anti join")
    assert(!p.contains("Window"), "no corpus-wide window expected")
  }

  test("q88: winnow fingerprinting is a pure projection — no join, no window") {
    val p = planOf("q88_winnow_fingerprints")
    assert(p.contains("Generate"), "fingerprint explode expected")
    assert(!p.contains("Join"), "no join expected — per-row work only")
    assert(!p.contains("Window"), "no window expected")
  }

  test("q89: winnow containment joins only on the fingerprint key") {
    val p = planOf("q89_winnow_containment")
    assert(p.contains("partial_"), "map-side partial aggregation expected")
    assert(!p.contains("Window"), "no window expected")
  }

  test("q84: LR scoring is join-free over a plan-literal weight table") {
    val p = planOf("q84_quality_lr")
    // the fitted model enters as a literal array: scoring is feature
    // explode + one aggregate keyed by doc — no weight-table join, no
    // window, and nothing non-broadcast beyond the keyed aggregates
    assert(p.contains("Generate"), "feature explode expected")
    assert(p.contains("partial_"), "map-side partial aggregation expected")
    assert(!p.contains("Window"), "no window expected")
    assert(!p.contains("SortMergeJoin"),
      "no shuffle join expected in scoring (model is a plan literal)")
  }

  test("q60: SQ search broadcasts stats+queries; corpus codes never shuffle pre-rank") {
    val p = planOf("q60_sq_ann_recall")
    assert(p.contains("BroadcastExchange"),
      "stats row and query batch must broadcast")
    assert(p.contains("Window"), "per-query rank window expected")
  }

  test("q66: IVF×SQ approx pass joins probed cells to int8 codes, floats only at rerank") {
    val p = planOf("q66_ivfsq_ann_recall")
    assert(p.contains("BroadcastExchange"),
      "stats row, centroids and query batch must broadcast")
    // the candidate generator is the probe→cell equi join (cell-pruned),
    // never a scan of the whole code table per query
    assert(p.contains("cell#"), "probe join on the IVF cell key expected")
    // the approximate scorer reads the int8 code column
    assert(p.contains("codes#"), "code-word column expected in the approx pass")
    assert(p.contains("Window"), "per-query rank windows expected")
  }

  test("q61: unigram scoring partial-aggregates; only the 1-row total broadcasts") {
    val p = planOf("q61_unigram_logprob")
    assert(p.contains("partial_"), "map-side partial aggregation expected")
    assert(p.contains("BroadcastExchange"), "1-row corpus total broadcasts")
  }

  test("q62/q63: gram-bucket audits generate candidates, never all-pairs") {
    Seq("q62_contamination_report", "q63_split_leakage").foreach { q =>
      val p = planOf(q)
      assert(p.contains("Generate"), s"$q: bucket pair-explode expected")
      assert(p.contains("partial_"), s"$q: partial aggregation expected")
    }
  }

  test("q64: DSIR ratio table broadcasts; selection is distributed top-k") {
    val p = planOf("q64_dsir_select")
    assert(p.contains("BroadcastExchange"),
      "bucket-bounded ratio table must broadcast")
    assert(p.contains("TakeOrderedAndProject"),
      "k-selection must be distributed top-k, not a global sort")
    assert(p.contains("partial_"), "map-side partial aggregation expected")
  }

  test("q65: unify stages plan against the disk-backed stage boundary") {
    // the season pipeline writes the resampled and forecast-unified
    // tables to parquet stage boundaries (Seasons.run) — without the
    // boundary, every unify-stage reference duplicates the whole
    // upstream subtree (measured: 300+ Exchange nodes on a 5-signal
    // fixture) and driver-side re-optimization dominates wall time;
    // disk-backed (vs the round-8 MEMORY_AND_DISK persist) the stage
    // outputs leave nothing on the shared heap after their job ends
    val p = planOf("q65_season_e2e")
    // the Location string truncates at spark.sql.maxMetadataStringLength
    // (100), so match the stable path prefix, not the full dir name
    assert(p.contains("_stages/q65/stage_1min_for"),
      "expected the gps unify to scan the forecast-stage parquet boundary")
    assert(!p.contains("InMemoryTableScan") && !p.contains("TableCacheQueryStage"),
      "season stage boundaries must not pin the session cache")
  }

  test("q99: percentile thresholds partial-aggregate and broadcast back") {
    val p = planOf("q99_perplexity_buckets")
    assert(p.contains("partial_percentile"),
      "threshold aggregation must partial-combine map-side")
    assert(p.contains("BroadcastHashJoin"),
      "the <=|languages|-row threshold frame must broadcast, not shuffle " +
        "the corpus")
    assert(!p.contains("Window"), "no corpus-wide rank window allowed")
  }

  test("q94: bloom probe is a projection; only positives reach the anti join") {
    val df = SparkEntry.queries("q94_bloom_incremental_exact")(spark, sf)
    // the native predicate lives in the optimized plan (the physical
    // toString elides aggregate result projections, where the probe
    // column is computed)
    val opt = df.queryExecution.optimizedPlan.toString
    assert(opt.contains("might_contain"),
      "the Bloom probe must appear as a native might_contain predicate")
    // the admission split: a NOT(__mc) filter branch that bypasses the
    // join entirely, and a LeftAnti verification join fed by the
    // positive (__mc) branch only
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("LeftAnti"), "verification anti join expected")
    // (the probe is null-coalesced since the null-total split — match
    // the negated-coalesce filter shape)
    assert(p.linesIterator.exists(l =>
        l.contains("Filter") && l.contains("NOT coalesce(__mc")),
      "the negative branch must be a join-free Filter on the probe")
  }

  test("catalog-wide: no CartesianProduct or BroadcastNestedLoopJoin in hot paths") {
    // the deliberate tiny cross joins (grid × users) must come in
    // broadcast form; a CartesianProduct of two big sides would be a
    // scale bug anywhere in the catalog
    SparkEntry.queries.keys.foreach { q =>
      val p = planOf(q)
      assert(!p.contains("CartesianProduct"), s"CartesianProduct in $q")
    }
  }

  test("writeTable: a prior-session orphan location is replaced, not fatal") {
    import spark.implicits._
    import org.apache.hadoop.fs.Path
    // simulate a dead session's leftovers: files at the table's default
    // managed location while THIS session's catalog knows no such
    // table (the in-memory catalog forgets across JVMs; the
    // filesystem does not) — saveAsTable alone would refuse with
    // LOCATION_ALREADY_EXISTS; writeTable must clear the orphan and
    // succeed (single-writer discipline documented on
    // dropStaleManagedLocation)
    val name = "graft_orphan_test"
    val loc = new Path(org.apache.spark.sql.GraftExpressionBridge
      .defaultManagedTablePath(spark, name))
    val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(loc)
    fs.create(new Path(loc, "part-orphan.parquet")).close()
    assert(!spark.catalog.tableExists(name))
    graft.sources.Sinks.writeTable(Seq((1L, "a")).toDF("k", "v"), name)
    assert(spark.table(name).count() == 1)
    spark.sql(s"DROP TABLE $name")
  }

  test("bucketed tables: equi-join on the bucket key is shuffle-free") {
    import spark.implicits._
    val a = (1L to 1000L).map(i => (i, s"a$i")).toDF("k", "va")
    val b = (1L to 1000L).map(i => (i, s"b$i")).toDF("k", "vb")
    graft.sources.Sinks.writeBucketed(a, "bk_a", Seq("k"), 4)
    graft.sources.Sinks.writeBucketed(b, "bk_b", Seq("k"), 4)
    // force the sort-merge path (tiny test tables would broadcast,
    // which hides the property under test: bucket-layout reuse)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val joined = spark.table("bk_a").join(spark.table("bk_b"), "k")
      val p = joined.queryExecution.executedPlan.toString
      // bucket co-location: the pre-shuffled layout must be reused —
      // no Exchange on either join side (the one-time write-side
      // shuffle replaced both query-time shuffles)
      assert(!p.contains("Exchange"), s"join should be co-located:\n${p.take(2000)}")
      assert(joined.count() == 1000)
    } finally spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
  }

  test("q26: per-query top-k gets a map-side WindowGroupLimit") {
    // the rank()<=k filter must become a PARTIAL WindowGroupLimit
    // below the exchange — only k rows per partition shuffle, which is
    // what keeps the brute-force ANN baseline's window from carrying
    // the full query×corpus score table
    val p = planOf("q26_ann_topk")
    assert(p.contains("WindowGroupLimit"), s"got:\n${p.take(1500)}")
    assert(p.contains("Partial"), "expected a map-side partial group limit")
  }

  test("Dedup.exact is a partial-aggregated min_by, not a window sort") {
    import spark.implicits._
    val df = (1L to 100L).map(i => (i, s"t${i % 10}", i * 2))
      .toDF("doc_id", "text", "extra")
    val p = graft.operators.Dedup.exact(df, Seq("text"), "doc_id")
      .queryExecution.executedPlan.toString
    assert(p.contains("partial_min_by"),
      s"map-side combine expected in:\n${p.take(2000)}")
    assert(!p.contains("row_number"),
      "exact dedup must not shuffle+sort every row through a window")
  }

  test("ngram index bucketed on gram: batch probe runs without an index-side shuffle") {
    import spark.implicits._
    import graft.operators.Dedup
    val corpus = (1L to 300L).map(i =>
      (i, s"corpus doc $i with shared words w${i % 9} w${i % 7} w${i % 5} tail"))
      .toDF("doc_id", "text")
    val batch = (1000L to 1040L).map(i =>
      (i, s"batch doc $i with shared words w${i % 9} w${i % 7} w${i % 5} tail"))
      .toDF("doc_id", "text")
    val mem = Dedup.buildNgramIndex(corpus, "doc_id", "text", n = 3)
    Dedup.writeNgramIndexBucketed(mem, "ngram_idx_plan", numBuckets = 4)
    val disk = Dedup.readNgramIndex(spark, "ngram_idx_plan", "doc_id", 3)
    val bg = Dedup.gramTable(batch, "doc_id", "text", 3)
    def exchanges(df: DataFrame): Int = {
      val p = df.queryExecution.executedPlan.toString
      "Exchange hashpartitioning".r.findAllIn(p).size
    }
    // the load-bearing claim of build-once/search-many: the index
    // side's per-gram aggregation reads the bucket layout directly —
    // the probe join plans with one FEWER hash exchange against the
    // bucketed table than against the same grams in memory (that
    // missing exchange is the one that would re-shuffle the ACCEPTED
    // CORPUS per batch)
    val viaDisk = Dedup.crossJaccardFromGrams(bg, disk.grams, "doc_id",
      0.5, 50, containment = false, smallSide = "left")
    val viaMem = Dedup.crossJaccardFromGrams(bg, mem.grams, "doc_id",
      0.5, 50, containment = false, smallSide = "left")
    assert(exchanges(viaDisk) < exchanges(viaMem),
      s"bucketed index side should skip its gram shuffle: " +
        s"disk=${exchanges(viaDisk)} mem=${exchanges(viaMem)}")
    // and the table-backed index makes the SAME decisions
    val memKept = Dedup.incrementalDropNearDups(mem, batch, "text",
      threshold = 0.5).select("doc_id").collect().map(_.getLong(0)).toSet
    val diskKept = Dedup.incrementalDropNearDups(disk, batch, "text",
      threshold = 0.5).select("doc_id").collect().map(_.getLong(0)).toSet
    assert(diskKept === memKept)
  }

  test("IVF×SQ cellCodes bucketed on cell: probe join leaves the index unshuffled") {
    import spark.implicits._
    import graft.operators.Similarity
    val rnd = new scala.util.Random(7)
    val corpus = (1L to 200L).map(i =>
      (i, Array.fill(8)(rnd.nextDouble()))).toDF("vec_id", "embedding")
    val queries = corpus.filter($"vec_id" <= 5)
    val mem = Similarity.buildIvfSq(corpus, "vec_id", "embedding", nCells = 4)
    Similarity.writeIvfSqIndexBucketed(mem, "ivfsq_plan", numBuckets = 4)
    val disk = Similarity.readIvfSqIndex(spark, "ivfsq_plan")
    // force the sort-merge path (a tiny probe side would broadcast,
    // hiding the bucket-layout reuse under test)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val probe = (0 to 3).map(c => (c, c.toLong)).toDF("cell", "query_id")
      val j = disk.cellCodes.join(probe, "cell")
      val p = j.queryExecution.executedPlan.toString
      // exactly one exchange — the probe side; the bucketed index
      // side reads its layout directly
      assert("Exchange hashpartitioning".r.findAllIn(p).size == 1,
        s"expected only the probe-side shuffle:\n${p.take(2000)}")
    } finally spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    // table-backed search returns the same ranked neighbors
    val memTop = Similarity.searchIvfSq(mem, corpus, queries, "vec_id",
      "embedding", k = 3).collect().map(r => (r.getLong(0), r.getLong(1),
        r.getInt(3))).toSet
    val diskTop = Similarity.searchIvfSq(disk, corpus, queries, "vec_id",
      "embedding", k = 3).collect().map(r => (r.getLong(0), r.getLong(1),
        r.getInt(3))).toSet
    assert(diskTop === memTop)
  }

  test("LSH + plain IVF bucketed persistence: probe joins leave the index unshuffled") {
    import spark.implicits._
    import graft.operators.Similarity
    val rnd = new scala.util.Random(13)
    val corpus = (1L to 200L).map(i =>
      (i, Array.fill(8)(rnd.nextDouble()))).toDF("vec_id", "embedding")
    val queries = corpus.filter($"vec_id" <= 5)
    val memLsh = Similarity.buildLsh(corpus, "vec_id", "embedding",
      planes = 6)
    Similarity.writeLshIndexBucketed(memLsh, "lsh_plan", numBuckets = 4)
    val diskLsh = Similarity.readLshIndex(spark, "lsh_plan")
    assert(diskLsh.planes == 6)
    val memIvf = Similarity.buildIvf(corpus, "vec_id", "embedding",
      nCells = 4)
    Similarity.writeIvfIndexBucketed(memIvf, "ivf_plan", numBuckets = 4)
    val diskIvf = Similarity.readIvfIndex(spark, "ivf_plan")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      // one exchange each — the probe side; the bucketed index reads
      // its layout directly
      val lshProbe = (0L to 3L).map(b => (b, b)).toDF("bucket", "query_id")
      val pL = diskLsh.hashedCorpus.join(lshProbe, "bucket")
        .queryExecution.executedPlan.toString
      assert("Exchange hashpartitioning".r.findAllIn(pL).size == 1,
        s"LSH: expected only the probe-side shuffle:\n${pL.take(2000)}")
      val ivfProbe = (0 to 3).map(c => (c.toLong, c.toLong))
        .toDF("cell", "query_id")
      val pI = diskIvf.corpusCells.join(ivfProbe, "cell")
        .queryExecution.executedPlan.toString
      assert("Exchange hashpartitioning".r.findAllIn(pI).size == 1,
        s"IVF: expected only the probe-side shuffle:\n${pI.take(2000)}")
    } finally spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    // table-backed search returns the same ranked neighbors
    def top(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(3))).toSet
    assert(top(Similarity.searchLsh(diskLsh, queries, "vec_id",
        "embedding", k = 3)) ===
      top(Similarity.searchLsh(memLsh, queries, "vec_id",
        "embedding", k = 3)))
    assert(top(Similarity.searchIvf(diskIvf, queries, "vec_id",
        "embedding", k = 3)) ===
      top(Similarity.searchIvf(memIvf, queries, "vec_id",
        "embedding", k = 3)))
  }

  test("live IVF view: tombstone anti-join broadcasts; bucketed layout still reads shuffle-free") {
    import spark.implicits._
    import graft.operators.Similarity
    val corpus = (1L to 200L).map(i =>
      (i, Array(i.toDouble, (i % 7).toDouble))).toDF("vec_id", "embedding")
    Similarity.writeIvfIndexBucketed(
      Similarity.buildIvf(corpus, "vec_id", "embedding", nCells = 4),
      "ivf_live_plan", numBuckets = 4)
    Similarity.tombstoneIvf(spark, "ivf_live_plan",
      Seq(3L, 7L).toDF("vec_id"), "vec_id")
    val live = Similarity.readIvfIndexLive(spark, "ivf_live_plan")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val probe = (0 to 3).map(c => (c.toLong, c.toLong))
        .toDF("cell", "query_id")
      val p = live.corpusCells.join(probe, "cell")
        .queryExecution.executedPlan.toString
      // the exclusion must cost a BROADCAST anti join (the ledger is
      // bounded), never a shuffle of the corpus-scale cells side —
      // and the bucketed layout still feeds the probe join directly,
      // so the ONLY hash exchange is the small probe side
      assert(p.contains("BroadcastHashJoin") && p.contains("LeftAnti"),
        s"tombstone exclusion must broadcast:\n${p.take(2000)}")
      assert("Exchange hashpartitioning".r.findAllIn(p).size == 1,
        s"expected only the probe-side shuffle:\n${p.take(2000)}")
    } finally spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
  }

  test("durable IVF×PQ in-place append: O(new) files, ledger advances, torn append refuses") {
    import spark.implicits._
    import graft.operators.Similarity
    val rnd = new scala.util.Random(23)
    val all = (1L to 200L).map(i =>
      (i, Array.fill(8)(rnd.nextDouble()))).toDF("vec_id", "embedding")
    val b1 = all.filter($"vec_id" <= 120)
    val b2 = all.filter($"vec_id" > 120)
    val base = Similarity.buildIvfPq(b1, "vec_id", "embedding",
      nCells = 4, nSub = 4, nCentroids = 8)
    Similarity.writeIvfPqIndexBucketed(base, "ivfpq_grow", numBuckets = 2)
    // file inventory before the append — in-place growth must ADD
    // bucket files, never rewrite the existing ones (O(new) I/O)
    def dataFiles(): Set[String] = {
      val loc = new org.apache.hadoop.fs.Path(
        spark.sessionState.catalog.getTableMetadata(
          org.apache.spark.sql.catalyst.TableIdentifier("ivfpq_grow_cell_codes"))
          .location)
      val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.listStatus(loc).filter(_.getPath.getName.endsWith(".parquet"))
        .map(s => s"${s.getPath.getName}:${s.getModificationTime}").toSet
    }
    val before = dataFiles()
    Similarity.appendToIvfPqIndexBucketed(spark, "ivfpq_grow", b2,
      "vec_id", "embedding")
    val after = dataFiles()
    assert(before.subsetOf(after) && after.size > before.size,
      "append must add files without touching existing ones")
    // reopened appended index ≡ the in-memory append, row-for-row
    val disk = Similarity.readIvfPqIndex(spark, "ivfpq_grow")
    assert(disk.cellCodes.count() == 200L)
    val mem = Similarity.appendToIvfPq(base, b2, "vec_id", "embedding")
    val queries = all.filter($"vec_id" <= 5)
    def top(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(3))).toSet
    assert(top(Similarity.searchIvfPq(disk, all, queries, "vec_id",
        "embedding", k = 3)) ===
      top(Similarity.searchIvfPq(mem, all, queries, "vec_id",
        "embedding", k = 3)))
    // growth ledger: build counts + appended counts, totals exact
    val stats = Similarity.readIvfPqCellStats(spark, "ivfpq_grow")
      .collect().map(r => (r.getLong(1), r.getLong(2)))
    assert(stats.map(_._1).sum == 120L && stats.map(_._2).sum == 80L,
      s"ledger must split built/appended: ${stats.mkString(",")}")
    // torn append (crash inside the poison window): refuse loudly
    graft.sources.Generations.clearEpochTokens(spark, "ivfpq_grow_cell_codes")
    assert(intercept[IllegalArgumentException] {
      Similarity.readIvfPqIndex(spark, "ivfpq_grow")
    }.getMessage.contains("epoch token"))
  }

  test("index epoch tokens: a torn same-prefix rebuild refuses to reopen") {
    import spark.implicits._
    import graft.operators.Similarity
    val rnd = new scala.util.Random(17)
    val corpus = (1L to 50L).map(i =>
      (i, Array.fill(8)(rnd.nextDouble()))).toDF("vec_id", "embedding")
    // healthy write + reopen works (epoch stamped and validated)
    val idx = Similarity.buildLsh(corpus, "vec_id", "embedding", planes = 6)
    Similarity.writeLshIndexBucketed(idx, "lsh_torn", numBuckets = 2)
    assert(Similarity.readLshIndex(spark, "lsh_torn").planes == 6)
    // simulate the advisor's crash window: a same-prefix rebuild dies
    // AFTER the hashed-table overwrite (which wiped the old epoch
    // token with the old files) but BEFORE the meta write — the OLD
    // meta still resolves, paired with NEW data
    graft.sources.Sinks.writeBucketed(
      Similarity.buildLsh(corpus, "vec_id", "embedding", planes = 8)
        .hashedCorpus, "lsh_torn_hashed", Seq("bucket"), 2)
    val e = intercept[IllegalArgumentException] {
      Similarity.readLshIndex(spark, "lsh_torn")
    }
    assert(e.getMessage.contains("epoch token"),
      s"expected the epoch-token refusal, got: ${e.getMessage}")
    // same discipline on the IVF family
    val ivf = Similarity.buildIvf(corpus, "vec_id", "embedding", nCells = 4)
    Similarity.writeIvfIndexBucketed(ivf, "ivf_torn", numBuckets = 2)
    assert(Similarity.readIvfIndex(spark, "ivf_torn")
      .centroids.count() > 0)
    graft.sources.Sinks.writeTable(ivf.centroids, "ivf_torn_centroids")
    assert(intercept[IllegalArgumentException] {
      Similarity.readIvfIndex(spark, "ivf_torn")
    }.getMessage.contains("epoch token"))
  }

  test("IVF×PQ cellCodes bucketed on cell: probe join leaves the index unshuffled") {
    import spark.implicits._
    import graft.operators.Similarity
    val rnd = new scala.util.Random(11)
    val corpus = (1L to 200L).map(i =>
      (i, Array.fill(8)(rnd.nextDouble()))).toDF("vec_id", "embedding")
    val queries = corpus.filter($"vec_id" <= 5)
    val mem = Similarity.buildIvfPq(corpus, "vec_id", "embedding",
      nCells = 4, nSub = 4, nCentroids = 8)
    Similarity.writeIvfPqIndexBucketed(mem, "ivfpq_plan", numBuckets = 4)
    val disk = Similarity.readIvfPqIndex(spark, "ivfpq_plan")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val probe = (0 to 3).map(c => (c, c.toLong)).toDF("cell", "query_id")
      val j = disk.cellCodes.join(probe, "cell")
      val p = j.queryExecution.executedPlan.toString
      // exactly one exchange — the probe side; the bucketed index
      // side reads its layout directly
      assert("Exchange hashpartitioning".r.findAllIn(p).size == 1,
        s"expected only the probe-side shuffle:\n${p.take(2000)}")
    } finally spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    // table-backed search returns the same ranked neighbors
    val memTop = Similarity.searchIvfPq(mem, corpus, queries, "vec_id",
      "embedding", k = 3).collect().map(r => (r.getLong(0), r.getLong(1),
        r.getInt(3))).toSet
    val diskTop = Similarity.searchIvfPq(disk, corpus, queries, "vec_id",
      "embedding", k = 3).collect().map(r => (r.getLong(0), r.getLong(1),
        r.getInt(3))).toSet
    assert(diskTop === memTop)
  }

  test("exact index bucketed on __h: verification join skips the index-side shuffle") {
    import spark.implicits._
    import graft.operators.Dedup
    val corpus = (1L to 400L).map(i => (i, s"exact plan corpus doc $i"))
      .toDF("doc_id", "text")
    val mem = Dedup.buildExactIndex(corpus, "text", shards = 2)
    val dir = java.nio.file.Files.createTempDirectory("exact_plan").toString
    Dedup.writeExactIndexBucketed(mem, "exact_idx_plan", s"$dir/idx",
      numBuckets = 4)
    val disk = Dedup.readExactIndex(spark, "exact_idx_plan", s"$dir/idx")
    val batch = (1000L to 1050L).map(i =>
      (i, if (i % 2 == 0) s"exact plan corpus doc ${i % 400}"
          else s"novel batch doc $i")).toDF("doc_id", "text")
    def exchanges(df: DataFrame): Int = {
      val p = df.queryExecution.executedPlan.toString
      "Exchange hashpartitioning".r.findAllIn(p).size
    }
    val viaDisk = Dedup.incrementalDropExactDups(disk, batch, "doc_id", "text")
    val viaMem = Dedup.incrementalDropExactDups(mem, batch, "doc_id", "text")
    assert(exchanges(viaDisk) < exchanges(viaMem),
      s"bucketed index side should skip its shuffle in the verification " +
        s"join: disk=${exchanges(viaDisk)} mem=${exchanges(viaMem)}")
    // and the decisions are identical either way
    val a = viaDisk.select("doc_id").as[Long].collect().sorted.toSeq
    val b = viaMem.select("doc_id").as[Long].collect().sorted.toSeq
    assert(a == b && a.nonEmpty)
  }

  test("bpe word pieces bucketed on w: reopened tokenCount skips the vocab-side shuffle") {
    import spark.implicits._
    import graft.operators.Bpe
    val corpus = (1L to 200L).map(i =>
      (i, s"low lower newest widest token$i repeat repeat"))
      .toDF("doc_id", "text")
    val mem = Bpe.fit(corpus, "text", numMerges = 4)
    val dir = java.nio.file.Files.createTempDirectory("bpe_plan").toString
    Bpe.writeBpeVocab(mem, "bpe_vocab_plan", s"$dir/v1", numBuckets = 4)
    val disk = Bpe.readBpeVocab(spark, "bpe_vocab_plan", s"$dir/v1")
    val docs = (1000L to 1050L).map(i =>
      (i, s"newest widest zzz$i")).toDF("doc_id", "text")
    def exchanges(df: DataFrame): Int = {
      val p = df.queryExecution.executedPlan.toString
      "Exchange hashpartitioning".r.findAllIn(p).size
    }
    // force the shuffle-join shape the 100 TB vocabulary takes (a
    // 50k-merge word table is tens of MB × pieces — broadcast covers
    // the spec fixture but not the production geometry)
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val viaDisk = Bpe.tokenCount(docs, "doc_id", "text", disk)
      val viaMem = Bpe.tokenCount(docs, "doc_id", "text", mem)
      assert(exchanges(viaDisk) < exchanges(viaMem),
        s"bucketed vocab side should skip its word shuffle: " +
          s"disk=${exchanges(viaDisk)} mem=${exchanges(viaMem)}")
      // and the counts are identical either way
      val a = viaDisk.orderBy($"doc_id").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
      val b = viaMem.orderBy($"doc_id").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
      assert(a == b && a.nonEmpty)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    mem.wordPieces.unpersist()
  }

  test("hashed rescue key shuffles less than half the value-keyed bytes") {
    // q93's 100 TB claim, finally MEASURED instead of asserted in
    // prose: the hashedRescueKey collapse carries 16-byte keys through
    // the rescue's group aggregate and rep join where the value-keyed
    // form carries the full normalized text (~3× text bytes). A
    // SparkListener sums shuffle-WRITE bytes across each full rescue
    // run on a flood corpus whose docs are few-but-long words (so the
    // shared gram-hash stages are small and the collapse dominates the
    // shuffle — the same regime as real web documents, where text
    // bytes ≫ 8-byte gram hashes × grams).
    import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val word = "x" * 80
    val docs = (0L until 400L).map { i =>
      (i, (0 until 20).map(w => s"$word${i}w$w").mkString(" "))
    }.toDF("doc_id", "text")
    val flood = docs.filter($"doc_id" === 0L)
      .select(explode(sequence(lit(0L), lit(99L))).as("i"), $"text")
      .select(($"i" + 2000000L).as("doc_id"), $"text")
    val corpus = docs.unionByName(flood)
      .persist() // identical input cost for both runs
    corpus.count()
    def measure(hashedKey: Boolean): Long = {
      val bytes = new java.util.concurrent.atomic.AtomicLong(0)
      val l = new SparkListener {
        override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
          val m = t.taskMetrics
          if (m != null) bytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
          ()
        }
      }
      spark.sparkContext.addSparkListener(l)
      try {
        graft.operators.Dedup.ngramJaccardNearDups(corpus, "doc_id", "text",
            n = 3, threshold = 0.8, maxBucket = 50, rescueHot = true,
            hashedRescueKey = hashedKey)
          .write.mode("overwrite").format("noop").save()
        // drain the async listener bus: poll until the counter is
        // stable (no public waitUntilEmpty)
        var last = -1L
        var stable = 0
        val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
        while (stable < 3 && System.nanoTime() < deadline) {
          val v = bytes.get()
          if (v == last) stable += 1 else { stable = 0; last = v }
          Thread.sleep(100)
        }
        bytes.get()
      } finally {
        spark.sparkContext.removeSparkListener(l)
        // the operator persists its gram table internally; clear so
        // the second run repeats identical work
        spark.catalog.clearCache()
        corpus.persist(); corpus.count()
        ()
      }
    }
    val valueBytes = measure(hashedKey = false)
    val hashedBytes = measure(hashedKey = true)
    corpus.unpersist()
    assert(valueBytes > 0 && hashedBytes > 0,
      s"listener captured nothing: value=$valueBytes hashed=$hashedBytes")
    assert(hashedBytes < valueBytes / 2,
      f"hashed rescue should shuffle < 0.5x the value-keyed bytes: " +
        f"hashed=$hashedBytes%d value=$valueBytes%d " +
        f"(ratio ${hashedBytes.toDouble / valueBytes}%.2f)")
  }

  test("capPerKey: WindowGroupLimit pre-caps the mega-domain below the exchange (flood)") {
    // the round-10 advisor's exact-skew exposure, closed the
    // Spark-first way: no hand-rolled two-phase salting — Catalyst's
    // WindowGroupLimit rewrite runs a PARTIAL top-maxPerKey per key
    // on each MAP task, below the exchange, so a half-the-corpus
    // flood domain ships at most maxPerKey × map partitions rows to
    // its reducer. This spec pins (a) the rewrite actually fires for
    // capPerKey's filter shape and (b) the measured per-task shuffle
    // read stays bounded on a 20k-row single-domain flood.
    import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
    import org.apache.spark.sql.functions._
    import spark.implicits._
    import graft.operators.Curation
    val corpus = ((0L until 20000L).map(i => (i, "megadomain")) ++
      (20000L until 21000L).map(i => (i, s"site${i % 50}")))
      .toDF("doc_id", "source").persist()
    corpus.count()
    val capped = Curation.capPerKey(corpus, "source", "doc_id",
      maxPerKey = 10)
    // (a) the plan carries the partial (pre-shuffle) group limit — if
    // a future filter rewrite hides the literal row_number bound from
    // the rule, this line is the alarm
    val plan = capped.queryExecution.executedPlan.toString
    assert(plan.contains("WindowGroupLimit"),
      s"expected the rank-filter pushdown in:\n${plan.take(2000)}")
    // (b) measured: no task reads anywhere near the flood size
    val maxRec = new java.util.concurrent.atomic.AtomicLong(0)
    val l = new SparkListener {
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
        val m = t.taskMetrics
        if (m != null)
          maxRec.getAndAccumulate(m.shuffleReadMetrics.recordsRead,
            math.max(_, _))
        ()
      }
    }
    spark.sparkContext.addSparkListener(l)
    try {
      val kept = capped.select($"doc_id").collect().map(_.getLong(0)).toSet
      var last = -1L; var stable = 0
      val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
      while (stable < 3 && System.nanoTime() < deadline) {
        val v = maxRec.get()
        if (v == last) stable += 1 else { stable = 0; last = v }
        Thread.sleep(100)
      }
      assert(kept.size == 10 + 50 * 10,
        s"cap must bind on the flood and every site, got ${kept.size}")
      // flood = 20000 rows on one key; the partial limit bounds the
      // reducer at 10 × map partitions (×32 here) plus slack — an
      // order of magnitude under the flood
      assert(maxRec.get() > 0 && maxRec.get() < 2000L,
        s"flood reducer should read a bounded pre-capped set, " +
          s"read=${maxRec.get()}")
    } finally {
      spark.sparkContext.removeSparkListener(l)
      corpus.unpersist(); ()
    }
  }

  test("z-order layout: a 2-D box scan reads a fraction of the single-sort rows") {
    // q121 gates the z-VALUES; this measures what the layout is FOR —
    // parquet rows a reader MUST read (post row-group min/max pruning)
    // for a two-column box predicate, z-ordered vs the single-column
    // sort a naive pipeline would write. Each output file is one row
    // group, so pushed min/max filters skip whole files' worth of IO;
    // on the x-sorted control every row group is tight on x but spans
    // all of y, forcing the full x-slab to be read.
    // Measured from the parquet FOOTER STATISTICS directly (the same
    // min/max a pushed filter prunes on) instead of a TaskEnd-listener
    // recordsRead sum: the listener bus is async and its sleep-poll
    // drain flaked under a loaded 20-minute test run (round-16 verdict
    // item 2); footer math is deterministic.
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // golden interleave first: bx=0b101, by=0b011 → 27
    val golden = Seq((5L, 3L)).toDF("bx", "by")
      .select(graft.operators.Layout.zValueFromBuckets(
        Seq(col("bx"), col("by")), bits = 3).as("z"))
      .collect()(0).getLong(0)
    assert(golden == 27L, s"interleave golden: got $golden want 27")
    val n = 100000
    val grid = 317
    val df = spark.range(n.toLong)
      .select(($"id" % grid).as("x"), ($"id" / grid).cast("long").as("y"))
    val dir = java.nio.file.Files.createTempDirectory("zorder")
    graft.operators.Layout.zOrderBy(df, Seq("x", "y"), bits = 8,
        numPartitions = 64)
      .write.parquet(dir.resolve("z").toString)
    df.repartitionByRange(64, col("x")).sortWithinPartitions("x")
      .write.parquet(dir.resolve("linear").toString)
    def rowsRead(path: String): (Long, Long) = {
      val hits = spark.read.parquet(path)
        .filter($"x".between(0, 31) && $"y".between(0, 31)).count()
      // rows a reader must fetch = total rows of every row group whose
      // [min,max] on BOTH columns overlaps the box — exactly the set a
      // pushed min/max filter cannot prune
      import scala.jdk.CollectionConverters._
      import org.apache.hadoop.fs.Path
      import org.apache.parquet.hadoop.ParquetFileReader
      import org.apache.parquet.hadoop.util.HadoopInputFile
      val conf = spark.sessionState.newHadoopConf()
      val root = new Path(path)
      val fs = root.getFileSystem(conf)
      val mustRead = fs.listStatus(root).toSeq
        .filter(_.getPath.getName.endsWith(".parquet"))
        .map { f =>
          val r = ParquetFileReader.open(HadoopInputFile.fromPath(f.getPath, conf))
          try r.getFooter.getBlocks.asScala.map { block =>
            val st = block.getColumns.asScala
              .map(c => c.getPath.toDotString -> c.getStatistics).toMap
            def overlaps(name: String): Boolean = {
              val s = st(name)
              val mn = s.genericGetMin.asInstanceOf[Number].longValue
              val mx = s.genericGetMax.asInstanceOf[Number].longValue
              mx >= 0L && mn <= 31L
            }
            if (overlaps("x") && overlaps("y")) block.getRowCount else 0L
          }.sum
          finally r.close()
        }.sum
      (hits, mustRead)
    }
    val (zHits, zRead) = rowsRead(dir.resolve("z").toString)
    val (lHits, lRead) = rowsRead(dir.resolve("linear").toString)
    assert(zHits == lHits && zHits == 32L * 32L,
      s"both layouts must return the same box: z=$zHits linear=$lHits")
    assert(zRead > 0 && lRead > 0, s"footer stats captured nothing")
    assert(zRead < lRead / 2,
      f"z-order should read < 0.5x the x-sorted rows for a 2-D box: " +
        f"z=$zRead%d linear=$lRead%d (ratio ${zRead.toDouble / lRead}%.2f)")
  }

  test("parse stage: text scan parallelism preserved through decode") {
    val dir = java.nio.file.Files.createTempDirectory("plan")
    java.nio.file.Files.write(dir.resolve("a.log"),
      "(1580415599.609366) can0 021#11E803110300".getBytes)
    val wide = graft.pipeline.ParseStage.run(spark, dir.toString + "/*.log",
      graft.sources.CanFixtures.schema)
    val p = wide.queryExecution.executedPlan.toString
    assert(p.contains("Generate"), "explode-based decode expected")
    assert(!p.contains("CartesianProduct"))
  }

  test("z-order epoch pointer: a reader never sees a half-compacted table") {
    import graft.operators.Layout
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("zroot").toString
    val df = (1L to 300L).map(i => (i, i % 17, i % 5)).toDF("id", "dx", "dy")
    // no pointer yet: reading refuses loudly instead of guessing
    assert(intercept[IllegalArgumentException] {
      Layout.readZOrderedLive(spark, root)
    }.getMessage.contains("live-epoch pointer"))
    Layout.writeZOrderedEpoch(df, root, Seq("dx", "dy"), bits = 4,
      numPartitions = 4)
    val batch = (301L to 350L).map(i => (i, i % 17, i % 5))
      .toDF("id", "dx", "dy")
    Layout.zOrderAppendLive(batch, Seq("dx", "dy"), bits = 4,
      numPartitions = 2, root)
    assert(Layout.readZOrderedLive(spark, root).count() == 350L)
    // simulated crash MID-COMPACTION: a new epoch directory exists
    // but its job-commit marker does not — the pointer still names
    // the old epoch (readers unaffected), and the swap primitive
    // refuses to make the torn epoch live
    val torn = "epoch_torn_simulated"
    df.limit(10).write.parquet(s"$root/$torn")
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sessionState.newHadoopConf())
    fs.delete(new org.apache.hadoop.fs.Path(s"$root/$torn/_SUCCESS"), false)
    assert(Layout.readZOrderedLive(spark, root).count() == 350L,
      "a torn unreferenced epoch must not affect readers")
    assert(intercept[IllegalArgumentException] {
      graft.sources.Sinks.swapEpochPointer(spark, root, torn)
    }.getMessage.contains("job-commit marker"),
      "the swap must refuse a marker-less epoch")
    // the real compaction: atomic pointer flip, rows preserved, the
    // superseded epoch gone
    val before = graft.sources.Sinks.resolveEpochPointer(spark, root)
    Layout.compactZOrderedLive(spark, root, Seq("dx", "dy"), bits = 4,
      numPartitions = 2)
    val after = graft.sources.Sinks.resolveEpochPointer(spark, root)
    assert(after != before, "the pointer must flip to the new epoch")
    assert(!fs.exists(new org.apache.hadoop.fs.Path(before)),
      "the superseded epoch deletes after the flip")
    assert(Layout.readZOrderedLive(spark, root).count() == 350L)
  }

  test("gcEpochs: crash debris sweeps; the live epoch and foreign names survive; a pointerless root refuses") {
    import graft.operators.Layout
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("zgc").toString
    val df = (1L to 100L).map(i => (i, i % 17, i % 5)).toDF("id", "dx", "dy")
    // no committed epoch: there is no safe notion of garbage yet
    assert(intercept[IllegalArgumentException] {
      Layout.gcEpochs(spark, root)
    }.getMessage.contains("live-epoch pointer"))
    Layout.writeZOrderedEpoch(df, root, Seq("dx", "dy"), bits = 4,
      numPartitions = 2)
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sessionState.newHadoopConf())
    // crash debris: a torn epoch (marker deleted) and a complete one
    // that was never swapped in — both unreferenced, both garbage
    df.limit(5).write.parquet(s"$root/epoch_dead_torn")
    fs.delete(
      new org.apache.hadoop.fs.Path(s"$root/epoch_dead_torn/_SUCCESS"),
      false)
    df.limit(5).write.parquet(s"$root/epoch_dead_unswapped")
    // foreign content under the root must survive the sweep
    fs.mkdirs(new org.apache.hadoop.fs.Path(s"$root/not_an_epoch"))
    val notes = fs.create(
      new org.apache.hadoop.fs.Path(s"$root/notes.txt"), true)
    notes.write("keep".getBytes("UTF-8")); notes.close()
    val live = new org.apache.hadoop.fs.Path(
      graft.sources.Sinks.resolveEpochPointer(spark, root)).getName
    val deleted = Layout.gcEpochs(spark, root)
    assert(deleted == Seq("epoch_dead_torn", "epoch_dead_unswapped"),
      s"exactly the unreferenced epochs sweep, got $deleted")
    assert(Layout.readZOrderedLive(spark, root).count() == 100L,
      "the live epoch serves untouched")
    assert(fs.exists(new org.apache.hadoop.fs.Path(s"$root/$live")))
    assert(fs.exists(new org.apache.hadoop.fs.Path(s"$root/not_an_epoch")))
    assert(fs.exists(new org.apache.hadoop.fs.Path(s"$root/notes.txt")))
    assert(Layout.gcEpochs(spark, root).isEmpty,
      "a second sweep finds nothing")
  }

  test("layout drift signal: full-range appends fire the compaction decision; compaction clears it") {
    import graft.operators.Layout
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("zdrift").toString
    def batch(lo: Long): org.apache.spark.sql.DataFrame =
      (lo until lo + 400L).map(i => (i, i % 97, i % 31))
        .toDF("id", "dx", "dy")
    Layout.writeZOrderedEpoch(batch(0), root, Seq("dx", "dy"), bits = 5,
      numPartitions = 8)
    val fresh = Layout.compactionDecision(spark, root, maxSpanRatio = 2.0)
      .collect()(0)
    assert(!fresh.getBoolean(2),
      s"a fresh epoch partitions the curve: ratio ${fresh.getDouble(1)}")
    // three full-range append layers: each layer's files re-span the
    // whole curve, so a box probe now hits ~a file per layer
    (1 to 3).foreach(k => Layout.zOrderAppendLive(batch(k * 400L),
      Seq("dx", "dy"), bits = 5, numPartitions = 8, root))
    val drifted = Layout.compactionDecision(spark, root, maxSpanRatio = 2.0)
      .collect()(0)
    assert(drifted.getBoolean(2) && drifted.getDouble(1) > 2.0,
      s"span ratio must climb with append layers: ${drifted.getDouble(1)}")
    // the ONE-CALL window: fires, compacts, reports the recovery, and
    // the immediate second call is a no-op with the pointer untouched
    val heal = Layout.maintainZOrderedLive(spark, root, Seq("dx", "dy"),
      bits = 5, numPartitions = 8, maxSpanRatio = 2.0).collect()(0)
    assert(heal.getBoolean(2) && heal.getDouble(1) > 2.0 &&
      heal.getDouble(3) <= 2.0 && heal.getBoolean(4),
      s"fragmented table must heal through the one call: $heal")
    val ptr = graft.sources.Sinks.resolveEpochPointer(spark, root)
    val noop = Layout.maintainZOrderedLive(spark, root, Seq("dx", "dy"),
      bits = 5, numPartitions = 8, maxSpanRatio = 2.0).collect()(0)
    assert(!noop.getBoolean(2) && !noop.getBoolean(4) &&
      graft.sources.Sinks.resolveEpochPointer(spark, root) == ptr,
      s"unfragmented table must be a no-op with the pointer untouched: $noop")
    assert(Layout.readZOrderedLive(spark, root).count() == 1600L)
  }

  test("annAdmissionStream: centroid grid rides a broadcast join; plan flat at nCells ≈ 1k") {
    // the q117 literal→join graduation for the vector tier: the
    // centroid grid must arrive as broadcast DATA, never as plan
    // literals — at nCells ≈ 1k a literal array (nCells × dim doubles
    // re-canonicalized per micro-batch plan) is the cost ceiling the
    // operator's own scaladoc used to carry
    import graft.operators.Similarity
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val corpus = (1L to 2048L).map(i =>
      (i, Array.fill(16)(rnd.nextDouble()))).toDF("vec_id", "embedding")
    def plans(nCells: Int): (Int, String) = {
      val idx = Similarity.buildIvf(corpus, "vec_id", "embedding",
        nCells = nCells, lloydIters = 1)
      val members = Similarity.cellMembers(idx)
      val out = graft.streaming.StreamingParse.annAdmissionStream(
        corpus.limit(4), "vec_id", "embedding", idx, members,
        tau = 0.9, nProbe = 2)
      (out.queryExecution.optimizedPlan.toString.length,
        out.queryExecution.executedPlan.toString)
    }
    val (small, _) = plans(8)
    val (big, physical) = plans(1024)
    assert(physical.contains("BroadcastHashJoin"),
      "centroid grid must join in, not inline as literals")
    assert(big < small * 4 && big < 200000,
      s"plan size must stay flat in nCells: 8 cells → $small chars, " +
        s"1024 cells → $big chars")
  }

  test("mediaAdmissionCascadeStream: zero shuffles, zero state — broadcast joins and projections only") {
    // the one-pass media cascade's append-mode legality and scale
    // claim in one probe: BOTH signal tiers (maxHamming+1 band joins
    // + nProbe member joins) and the precedence fold must plan as
    // broadcast joins over pure projections — a ShuffleExchange or a
    // stateful aggregate anywhere would both break append mode and
    // re-shuffle the stream per micro-batch
    import graft.operators.{Dedup, Similarity}
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    val refs = (1L to 32L).map(i =>
        (i, rnd.nextLong(), Array.fill(8)(rnd.nextGaussian())))
      .toDF("media_id", "sig", "vec")
    val hamMembers = Dedup.hammingBandMembers(
      refs.select($"media_id", $"sig"), "media_id", "sig", maxHamming = 4)
    val idx = Similarity.buildIvf(refs.select($"media_id", $"vec"),
      "media_id", "vec", nCells = 2, lloydIters = 1)
    val members = Similarity.cellMembers(idx)
    val arrivals = (100L to 110L).map(i =>
        (i, "ok", rnd.nextLong(), Array.fill(8)(rnd.nextGaussian())))
      .toDF("media_id", "status", "sig", "vec")
    val out = graft.streaming.StreamingParse.mediaAdmissionCascadeStream(
      arrivals, "media_id", "status", "sig", hamMembers,
      maxHamming = 4, "vec", idx, members, tau = 0.9, nProbe = 2)
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("ShuffleExchange"),
      s"the cascade must not shuffle the arrival side:\n${plan.take(800)}")
    assert(!plan.contains("StateStore"),
      "the cascade must carry no stream state")
    assert(plan.contains("BroadcastHashJoin"),
      "reference sets must ride broadcast joins")
    // decisions sane on the fixture: novel random rows admit
    assert(out.filter($"cascade_admitted").count() >= 9)
  }

  test("takedown ledger: frame-path append (no driver collect), torn generations refuse loudly") {
    import graft.sources.{Generations, Sinks}
    import spark.implicits._
    // -- plan probe: the FIRST append must execute no `collect` at
    // all, and the generation write's plan must SCAN the incoming
    // parquet (the frame flowed source→write; a driver-Set merge
    // would show a LocalTableScan of re-created rows instead and a
    // collect event for the incoming frame)
    val events = new java.util.concurrent.ConcurrentLinkedQueue[(String, String)]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          durationNs: Long): Unit =
        events.add((funcName, qe.executedPlan.toString))
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          exception: Exception): Unit = ()
    }
    val dir = java.nio.file.Files.createTempDirectory("ledger_spec").toString
    (1L to 5L).toDF("doc_id").write.parquet(s"$dir/incoming")
    val incoming = spark.read.parquet(s"$dir/incoming")
    spark.listenerManager.register(listener)
    try {
      Generations.appendLedger(spark, "ledger_spec_td", incoming)
      // QueryExecutionListener rides the async listener bus
      val deadline = System.nanoTime() + 10_000_000_000L
      while (events.isEmpty && System.nanoTime() < deadline)
        Thread.sleep(50)
      Thread.sleep(500)
    } finally spark.listenerManager.unregister(listener)
    val evs = scala.jdk.CollectionConverters.CollectionHasAsScala(
      events).asScala.toSeq
    assert(evs.nonEmpty, "listener saw no query executions")
    assert(!evs.exists(_._1 == "collect"),
      s"first append must not collect anything to the driver: " +
        s"${evs.map(_._1)}")
    val writeOfGen = evs.filter { case (_, plan) =>
      plan.contains("incoming") && plan.contains("Scan parquet") }
    assert(writeOfGen.nonEmpty,
      "the generation write must scan the incoming parquet directly " +
        s"(frame path): ${evs.map(_._1)}")
    assert(Generations.readLedger(spark, "ledger_spec_td").get._2.count() == 5L)
    // -- idempotent distinct-union through the frame path
    Generations.appendLedger(spark, "ledger_spec_td",
      Seq(5L, 6L).toDF("doc_id"))
    val (gen2, rows2) = Generations.readLedger(spark, "ledger_spec_td").get
    assert(rows2.count() == 6L, "distinct-union: 1..6")
    // -- crash window 1: a generation written but meta NOT committed
    // (simulated by writing garbage into the non-live table) leaves
    // the committed ledger serving
    val otherGen = if (gen2 == "a") "b" else "a"
    Sinks.writeTable(Seq(999L).toDF("doc_id"), s"ledger_spec_td_$otherGen")
    assert(Generations.readLedger(spark, "ledger_spec_td").get._2.count() == 6L,
      "an uncommitted generation must be invisible")
    // -- crash window 2: the COMMITTED generation's epoch token wiped
    // (torn same-name rebuild) → refuse loudly, never serve a ledger
    // that might be missing takedowns
    Generations.clearEpochTokens(spark, s"ledger_spec_td_$gen2")
    val tornEpoch = intercept[IllegalArgumentException] {
      Generations.readLedger(spark, "ledger_spec_td")
    }
    assert(tornEpoch.getMessage.contains("epoch token"),
      s"got: ${tornEpoch.getMessage}")
    // -- crash window 3: the committed generation table dropped out
    // from under its meta → refuse loudly (the r13 advisor's silent
    // re-admission scenario)
    spark.sql(s"DROP TABLE ledger_spec_td_$gen2")
    val tornTable = intercept[IllegalArgumentException] {
      Generations.readLedger(spark, "ledger_spec_td")
    }
    assert(tornTable.getMessage.contains("torn out from under"),
      s"got: ${tornTable.getMessage}")
    // -- clearLedger returns to "never created" (empty set, no refusal)
    Generations.clearLedger(spark, "ledger_spec_td")
    assert(Generations.readLedger(spark, "ledger_spec_td").isEmpty)
  }

  test("cascade durable exact tier: decisions ≡ caller-frame path, dup caller rows don't fan out, index never broadcast/shuffled") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    import graft.operators.{Dedup, Similarity, TextAnalysis}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    val docs = (1L to 120L).map(i =>
      (i, s"spec doc $i body w${i % 9} w${i % 7} w${i % 5} filler tail token block"))
      .toDF("doc_id", "text")
    val accepted = docs.filter($"doc_id" % 2 === 0)
    graft.sources.Generations.clearLedger(spark, "pin_xidx_tombstones")
    graft.sources.Generations.clearLedger(spark, "pin_ng_tombstones")
    graft.sources.Generations.clearLedger(spark, "pin_ivf_tombstones")
    val root = java.nio.file.Files.createTempDirectory("pin_xidx").toString
    Dedup.writeExactIndexRooted(spark, "pin_xidx", root,
      Dedup.buildExactIndex(accepted, "text", expectedItems = 1024,
        numBits = 1L << 14), numBuckets = 4)
    Dedup.writeNgramIndexRooted(spark, "pin_ng",
      Dedup.buildNgramIndex(accepted, "doc_id", "text", n = 3),
      numBuckets = 4)
    val emb = TextAnalysis.hashEmbed(accepted, "text", dim = 16)
      .select($"doc_id", $"embedding")
    Similarity.writeIvfIndexBucketed(
      Similarity.buildIvf(emb, "doc_id", "embedding", nCells = 2,
        lloydIters = 1), "pin_ivf", numBuckets = 2)
    val batch = accepted.filter($"doc_id" % 10 === 0)
        .select(($"doc_id" + 1000L).as("doc_id"), $"text")
      .unionByName(docs.filter($"doc_id" % 10 === 1)
        .select(($"doc_id" + 2000L).as("doc_id"), $"text"))
      .unionByName(Seq((9001L, ""), (9002L, null.asInstanceOf[String]),
        (9003L, "short")).toDF("doc_id", "text"))
    val nBatch = batch.count()
    val dir = java.nio.file.Files.createTempDirectory("pin_casc").toString
    // caller-frame path fed DUPLICATE rows per text with CONFLICTING
    // ids — the internal min-collapse must both dedupe the fan-out
    // and pick the deterministic representative
    val accTexts = accepted.groupBy($"text")
      .agg(min($"doc_id").as("exact_id"))
    val accTextsDup = accTexts.unionByName(
      accTexts.withColumn("exact_id", $"exact_id" + 5000L))
    graft.streaming.StreamingParse.applyCascadeBatch(spark, batch, 0L,
      "doc_id", "text", accTextsDup, minLen = 20,
      maxNonAlphaRatio = 0.3, ngramPrefix = "pin_ng", n = 3,
      threshold = 0.5, maxBucket = 50, annPrefix = "pin_ivf",
      tau = 0.9, dim = 16, nProbe = 2, outPath = s"$dir/legacy")
    // durable path under plan capture; sort-merge forced so the tiny
    // spec-scale index can't hide behind an auto-broadcast (at corpus
    // scale the planner could never broadcast it — the pin is that
    // OUR plan never asks it to)
    val plans = java.util.Collections.synchronizedList(
      new java.util.ArrayList[SparkPlan]())
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(f: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          d: Long): Unit = plans.add(qe.executedPlan)
      override def onFailure(f: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      graft.streaming.StreamingParse.applyCascadeBatchDurable(spark,
        batch, 0L, "doc_id", "text", "pin_xidx", minLen = 20,
        maxNonAlphaRatio = 0.3, ngramPrefix = "pin_ng", n = 3,
        threshold = 0.5, maxBucket = 50, annPrefix = "pin_ivf",
        tau = 0.9, dim = 16, nProbe = 2, outPath = s"$dir/durable")
    } finally {
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      org.apache.spark.sql.GraftExpressionBridge
        .waitListenerBusEmpty(spark)
      spark.listenerManager.unregister(listener)
    }
    def decisions(path: String): Seq[(Long, Boolean, String)] =
      spark.read.parquet(path)
        .select($"doc_id", $"cascade_admitted",
          coalesce($"reason", lit("")))
        .as[(Long, Boolean, String)].collect().sortBy(_._1).toSeq
    val legacy = decisions(s"$dir/legacy")
    val durable = decisions(s"$dir/durable")
    assert(legacy.size == nBatch,
      s"dup caller rows must not fan out decision rows: ${legacy.size} vs $nBatch")
    assert(durable == legacy,
      "durable exact tier must reproduce the caller-frame decisions")
    // the accepted side's scale contract: the exact index table is
    // read through its bucket layout — never broadcast, never behind
    // a shuffle (only the batch-side probe exchanges)
    def scansXidx(p: SparkPlan): Boolean = {
      var found = false
      def go(q: SparkPlan): Unit = {
        q match {
          case f: org.apache.spark.sql.execution.FileSourceScanExec
              if f.tableIdentifier.exists(_.table.contains("pin_xidx")) =>
            found = true
          case a: AdaptiveSparkPlanExec => go(a.executedPlan)
          case s: QueryStageExec => go(s.plan)
          case _ => ()
        }
        q.children.foreach(go)
      }
      go(p); found
    }
    // an exchange is an offender only when it moves the BARE index
    // data (no join beneath it): downstream of the verify join the
    // cascade legitimately shuffles the batch-sized decision frame on
    // doc_id, and the index scan sits inside that subtree — what must
    // never appear is an exchange whose input is the index table
    // itself (that's the per-batch corpus re-shuffle/broadcast the
    // bucketed layout exists to eliminate)
    def hasJoinBelow(p: SparkPlan): Boolean = {
      var found = false
      def go(q: SparkPlan): Unit = {
        q match {
          case _: org.apache.spark.sql.execution.joins.BaseJoinExec =>
            found = true
          case a: AdaptiveSparkPlanExec => go(a.executedPlan)
          case s: QueryStageExec => go(s.plan)
          case _ => ()
        }
        q.children.foreach(go)
      }
      go(p); found
    }
    val offenders = scala.collection.mutable.Buffer[String]()
    def audit(p: SparkPlan): Unit = {
      p match {
        case a: AdaptiveSparkPlanExec => audit(a.executedPlan)
        case s: QueryStageExec => audit(s.plan)
        case b: org.apache.spark.sql.execution.exchange.BroadcastExchangeExec =>
          if (scansXidx(b) && !hasJoinBelow(b)) offenders += "broadcast"
          b.children.foreach(audit)
        case sh: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec =>
          if (scansXidx(sh) && !hasJoinBelow(sh))
            offenders += s"shuffle:\n${sh.treeString.take(1500)}"
          sh.children.foreach(audit)
        case other => other.children.foreach(audit)
      }
    }
    import scala.jdk.CollectionConverters._
    val planSeq = plans.asScala.toSeq
    assert(planSeq.exists(scansXidx),
      "expected at least one captured plan to scan the exact index")
    planSeq.foreach(audit)
    assert(offenders.isEmpty,
      s"exact index side must never broadcast or re-shuffle: $offenders")
  }

  test("banded-signature index: probe join reads the (band, bh) bucket layout — index side unshuffled, never broadcast") {
    import spark.implicits._
    import graft.operators.Dedup
    val rnd = new scala.util.Random(11)
    val refs = (1L to 400L).map(i => (i, rnd.nextLong()))
      .toDF("media_id", "sig")
    graft.sources.Generations.clearLedger(spark, "bsi_plan_tombstones")
    Dedup.writeHammingBandIndexRooted(spark, "bsi_plan", refs,
      "media_id", "sig", maxHamming = 3, numBuckets = 4)
    val (mh, rows) = Dedup.readHammingBandIndexRootedLive(spark,
      "bsi_plan")
    val batch = (1000L to 1020L).map(i => (i, rnd.nextLong()))
      .toDF("media_id", "sig")
    // force sort-merge so the tiny spec-scale index can't hide behind
    // an auto-broadcast (the q166 discipline)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val out = Dedup.searchHammingBandIndex(rows, mh, batch,
        "media_id", "sig")
      val p = out.queryExecution.executedPlan.toString
      // the index scan keeps its bucket layout: the probe-side
      // explode exchanges, the index side reads buckets directly
      assert(p.contains("Bucketed: true"),
        s"band index scan must read its bucket layout:\n${p.take(1500)}")
      assert(!p.contains("Bucketed: false (disabled by query planner)"),
        "the probe join's keys must be exactly the bucket columns " +
          s"(a subset/superset disables the bucketed scan):\n${p.take(1500)}")
    } finally spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
  }

  test("winnow index: probe join reads the fingerprint bucket layout — benchmark side unshuffled, never re-winnowed") {
    import spark.implicits._
    import graft.operators.TextAnalysis
    val words = Vector("alpha", "beta", "gamma", "delta", "epsilon",
      "zeta", "eta", "theta", "iota", "kappa", "lam", "mu")
    val rnd = new scala.util.Random(17)
    def doc(): String =
      (1 to 12).map(_ => words(rnd.nextInt(words.size))).mkString(" ")
    val bench = (1L to 120L).map(i => (i, doc())).toDF("doc_id", "text")
    graft.sources.Generations.clearLedger(spark, "widx_plan_tombstones")
    TextAnalysis.writeWinnowIndexRooted(spark, "widx_plan", bench,
      "doc_id", "text", k = 4, w = 4, numBuckets = 4)
    val face = TextAnalysis.readWinnowIndexRootedLive(spark, "widx_plan")
    val batch = (1000L to 1010L).map(i => (i, doc()))
      .toDF("doc_id", "text")
    // force sort-merge so the tiny spec-scale index can't hide behind
    // an auto-broadcast (the q166 discipline)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val out = TextAnalysis.containmentVsWinnowIndex(face, batch,
        "doc_id", "text")
      val p = out.queryExecution.executedPlan.toString
      assert(p.contains("Bucketed: true"),
        s"winnow index scan must read its bucket layout:\n${p.take(1500)}")
      assert(!p.contains("Bucketed: false (disabled by query planner)"),
        "the probe join's key must be exactly the bucket column " +
          s"(a subset/superset disables the bucketed scan):\n${p.take(1500)}")
    } finally spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
  }
}
