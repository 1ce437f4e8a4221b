package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.operators.CanDecode
import graft.sources.{Candump, CanSchema}

/** Streaming variant of the parse stage (SURVEY.md §2.7): the candump
  * regex-decode pipeline is stateless per line, so it runs unchanged
  * as a Structured Streaming file-source query — new .log files
  * appearing under the input directory are parsed incrementally with
  * checkpoint-backed exactly-once sinks (the scalable replacement for
  * the reference's skip-if-exists restart logic, S9).
  *
  * A watermarked tumbling-window mean (the streaming face of the
  * resample stage A2) is exposed as [[resampleStream]]; the
  * interpolation stage stays batch (not streaming-friendly —
  * documented in SURVEY.md).
  */
object StreamingParse {

  /** Incremental candump → decoded long rows. */
  def decodedStream(spark: SparkSession, inputDir: String,
                    schema: CanSchema.Schema,
                    mab20Workaround: Boolean = false): DataFrame =
    CanDecode.decodeLong(framesStream(spark, inputDir), schema,
      mab20Workaround, carryCols = Seq("file"))

  /** Incremental candump → frames (file, topic, payload_hex, ts): the
    * batch scan's regex and [[Candump.frameFields]] minus its chunk,
    * line and match ids (streaming sources forbid
    * `monotonically_increasing_id`; order-dependent ops stay in the
    * batch path). */
  def framesStream(spark: SparkSession, inputDir: String): DataFrame =
    spark.readStream
      .option("maxFilesPerTrigger", 16)
      .text(inputDir)
      .select(col("value").as("line"), input_file_name().as("file"))
      .select(col("file"),
        explode(regexp_extract_all(col("line"), lit(Candump.frameRegex), lit(0)))
          .as("frame"))
      .select(col("file") +: Candump.frameFields(): _*)
      .select(col("file"), col("topic"), col("payload_hex"),
        timestamp_micros(col("ts_micros")).as("ts"))

  /** Watermarked tumbling-window mean per signal — the streaming
    * resample (append mode emits a bin once the watermark passes it). */
  def resampleStream(decoded: DataFrame, periodSec: Long,
                     watermark: String = "30 seconds"): DataFrame =
    decoded
      .withWatermark("timestamp", watermark)
      .groupBy(
        window(col("timestamp"), s"$periodSec seconds").as("bin"),
        concat_ws("__", col("module_name"), col("topic_name"),
          col("byte_name")).as("signal"))
      .agg(avg(col("value")).as("mean_value"), count(lit(1)).as("n"))
      .select(col("bin.start").as("timestamp"), col("signal"),
        col("mean_value"), col("n"))

  /** Watermarked tumbling sum/count/mean over a GENERIC keyed event
    * stream — the streaming face of
    * [[graft.operators.TimeSeries.resampleAgg]] (same aggregate
    * expressions: sum rounded to 2 decimals, mean derived as
    * sum/count, so batch and stream agree bit-for-bit on the same
    * bins). Grouping uses `window()` rather than the batch form's
    * floor-arithmetic bucket: streaming state eviction requires the
    * event-time window in the grouping key, and for epoch-aligned
    * periods `window.start` equals the batch bucket exactly. In
    * append mode a bin emits once the watermark passes its end —
    * the production shape for an unbounded ingest, gated end-to-end
    * (stream ≡ DuckDB batch SQL) by q77. */
  def resampleEventsStream(df: DataFrame, tsCol: String, periodSec: Long,
                           keys: Seq[String], valueCol: String,
                           watermark: String = "30 days"): DataFrame =
    df.withWatermark(tsCol, watermark)
      .groupBy((keys.map(col) :+
        window(col(tsCol), s"$periodSec seconds").as("__w")).toIndexedSeq: _*)
      .agg(round(sum(col(valueCol)), 2).as("sum_value"),
           count(lit(1)).as("n"))
      .select((keys.map(col) :+ col("__w.start").as("bucket_ts") :+
        col("sum_value") :+ col("n") :+
        (col("sum_value") / col("n")).as("mean_value")).toIndexedSeq: _*)

  /** Streaming exact dedup over a keyed stream: drop any row whose
    * key was already seen, with state bounded by the event-time
    * watermark (a row arriving later than `watermark` after the
    * original is beyond the dedup horizon and admitted — the standard
    * trade for bounded state at unbounded-stream scale; an unbounded
    * `dropDuplicates` would grow state forever on a 100 TB ingest).
    * The streaming face of [[graft.operators.Dedup.exact]] for
    * incremental training-data ingestion. */
  def dedupStream(df: DataFrame, keyCols: Seq[String], tsCol: String,
                  watermark: String = "1 hour"): DataFrame =
    df.withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark(keyCols.head, keyCols.tail: _*)

  /** Streaming exact-dedup admission against an INDEXED accepted
    * corpus ([[graft.operators.Dedup.ExactIndex]]) — the streaming
    * face of [[graft.operators.Dedup.incrementalDropExactDups]]:
    * admit a streamed doc iff its text equals no accepted text. The
    * Bloom sketch rides the plan as a literal, so the dominant case
    * (novel text, Bloom-negative) is decided by a pure projection
    * with no state and no join; only Bloom-positive rows take the
    * stream-static anti join against the index hash table, verified
    * on hash AND text so a false positive can delay a row into the
    * join but never mis-drop it. Per-batch the static side is
    * re-planned (the stream-static contract) — persist `index.hashes`
    * (or read it from the bucketed table) so each micro-batch probes
    * a materialized relation rather than re-deriving it.
    *
    * This tier admits against the FROZEN index only — within-stream
    * repeats are [[dedupStream]]'s job (watermark-bounded state),
    * and newly-admitted docs enter the index on the next BATCH
    * rebuild ([[graft.operators.Dedup.appendToExactIndex]]): a
    * streaming query cannot mutate its own broadcast sketch.
    *
    * Cost note: the union's two branches each scan the micro-batch
    * (a stream cannot persist its own input the way the batch
    * [[graft.operators.Dedup.incrementalDropExactDups]] caches its
    * collapse) — micro-batches are small by construction, and the
    * probe projection is all either branch adds before its filter. */
  def bloomDedupStream(docs: DataFrame, textCol: String,
                       index: graft.operators.Dedup.ExactIndex): DataFrame = {
    val probed = docs.withColumn("__mc",
      graft.operators.Dedup.mightContainIndexCol(index,
        xxhash64(col(textCol))))
    // null-total split (see incrementalDropExactDups): a NULL probe —
    // impossible for xxhash64, possible for future nullable-key
    // callers — must admit as fresh, not vanish from both branches
    val fresh = probed.filter(!coalesce(col("__mc"), lit(false)))
      .drop("__mc")
    val positives = probed.filter(coalesce(col("__mc"), lit(false)))
      .drop("__mc")
      .withColumn("__h", xxhash64(col(textCol)))
    val verified = positives.join(index.hashes,
        positives("__h") === index.hashes("__h") &&
          positives(textCol) === index.hashes("__t"), "left_anti")
      .drop("__h")
    fresh.unionByName(verified)
  }

  /** The CCNet ingestion admission tier END-TO-END (Wenzek et al.
    * 2019 §4.1 composed with the sharded Bloom index): normalize the
    * streamed text ([[graft.operators.Curation.normalizeText]] — a
    * pure translate/regexp projection, streaming-safe), derive the
    * CCNet hash-normalization key
    * ([[graft.operators.Curation.ccnetHashKey]] — lowercase, digits
    * folded, punctuation stripped), and admit the doc iff the KEY is
    * absent from the accepted-corpus index ([[bloomDedupStream]] over
    * an [[graft.operators.Dedup.ExactIndex]] BUILT ON THE SAME
    * keys). A re-crawl differing in case, serial numbers, punctuation
    * or whitespace collapses to an accepted key and drops at the
    * codec boundary — before it costs a shuffle or state lookup. The
    * key column stays on admitted rows (named `keyCol`) for the
    * downstream batch append that folds new admissions into the next
    * index epoch. Decisions equal the batch normalize→key→anti-join
    * exactly (stream-vs-batch parity gate q114). */
  def ccnetAdmissionStream(docs: DataFrame, textCol: String,
                           index: graft.operators.Dedup.ExactIndex,
                           keyCol: String = "ccnet_key"): DataFrame = {
    val keyed = graft.operators.Curation
      .normalizeText(docs, textCol, "__graft_norm")
      .withColumn(keyCol,
        graft.operators.Curation.ccnetHashKey(col("__graft_norm")))
      .drop("__graft_norm")
    bloomDedupStream(keyed, keyCol, index)
  }

  /** CCNet's LM-perplexity tiering at INGESTION: score each streamed
    * document with a FITTED pruned unigram LM
    * ([[graft.operators.TextAnalysis.unigramLmScoreCol]] — a pure map-
    * literal projection, no join, no state) and label it against
    * BATCH-FITTED per-group percentile thresholds
    * ([[graft.operators.TextAnalysis.applyScoreBuckets]] — a stateless
    * stream-static broadcast join). This is the missing middle of the
    * streaming CCNet story between [[ccnetAdmissionStream]] (dedup)
    * and the batch bucketing gates (q99/q100): a stream cannot compute
    * its own global percentiles or corpus counts, so both the LM and
    * the thresholds are calibration-corpus artifacts applied frozen,
    * exactly as CCNet applies its Wikipedia-trained KenLM and
    * per-language cutoffs (Wenzek et al. 2019 §4.3). The `lm_score`
    * and `bucket` columns stay on every row; callers keep the tiers
    * they want (`filter($"bucket" =!= "tail")` for the classic
    * head+middle mix). Stream-vs-batch parity gated by q115. */
  def lmBucketStream(docs: DataFrame, textCol: String, keys: Seq[String],
                     model: graft.operators.TextAnalysis.UnigramLm,
                     thresholds: DataFrame,
                     labels: Seq[String] = Seq("tail", "middle", "head"))
      : DataFrame =
    graft.operators.TextAnalysis.applyScoreBuckets(
      docs.withColumn("lm_score",
        graft.operators.TextAnalysis.unigramLmScoreCol(col(textCol), model)),
      "lm_score", keys, thresholds, labels)

  /** CCNet's LM tiering with a fitted TRIGRAM model — the production
    * rung above [[lmBucketStream]]'s unigram tier: the unigram
    * model's map literal has a documented low-thousands vocab ceiling
    * (plan literals re-canonicalize per micro-batch), while a real
    * CCNet filter is a 5-gram KenLM; the
    * [[graft.operators.TextAnalysis.TrigramLm]] rides BROADCAST
    * stream-static joins instead, so vocabulary scales to the fit
    * corpus. Composition per the streaming-aggregation rules: the
    * model joins are stateless and sit BEFORE the one per-doc
    * aggregation; the tiny per-key thresholds apply AFTER it as a
    * literal projection
    * ([[graft.operators.TextAnalysis.applyScoreBucketsLit]] — a join
    * there would be a join-after-aggregation, which streaming
    * forbids). Docs with < 3 tokens have no trigram positions and do
    * not emit (screen short docs upstream); state is bounded by the
    * caller's output mode or an event-time window in `keys` under a
    * watermark. Stream-vs-full-SQL-refit parity gated by q117. */
  def trigramBucketStream(docs: DataFrame, idCol: String, textCol: String,
                          keys: Seq[String],
                          model: graft.operators.TextAnalysis.TrigramLm,
                          thresholds: DataFrame,
                          labels: Seq[String] =
                            Seq("tail", "middle", "head")): DataFrame =
    graft.operators.TextAnalysis.applyScoreBucketsLit(
      graft.operators.TextAnalysis.trigramLmScore(docs, idCol, textCol,
        model, carryCols = keys),
      "lm3_score", keys, thresholds, labels)

  /** Streaming EMBEDDING near-dup admission against a frozen IVF
    * index — the vector-family rung of the admission ladder (q114 is
    * the exact-hash rung, [[simhashDedupStream]] the text-sketch
    * rung): each streamed vector ranks the centroid table as a
    * PLAN-LITERAL projection (nCells centroid vectors — the JL-matrix
    * literal budget, ~8 KiB at 16×64 doubles; production vocab-scale
    * centroid sets would graduate to a broadcast join), probes its
    * `nProbe` nearest cells through broadcast stream-static LEFT
    * joins against [[graft.operators.Similarity.cellMembers]]'s
    * per-cell member arrays, and folds max cosine as a higher-order
    * function — zero relational aggregation on the stream, zero
    * state, plain append mode. A vector whose best probed cosine
    * reaches `tau` REJECTS (`admitted` false, `match_id` = the argmax
    * member, ties to the smaller id); below-tau, no-member,
    * empty-vector, null-vector and ZERO-NORM rows ADMIT (membership
    * unprovable → admit, the q94 null-hash discipline; zero norms are
    * gated out before probing — an ungated zero norm would either
    * kill the micro-batch under ANSI division or, with ANSI off,
    * produce a NaN cosine that Spark's NaN-sorts-greatest ordering
    * ranks above tau and wrongly REJECTS). Pass `members` already
    * persisted — the stream-static contract re-plans the static side
    * every micro-batch. The centroid grid rides a one-row BROADCAST
    * join (the full table folded into one array column, equi-joined
    * on a constant key), not plan literals: per-micro-batch planning
    * cost stays flat in nCells — the q117 literal→join graduation
    * applied to the vector tier, so production vocab-scale centroid
    * sets (thousands of cells) pay no per-trigger
    * re-canonicalization. Recall, honestly stated: like any IVF probe,
    * a near-dup whose match lies outside the probed cells streams
    * through — same-direction duplicates land their source's cell by
    * construction (cell assignment is max-cosine), and the batch
    * tier ([[graft.operators.Similarity.semanticNearDups]]) remains
    * the recall-complete second pass. */
  def annAdmissionStream(vecs: DataFrame, idCol: String, vecCol: String,
                         index: graft.operators.Similarity.IvfIndex,
                         members: DataFrame, tau: Double,
                         nProbe: Int = 2): DataFrame = {
    import graft.operators.Similarity.{dot, norm}
    // the whole centroid grid as ONE broadcastable row: the stream
    // side equi-joins on a constant key and the centroids arrive as
    // broadcast DATA, never as plan literals (nCells × dim doubles
    // would otherwise re-canonicalize in every micro-batch plan)
    val nCells = index.centroids.count().toInt
    require(nCells > 0, "empty centroid table")
    val probes = math.min(nProbe, nCells)
    val centArr = index.centroids
      .select(struct(col("cell").cast("long").as("cell"),
        transform(col("cvec"), x => x.cast("double")).as("cvec"),
        norm(col("cvec")).as("cn")).as("__c"))
      .agg(collect_list(col("__c")).as("__cents"))
      .withColumn("__gk", lit(1))
    val qv = col("__qv"); val qn = col("__qn")
    // ranked (−cosine, cell) structs: ascending array_sort = cosine
    // desc, ties to the smaller cell — searchIvf's probe order. A
    // zero-norm CENTROID scores null under simRatio (ANSI-safe), and
    // the null COALESCES to Double.MaxValue so the degenerate cell
    // genuinely ranks LAST: array_sort's nulls-last ordering applies
    // to null ELEMENTS, not to a null FIELD inside a struct — a
    // struct with a null first field compares SMALLEST (verified on
    // Spark 4.1.2), so without the coalesce a zero-norm centroid
    // would capture the TOP probe slot for every query and silently
    // shrink the effective nProbe.
    val ranked = array_sort(transform(col("__cents"), c =>
      struct(coalesce(-graft.operators.Similarity.simRatio(
          dot(qv, c.getField("cvec")), qn * c.getField("cn")),
          lit(Double.MaxValue)).as("ns"),
        c.getField("cell").as("cell"))))
    // gate probing on a strictly POSITIVE norm: a zero-norm vector's
    // cosines are 0/0 — a DIVIDE_BY_ZERO task failure under ANSI, or
    // (ANSI off) NaN, which Spark's total ordering ranks above every
    // double so `NaN >= tau` would wrongly REJECT; with no probe row
    // such vectors fall through to null __best → admit, exactly the
    // null-vector path
    val withProbes = (1 to probes).foldLeft(
      vecs.withColumn("__gk", lit(1))
        .join(broadcast(centArr), Seq("__gk"))
        .withColumn("__qv", transform(col(vecCol), x => x.cast("double")))
        .withColumn("__qn", norm(col("__qv")))
        .withColumn("__pr",
          when(col("__qn").isNotNull && col("__qn") > lit(0.0), ranked))) {
      case (df, j) =>
        df.withColumn(s"__pc$j", element_at(col("__pr"), j).getField("cell"))
    }
    val joined = (1 to probes).foldLeft(withProbes) { case (df, j) =>
      df.join(broadcast(members.select(col("cell").as(s"__pc$j"),
        col("members").as(s"__mm$j"))), Seq(s"__pc$j"), "left")
    }
    // per-cell argmax as (sim, −id) struct max; a zero-norm INDEX
    // member (query zero-norms never reach here — the probe gate
    // above already admitted them) scores null via simRatio and is
    // filtered out before the max, so it can neither throw under ANSI
    // division nor be elected as the match
    def bestOf(mcol: Column): Column = array_max(filter(
      transform(mcol, m =>
        struct(graft.operators.Similarity.simRatio(
            dot(qv, m.getField("mv")), qn * m.getField("__cn")).as("sim"),
          (-m.getField("neighbor_id")).as("nid"))),
      s => s.getField("sim").isNotNull))
    val best = array_max(filter(
      array((1 to probes).map(j => bestOf(col(s"__mm$j"))): _*),
      b => b.isNotNull))
    joined.withColumn("__best", best)
      .withColumn("admitted",
        when(col("__best").isNull, lit(true))
          .otherwise(!(col("__best").getField("sim") >= lit(tau))))
      .withColumn("match_id",
        when(!col("admitted"), -col("__best").getField("nid")))
      .drop((Seq("__gk", "__cents", "__qv", "__qn", "__pr", "__best") ++
        (1 to probes).flatMap(j => Seq(s"__pc$j", s"__mm$j"))): _*)
  }

  /** The per-batch body of [[annAdmissionBatchedStream]], public so a
    * crash replay is drivable and gated directly (the
    * [[applyQuarantineBatchIdempotent]] discipline): search ONE
    * micro-batch of vectors against the DURABLE live IVF index
    * ([[graft.operators.Similarity.searchIvfLive]] — reopened
    * bucketed cells, tombstones excluded pre-rank, so takedowns are
    * visible to the stream at the next micro-batch with no restart),
    * fold the top-1 into the admission decision (below `tau` or no
    * candidate → admit; zero-norm/null vectors score null cosines
    * throughout and admit — never a NaN reject), and write the
    * decisions as a DYNAMIC OVERWRITE of the batch's own
    * `batch_id=<id>` partition — replayed batches rewrite, never
    * duplicate. */
  def applyAnnAdmissionBatch(spark: SparkSession, batch: DataFrame,
                             batchId: Long, prefix: String,
                             idCol: String, vecCol: String, tau: Double,
                             nProbe: Int, outPath: String): Unit = {
    val ann = graft.operators.Similarity.searchIvfLive(spark, prefix,
        batch, idCol, vecCol, k = 1, nProbe = nProbe)
      .filter(col("rank") === 1)
      .select(col("query_id").as(idCol), col("neighbor_id"),
        col("cosine"))
    batch.select(col(idCol))
      .join(ann, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("cosine") < lit(tau), lit(true)).as("admitted"),
        when(col("cosine") >= lit(tau), col("neighbor_id"))
          .as("match_id"))
      .withColumn("batch_id", lit(batchId))
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("batch_id").parquet(outPath)
  }

  /** One micro-batch of the streaming DECONTAMINATION rung: winnow
    * the batch's texts and screen them against the live rooted
    * benchmark-fingerprint index
    * ([[graft.operators.TextAnalysis.containmentVsWinnowIndex]]) —
    * a doc whose winnow-containment exceeds `maxContainment` rejects
    * with its (n_fp, n_hits) evidence attached. The face reopens
    * LIVE each batch, which is the whole point of the durable shape:
    * a benchmark suite APPENDED mid-stream
    * ([[graft.operators.TextAnalysis.appendToWinnowIndexRooted]])
    * screens from the very next micro-batch with no restart, and a
    * RETIRED suite's fingerprints stop rejecting at the next batch
    * the same way. Output is exactly-once under crash-redelivery via
    * the batch_id-partitioned dynamic overwrite. */
  def applyDecontamBatch(spark: SparkSession, batch: DataFrame,
                         batchId: Long, prefix: String,
                         idCol: String, textCol: String,
                         maxContainment: Double,
                         outPath: String): Unit = {
    val face =
      graft.operators.TextAnalysis.readWinnowIndexRootedLive(spark, prefix)
    // null text ADMITS with zero counts (membership unprovable — the
    // q94 discipline) and stays PRESENT in the exactly-once output:
    // left on the screen, a null doc either vanishes (the native
    // hasher emits no fingerprint rows for it) or is judged on the
    // empty-gram artifact fingerprint — both wrong
    val screened = graft.operators.TextAnalysis
      .containmentVsWinnowIndex(face,
        batch.filter(col(textCol).isNotNull), idCol, textCol)
      .select(col(idCol), col("n_fp"), col("n_hits"),
        (col("containment") <= lit(maxContainment)).as("admitted"))
    val nulls = batch.filter(col(textCol).isNull)
      .select(col(idCol), lit(0L).as("n_fp"), lit(0L).as("n_hits"),
        lit(true).as("admitted"))
    screened.unionByName(nulls)
      .withColumn("batch_id", lit(batchId))
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("batch_id").parquet(outPath)
  }

  /** Streaming decontamination against a durable benchmark face —
    * the admission-time shape eval-set hygiene actually needs at
    * 100 TB: suites accrete and retire continuously, so the screen
    * must reopen the index per micro-batch rather than capture it at
    * plan time (the one-pass broadcast cascade is blind to a suite
    * landing mid-run until restart). Per-batch cost ∝ batch: only
    * the batch side hashes, winnows and shuffles — the index side
    * reads its bucket layout unshuffled and is never re-winnowed.
    * Blocks until AvailableNow drains the source. */
  def decontamAdmissionBatchedStream(docs: DataFrame, idCol: String,
                                     textCol: String, prefix: String,
                                     maxContainment: Double,
                                     outPath: String): Unit = {
    val spark = docs.sparkSession
    val q = docs.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        applyDecontamBatch(spark, batch, batchId, prefix, idCol,
          textCol, maxContainment, outPath)
      }
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
  }

  /** The UNBOUNDED-corpus tier of the streaming ANN admission ladder
    * — the route [[annAdmissionStream]]'s scaladoc promises when the
    * accepted corpus outgrows the broadcast member arrays: each
    * micro-batch runs a RELATIONAL [[graft.operators.Similarity.searchIvf]]
    * against the durable bucketed index (the corpus side reopens
    * shuffle-free and never materializes a cell in one row — only
    * the small batch side shuffles), so the reference set is bounded
    * by DISK, not by a row's array capacity. The trade, honestly
    * stated: a per-batch join pipeline instead of a stateless
    * projection — higher per-batch latency, unbounded capacity.
    * Reads the index LIVE each batch (takedowns apply at the next
    * micro-batch) and writes through the batch_id-partitioned dynamic
    * overwrite, so output is exactly-once under crash-redelivery
    * ([[applyQuarantineBatchIdempotent]]'s delivery ladder). Blocks
    * until AvailableNow drains the source. */
  def annAdmissionBatchedStream(vecs: DataFrame, idCol: String,
                                vecCol: String, prefix: String,
                                tau: Double, nProbe: Int,
                                outPath: String): Unit = {
    val spark = vecs.sparkSession
    val q = vecs.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        applyAnnAdmissionBatch(spark, batch, batchId, prefix, idCol,
          vecCol, tau, nProbe, outPath)
      }
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
  }

  /** The streaming ingestion ladder composed into ONE pass — the
    * cascade a 100 TB text-ingest front door actually runs, with the
    * tiers the individual rungs gate separately (exact q114-style,
    * quality q57/q114, semantic q138) stacked under FIRST-REJECT
    * precedence:
    *
    *   1. `exact`   — the raw text already exists in the accepted
    *                  corpus (broadcast equi-join on the text;
    *                  `acceptedTexts` must carry exactly the columns
    *                  `text` and `exact_id` — the accepted set's min
    *                  doc id per distinct text, the takedown-friendly
    *                  audit pointer);
    *   2. `quality` — trimmed length below `minLen`, or non-[A-Za-z0-9
    *                  whitespace] characters exceed `maxNonAlphaRatio`
    *                  of the raw length (the ratio is evaluated as a
    *                  MULTIPLICATION, never a division — an empty text
    *                  must reject, not raise DIVIDE_BY_ZERO under
    *                  ANSI); null/empty text rejects here;
    *   3. `semantic`— [[graft.operators.TextAnalysis.hashEmbed]] →
    *                  [[annAdmissionStream]] vs the accepted corpus's
    *                  IVF members at `tau`.
    *
    * Regime, honestly stated (the [[graft.operators.Similarity.cellMembers]]
    * contract): `acceptedTexts` and the IVF members are BROADCAST
    * reference sets — a curated accepted corpus, a blocklist, a
    * recent window — not an unbounded history. An unbounded accepted
    * corpus takes the foreachBatch route for the exact tier (sharded
    * Bloom + verify join, the [[bloomDedupStream]] shape) and the
    * batch searchIvf route for the semantic tier. The exact tier
    * compares RAW text (never a 64-bit digest — a collision must not
    * reject a novel doc); shrinking broadcast bytes with an
    * md5-prefilter-plus-exact-verify pair is sound, hash-ONLY
    * equality is not (the value-keyed-collapse discipline,
    * [[graft.operators.Dedup]]).
    *
    * Every tier is a broadcast join or a pure projection — no state,
    * no stream-side aggregation; append mode survives. All three tier
    * signals are computed for every row (one scan, full per-tier
    * observability — the per-row cost of the later tiers is a few
    * codegen'd ns, so gating their EVALUATION saves nothing in this
    * one-pass shape; a deployment whose semantic tier is genuinely
    * expensive splits the cascade across [[quarantineStream]]-style
    * foreachBatch stages instead) and `reason` is the FIRST failing
    * tier; `cascade_admitted` = no tier fired. `exact_match_id` /
    * `semantic_match_id` carry the audit pointer only for the tier
    * that decided, so downstream takedown handling never confuses a
    * verbatim re-crawl with a paraphrase. */
  def admissionCascadeStream(docs: DataFrame, idCol: String,
                             textCol: String, acceptedTexts: DataFrame,
                             minLen: Int, maxNonAlphaRatio: Double,
                             index: graft.operators.Similarity.IvfIndex,
                             members: DataFrame, tau: Double,
                             dim: Int = 64, nProbe: Int = 2): DataFrame = {
    val embedded = graft.operators.TextAnalysis.hashEmbed(docs, textCol,
      dim, out = "__cemb")
    val sem = annAdmissionStream(embedded, idCol, "__cemb", index,
      members, tau, nProbe)
    val withExact = sem.join(broadcast(acceptedTexts
        .select(col("text").as(textCol), col("exact_id").as("__xid"))),
      Seq(textCol), "left")
    val len = length(trim(col(textCol)))
    val nonAlpha = length(regexp_replace(col(textCol),
      "[A-Za-z0-9\\s]", ""))
    val qualityOk = col(textCol).isNotNull && len >= lit(minLen) &&
      nonAlpha.cast("double") <=
        lit(maxNonAlphaRatio) * length(col(textCol)).cast("double")
    withExact
      .withColumn("reason",
        when(col("__xid").isNotNull, lit("exact"))
          .when(!coalesce(qualityOk, lit(false)), lit("quality"))
          .when(!col("admitted"), lit("semantic")))
      .withColumn("cascade_admitted", col("reason").isNull)
      .withColumn("exact_match_id",
        when(col("reason") === "exact", col("__xid")))
      .withColumn("semantic_match_id",
        when(col("reason") === "semantic", col("match_id")))
      .drop("__cemb", "__xid", "admitted", "match_id")
  }

  /** The per-batch body of [[admissionCascadeBatchedStream]], public
    * so a crash replay is drivable and gated directly (the
    * [[applyAnnAdmissionBatch]] discipline). Computes all FOUR tier
    * signals for the batch and writes the decisions as a dynamic
    * overwrite of the batch's own `batch_id=<id>` partition:
    *
    *   1. `exact`    — raw-text join against `acceptedTexts`
    *                   (columns `text`, `exact_id`);
    *   2. `quality`  — the [[admissionCascadeStream]] length +
    *                   non-alpha-ratio formula;
    *   3. `fuzzy`    — the [[graft.operators.Dedup.incrementalDropNearDups]]
    *                   contract against the LIVE rooted n-gram index
    *                   (reopened per batch, so n-gram takedowns apply
    *                   at the next micro-batch with no restart) over
    *                   the batch's non-null texts — within-batch
    *                   near-dup components and index taint included,
    *                   so the streamed decision ≡ the batch replay of
    *                   the q56 contract by shared code;
    *   4. `semantic` — [[graft.operators.TextAnalysis.hashEmbed]] →
    *                   [[graft.operators.Similarity.searchIvfLive]]
    *                   against the DURABLE bucketed IVF index (the
    *                   unbounded [[applyAnnAdmissionBatch]] tier —
    *                   vector takedowns live at the next batch too).
    *
    * `reason` is the FIRST failing tier; all four signals are
    * computed for every row (full observability, as the one-pass
    * cascade). Null/degenerate texts reject at `quality` and embed
    * null vectors (no candidates → the semantic signal never fires on
    * them). */
  def applyCascadeBatch(spark: SparkSession, batch: DataFrame,
                        batchId: Long, idCol: String, textCol: String,
                        acceptedTexts: DataFrame, minLen: Int,
                        maxNonAlphaRatio: Double, ngramPrefix: String,
                        n: Int, threshold: Double, maxBucket: Int,
                        annPrefix: String, tau: Double, dim: Int,
                        nProbe: Int, outPath: String): Unit = {
    // uniqueness ENFORCED, not assumed: a caller frame with duplicate
    // texts would fan each arrival into duplicate decision rows in
    // the exactly-once output — collapse to the min exact_id (the
    // deterministic representative, the Dedup.exact discipline)
    val accepted = acceptedTexts
      .groupBy(col("text"))
      .agg(min(col("exact_id")).as("exact_id"))
    val withXid = batch
      .join(accepted.select(col("text").as(textCol),
        col("exact_id").as("__xid")), Seq(textCol), "left")
    cascadeBatchTail(spark, withXid, batchId, idCol, textCol, minLen,
      maxNonAlphaRatio, ngramPrefix, n, threshold, maxBucket,
      annPrefix, tau, dim, nProbe, outPath)
  }

  /** [[applyCascadeBatch]] with the exact tier served by the DURABLE
    * rooted exact index ([[graft.operators.Dedup.readExactIndexRootedLive]]
    * — the q94/q128 family) instead of a caller-supplied raw-text
    * frame: the batch's texts Bloom-prefilter as a pure projection
    * (broadcast sketches, the only bytes that ever ship), and only
    * the Bloom-POSITIVE rows pay the verification join against the
    * hash-bucketed table — so the accepted corpus never broadcasts,
    * never re-shuffles per batch, and is never scanned for the
    * (dominant) Bloom-negative arrivals. With this, the exact tier is
    * takedown-aware IN-FLIGHT like tiers 3 and 4: the rooted read
    * applies the `${exactPrefix}_tombstones` ledger per micro-batch,
    * so a text removed from the accepted corpus admits again at the
    * very next batch, no restart.
    *
    * Decision parity with the caller-frame path, stated precisely:
    * admit/reason decisions are IDENTICAL on any batch (Bloom is a
    * prefilter; the hash-equi + text-equality residual join keeps the
    * decision collision-free — the value-keyed-collapse discipline),
    * but `exact_match_id` carries the matched text's 64-bit content
    * hash (the identity the index and its takedown ledger actually
    * key on) rather than a caller-assigned doc id — the audit pointer
    * a compliance flow resolves through the index's own hash table. */
  def applyCascadeBatchDurable(spark: SparkSession, batch: DataFrame,
                               batchId: Long, idCol: String,
                               textCol: String, exactPrefix: String,
                               minLen: Int, maxNonAlphaRatio: Double,
                               ngramPrefix: String, n: Int,
                               threshold: Double, maxBucket: Int,
                               annPrefix: String, tau: Double,
                               dim: Int, nProbe: Int,
                               outPath: String,
                               decontam: Option[(String, Double)] = None)
      : Unit = {
    val exactIdx = graft.operators.Dedup.readExactIndexRootedLive(
      spark, exactPrefix)
    val probed = batch.withColumn("__mc",
      graft.operators.Dedup.mightContainIndexCol(exactIdx,
        xxhash64(col(textCol))))
    val neg = probed.filter(!coalesce(col("__mc"), lit(false)))
      .withColumn("__xid", lit(null).cast("long"))
    val pos = probed.filter(coalesce(col("__mc"), lit(false)))
      .withColumn("__h", xxhash64(col(textCol)))
    // hash-ONLY equi key so the index side reads its __h bucket
    // layout unshuffled (a text-equality second join key makes the
    // planner disable the bucketed scan — and a post-join FILTER gets
    // pushed back into the join condition, recreating the compound
    // key, so the verification rides a PROJECTION marker folded by a
    // per-id aggregate instead: nothing for the optimizer to push).
    // The match stays collision-free — a 64-bit collision against a
    // DIFFERENT text yields a null marker, and the batch-sized
    // id-keyed aggregate + left join re-attach the verified pointer.
    val hits = pos
      .join(exactIdx.hashes.select(col("__h").as("__ih"), col("__t")),
        pos("__h") === col("__ih"))
      .select(pos(idCol),
        when(pos(textCol) === col("__t"), col("__ih")).as("__xm"))
      .groupBy(col(idCol)).agg(max(col("__xm")).as("__xid"))
    val posVerified = pos.join(hits, Seq(idCol), "left").drop("__h")
    cascadeBatchTail(spark, neg.unionByName(posVerified).drop("__mc"),
      batchId, idCol, textCol, minLen, maxNonAlphaRatio, ngramPrefix,
      n, threshold, maxBucket, annPrefix, tau, dim, nProbe, outPath,
      decontam)
  }

  /** Shared tiers 2–4 + precedence fold + exactly-once sink of the
    * batched cascades: `withXid` is the batch with the exact tier's
    * `__xid` audit column already attached (non-null = exact reject).
    * Kept private so the two exact-tier faces can never drift in
    * quality/fuzzy/semantic semantics. */
  private def cascadeBatchTail(spark: SparkSession, withXid: DataFrame,
                               batchId: Long, idCol: String,
                               textCol: String, minLen: Int,
                               maxNonAlphaRatio: Double,
                               ngramPrefix: String, n: Int,
                               threshold: Double, maxBucket: Int,
                               annPrefix: String, tau: Double,
                               dim: Int, nProbe: Int,
                               outPath: String,
                               decontam: Option[(String, Double)] = None)
      : Unit = {
    val len = length(trim(col(textCol)))
    val nonAlpha = length(regexp_replace(col(textCol),
      "[A-Za-z0-9\\s]", ""))
    val qualityOk = col(textCol).isNotNull && len >= lit(minLen) &&
      nonAlpha.cast("double") <=
        lit(maxNonAlphaRatio) * length(col(textCol)).cast("double")
    // optional fifth rung — CONTAMINATION: winnow-screen the batch
    // against the durable benchmark-fingerprint face (the q169
    // family), reopened LIVE per micro-batch so a suite appended or
    // retired mid-stream flips decisions at the next batch like every
    // other tier. Precedence slot: after quality (an eligibility
    // screen belongs with the cheap text tiers), before the dedup
    // rungs — a benchmark-contaminated doc must never be LAUNDERED
    // into the corpus as a "fuzzy dup" of an accepted doc. Unlike the
    // fuzzy tier (cross-doc — every row shapes the within-batch
    // components), this screen is strictly per-doc, so rows already
    // decided at exact or quality are EXCLUDED from the winnow +
    // probe join: decision-identical (the precedence fold consults
    // __ct only after both), and a re-delivered exact-dup flood pays
    // nothing here.
    val contam = decontam.map { case (prefix, maxContainment) =>
      val face = graft.operators.TextAnalysis
        .readWinnowIndexRootedLive(spark, prefix)
      graft.operators.TextAnalysis.containmentVsWinnowIndex(face,
          withXid.filter(col(textCol).isNotNull &&
            col("__xid").isNull && qualityOk), idCol, textCol)
        .select(col(idCol),
          (col("containment") > lit(maxContainment)).as("__ct"))
    }
    val fuzzyIdx = graft.operators.Dedup.readNgramIndexRootedLive(
      spark, ngramPrefix, idCol, n)
    val fuzzySurv = graft.operators.Dedup.incrementalDropNearDups(
        fuzzyIdx, withXid.filter(col(textCol).isNotNull), textCol,
        threshold, maxBucket)
      .select(col(idCol), lit(true).as("__fz"))
    val emb = graft.operators.TextAnalysis.hashEmbed(withXid, textCol,
      dim, out = "__cemb")
    val ann = graft.operators.Similarity.searchIvfLive(spark, annPrefix,
        emb.select(col(idCol), col("__cemb")), idCol, "__cemb",
        k = 1, nProbe = nProbe)
      .filter(col("rank") === 1)
      .select(col("query_id").as(idCol), col("neighbor_id"),
        col("cosine"))
    contam.fold(withXid.withColumn("__ct", lit(false)))(ct =>
        withXid.join(ct, Seq(idCol), "left"))
      .join(fuzzySurv, Seq(idCol), "left")
      .join(ann, Seq(idCol), "left")
      .withColumn("reason",
        when(col("__xid").isNotNull, lit("exact"))
          .when(!coalesce(qualityOk, lit(false)), lit("quality"))
          .when(coalesce(col("__ct"), lit(false)), lit("contaminated"))
          .when(!coalesce(col("__fz"), lit(false)), lit("fuzzy"))
          .when(col("cosine") >= lit(tau), lit("semantic")))
      .withColumn("cascade_admitted", col("reason").isNull)
      .select(col(idCol),
        col("cascade_admitted"),
        col("reason"),
        when(col("reason") === "exact", col("__xid"))
          .as("exact_match_id"),
        when(col("reason") === "semantic", col("neighbor_id"))
          .as("semantic_match_id"))
      .withColumn("batch_id", lit(batchId))
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("batch_id").parquet(outPath)
  }

  /** The UNBOUNDED-corpus, FOUR-tier streaming admission cascade —
    * [[admissionCascadeStream]]'s foreachBatch twin, adding the rung
    * the one-pass shape cannot express: the FUZZY (n-gram Jaccard)
    * near-dup tier, whose within-batch connected components and
    * capped bucket joins are relational computations no stateless
    * stream projection can run. Tiers run per micro-batch under
    * first-reject precedence exact → quality → fuzzy → semantic, and
    * EVERY reference face is durable and takedown-aware: the exact
    * view is caller-supplied (derive it from the live accepted set —
    * a BOUNDED frame; an unbounded accepted corpus takes
    * [[admissionCascadeBatchedStreamDurable]], whose exact tier
    * reopens the rooted exact index instead),
    * the fuzzy tier reopens the rooted n-gram index LIVE
    * ([[graft.operators.Dedup.readNgramIndexRootedLive]] — ledger
    * applied), the semantic tier reopens the bucketed IVF LIVE — so
    * a takedown filed against ANY tier flips decisions at the next
    * stream pass with no restart. A lightly-edited re-crawl that
    * evades the exact tier and sits below the semantic tau but above
    * Jaccard `threshold` — the hole the three-tier cascade left —
    * rejects here with reason `fuzzy`.
    *
    * Per-batch cost ∝ batch (the q56 incremental contract: the index
    * side is never re-shingled, the IVF side never re-shuffles);
    * output is exactly-once under crash-redelivery via the
    * batch_id-partitioned dynamic overwrite. Blocks until
    * AvailableNow drains the source. */
  def admissionCascadeBatchedStream(docs: DataFrame, idCol: String,
                                    textCol: String,
                                    acceptedTexts: DataFrame,
                                    minLen: Int,
                                    maxNonAlphaRatio: Double,
                                    ngramPrefix: String, n: Int,
                                    threshold: Double, maxBucket: Int,
                                    annPrefix: String, tau: Double,
                                    dim: Int, nProbe: Int,
                                    outPath: String): Unit = {
    val spark = docs.sparkSession
    val q = docs.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        applyCascadeBatch(spark, batch, batchId, idCol, textCol,
          acceptedTexts, minLen, maxNonAlphaRatio, ngramPrefix, n,
          threshold, maxBucket, annPrefix, tau, dim, nProbe, outPath)
      }
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
  }

  /** [[admissionCascadeBatchedStream]] with ALL FOUR tiers on durable
    * takedown-aware faces — the caller-frame exact view replaced by
    * the rooted exact index ([[applyCascadeBatchDurable]]): at
    * unbounded-corpus scale the accepted set is neither broadcastable
    * nor cheap to re-join on a raw-text key per batch, and the
    * caller-frame tier was the one rung takedowns could not reach
    * without re-deriving the frame. Here every tier reopens its own
    * durable face per micro-batch — exact (Bloom + bucketed hash
    * table + `${exactPrefix}_tombstones` ledger), fuzzy (rooted
    * n-gram index + ledger), semantic (bucketed IVF + ledger) — so a
    * takedown filed against ANY tier flips decisions at the next
    * micro-batch with no restart, and the per-batch exact cost is a
    * projection plus a join of only the Bloom-positive rows.
    *
    * `decontam = Some((winnowPrefix, maxContainment))` arms the FIFTH
    * rung — benchmark CONTAMINATION, screened against the durable
    * rooted winnowing index (the q169 family) reopened live per
    * micro-batch: an eval suite appended or retired mid-stream flips
    * admissions at the very next batch. Precedence exact → quality →
    * contaminated → fuzzy → semantic: the contamination screen sits
    * with the cheap text tiers, BEFORE the dedup rungs, so a
    * benchmark-contaminated doc is named for what it is rather than
    * laundered out as a fuzzy dup of an accepted doc. */
  def admissionCascadeBatchedStreamDurable(docs: DataFrame,
                                           idCol: String,
                                           textCol: String,
                                           exactPrefix: String,
                                           minLen: Int,
                                           maxNonAlphaRatio: Double,
                                           ngramPrefix: String, n: Int,
                                           threshold: Double,
                                           maxBucket: Int,
                                           annPrefix: String,
                                           tau: Double, dim: Int,
                                           nProbe: Int,
                                           outPath: String,
                                           decontam: Option[(String, Double)] = None)
      : Unit = {
    val spark = docs.sparkSession
    val q = docs.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        applyCascadeBatchDurable(spark, batch, batchId, idCol, textCol,
          exactPrefix, minLen, maxNonAlphaRatio, ngramPrefix, n,
          threshold, maxBucket, annPrefix, tau, dim, nProbe, outPath,
          decontam)
      }
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
  }

  /** Streaming PERCEPTUAL near-dup admission — the MULTIMODAL rung of
    * the ingestion ladder: reject a streamed payload whose 64-bit
    * perceptual signature sits within `maxHamming` of a STATIC
    * reference set (an accepted image/audio corpus), admit everything
    * else. Compose upstream on the stream itself:
    * [[graft.operators.Multimodal.decodeImages]] →
    * [[graft.operators.Multimodal.perceptualHashes]] (or decodeWav →
    * audioFingerprint) are stateless per-row codec ops, legal in a
    * stream — so a re-encoded duplicate image is caught FROM BYTES
    * in-flight, before it ever reaches batch storage.
    *
    * Shape: `maxHamming + 1` broadcast left joins on the pigeonhole
    * band hashes against the pre-grouped member arrays
    * ([[graft.operators.Dedup.hammingBandMembers]] — pass it
    * PERSISTED, the q114 stream-static discipline), then a pure array
    * fold picks argmin (hamming, id). Zero stream state, plain append
    * mode — the [[annAdmissionStream]] shape, with one upgrade: the
    * pigeonhole bands make the probe RECALL-EXACT at the threshold,
    * so the streamed decision equals the batch
    * [[graft.operators.Dedup.hammingNearDups]] decision bit-for-bit —
    * WHEN both sides' skew guards stay quiet: the member table drops
    * buckets over its `maxBucket` (fail-open, observe-metered — see
    * [[graft.operators.Dedup.hammingBandMembers]]) and the batch pass
    * drops buckets over its own cap, so on a flooded signature bucket
    * the two tiers can diverge exactly as their `dropped_buckets`
    * metrics report. Null signatures (corrupt payloads that decoded
    * to null) ADMIT — membership unprovable, the q94 discipline. */
  def hammingAdmissionStream(sigs: DataFrame, idCol: String,
                             sigCol: String, members: DataFrame,
                             maxHamming: Int): DataFrame = {
    val b = maxHamming + 1
    val sig = col("__psig")
    val withBands = {
      val base = sigs.withColumn("__psig", col(sigCol).cast("long"))
      val bands = graft.operators.Dedup.hammingBands(sig, maxHamming)
      (0 until b).foldLeft(base) { case (df, i) =>
        df.withColumn(s"__bh$i", bands(i))
      }
    }
    val joined = (0 until b).foldLeft(withBands) { case (df, i) =>
      df.join(broadcast(members.filter(col("band") === i)
          .select(col("bh").as(s"__bh$i"), col("members").as(s"__mm$i"))),
        Seq(s"__bh$i"), "left")
    }
    // per-bucket argmin as a (hamming, id) struct min over the
    // within-threshold members; a member surfacing in several probed
    // buckets folds to the same struct value, so the outer min is
    // duplicate-proof
    def bestOf(mcol: Column): Column = array_min(filter(
      transform(mcol, m =>
        struct(bit_count(sig.bitwiseXOR(m.getField("sig")))
            .cast("int").as("hamming"),
          m.getField("neighbor_id").as("nid"))),
      s => s.getField("hamming") <= lit(maxHamming)))
    joined
      .withColumn("__best", array_min(filter(
        array((0 until b).map(i => bestOf(col(s"__mm$i"))): _*),
        x => x.isNotNull)))
      .withColumn("admitted", col("__best").isNull)
      .withColumn("match_id",
        when(!col("admitted"), col("__best").getField("nid")))
      .withColumn("match_hamming",
        when(!col("admitted"), col("__best").getField("hamming")))
      .drop((Seq("__psig", "__best") ++
        (0 until b).flatMap(i => Seq(s"__bh$i", s"__mm$i"))): _*)
  }

  /** The composed MEDIA admission cascade — the multimodal twin of
    * [[admissionCascadeStream]], the operational ladder a media
    * ingest front door actually runs, in ONE stateless stream pass
    * with first-reject precedence and per-tier pointers:
    *
    *   1. `dead_letter` — the payload failed its codec
    *                      ([[graft.operators.Multimodal.decodeStatus]]
    *                      != "ok": null/empty/undecodable bytes; the
    *                      status itself is the forensic pointer);
    *   2. `perceptual`  — the 64-bit signature sits within
    *                      `maxHamming` of an accepted member
    *                      ([[hammingAdmissionStream]] unchanged —
    *                      recall-EXACT at the threshold by
    *                      pigeonhole), catching container re-encodes
    *                      and brightness variants no byte hash sees;
    *   3. `semantic`    — the embedding's best probed cosine reaches
    *                      `tau` ([[annAdmissionStream]] unchanged),
    *                      catching near-copies that evade the
    *                      gradient signature (e.g. a copy absent from
    *                      the perceptual window but present in the
    *                      full vector corpus).
    *
    * The caller decodes + signs + embeds upstream (all stateless
    * per-row codec ops — [[graft.operators.Multimodal.decodeImages]]
    * → perceptualHashes / imageEmbed, or the audio/video bridges),
    * so ONE decode feeds both signal tiers; corrupt rows carry null
    * signatures/vectors, which both tiers ADMIT (membership
    * unprovable) — the dead_letter tier is what actually rejects
    * them, with the reason preserved. All three tier signals are
    * computed for every row (one pass, full observability — the
    * q147 discipline); `reason` is the FIRST failing tier,
    * `cascade_admitted` = no tier fired. Both reference sets ride
    * broadcast stream-static joins (pass them persisted); zero
    * state, plain append mode. */
  def mediaAdmissionCascadeStream(media: DataFrame, idCol: String,
                                  statusCol: String, sigCol: String,
                                  hammingMembers: DataFrame,
                                  maxHamming: Int, vecCol: String,
                                  index: graft.operators.Similarity.IvfIndex,
                                  members: DataFrame, tau: Double,
                                  nProbe: Int = 2): DataFrame = {
    val per = hammingAdmissionStream(media, idCol, sigCol,
        hammingMembers, maxHamming)
      .withColumnRenamed("admitted", "__padm")
      .withColumnRenamed("match_id", "__pmid")
      .withColumnRenamed("match_hamming", "__pham")
    val sem = annAdmissionStream(per, idCol, vecCol, index, members,
        tau, nProbe)
      .withColumnRenamed("admitted", "__sadm")
      .withColumnRenamed("match_id", "__smid")
    // null-safe status test: a null status is NOT "ok" — it must
    // dead-letter, never leak into the signal tiers
    sem.withColumn("reason",
        when(!(col(statusCol) <=> lit("ok")), lit("dead_letter"))
          .when(!col("__padm"), lit("perceptual"))
          .when(!col("__sadm"), lit("semantic")))
      .withColumn("cascade_admitted", col("reason").isNull)
      .withColumn("perceptual_match_id",
        when(col("reason") === "perceptual", col("__pmid")))
      .withColumn("perceptual_hamming",
        when(col("reason") === "perceptual", col("__pham")))
      .withColumn("semantic_match_id",
        when(col("reason") === "semantic", col("__smid")))
      .drop("__padm", "__pmid", "__pham", "__sadm", "__smid")
  }

  /** The per-batch body of [[mediaAdmissionCascadeBatchedStream]] —
    * [[applyCascadeBatchDurable]]'s MEDIA twin, public so a crash
    * replay is drivable and gated directly. The one-pass
    * [[mediaAdmissionCascadeStream]] captures its reference sets at
    * plan time (right for bounded windows, blind to takedowns until
    * restart); here BOTH signal tiers reopen durable takedown-aware
    * faces per micro-batch:
    *
    *   1. `dead_letter` — decode status != "ok" (null-safe, the
    *                      one-pass formula verbatim);
    *   2. `perceptual`  — [[hammingAdmissionStream]]'s stateless body
    *                      (batch-legal) against
    *                      [[graft.operators.Dedup.readHammingMembersLive]]
    *                      — the `${membersTable}_tombstones` ledger
    *                      applies per batch;
    *   3. `semantic`    — [[graft.operators.Similarity.searchIvfLive]]
    *                      against the durable bucketed IVF, vector
    *                      ledger applied per batch.
    *
    * First-reject precedence, per-tier pointers, batch_id-partitioned
    * dynamic overwrite = exactly-once under crash-redelivery. Corrupt
    * rows carry null signatures/vectors, which both signal tiers
    * ADMIT (membership unprovable) — dead_letter is what rejects
    * them, forensic reason preserved. The members table is bounded
    * (the cellMembers regime) and rides the band broadcasts; the IVF
    * corpus never broadcasts — its probe is the bucketed cell join. */
  def applyMediaCascadeBatch(spark: SparkSession, batch: DataFrame,
                             batchId: Long, idCol: String,
                             statusCol: String, sigCol: String,
                             membersTable: String, maxHamming: Int,
                             vecCol: String, annPrefix: String,
                             tau: Double, nProbe: Int,
                             outPath: String): Unit = {
    val members = graft.operators.Dedup
      .readHammingMembersLive(spark, membersTable)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val per = hammingAdmissionStream(batch, idCol, sigCol, members,
          maxHamming)
        .withColumnRenamed("admitted", "__padm")
        .withColumnRenamed("match_id", "__pmid")
        .withColumnRenamed("match_hamming", "__pham")
      mediaCascadeBatchTail(spark, per, batchId, idCol, statusCol,
        vecCol, annPrefix, tau, nProbe, outPath)
    } finally members.unpersist(blocking = false)
  }

  /** [[applyMediaCascadeBatch]] with the perceptual tier served by
    * the RELATIONAL banded-signature index
    * ([[graft.operators.Dedup.searchHammingBandIndex]] over
    * [[graft.operators.Dedup.readHammingBandIndexRootedLive]]) — the
    * UNBOUNDED-reference-corpus path: the broadcast members table is
    * the bounded-window tier (arrays, capped buckets, fails open on
    * floods); here the accepted perceptual corpus lives as bucketed
    * (band, bh, member) ROWS, the per-batch probe is one equi-join
    * whose index side reads its bucket layout unshuffled, recall
    * stays pigeonhole-exact with NO fail-open cap, and the banding
    * threshold comes from the index meta (the artifact defines its
    * own probe geometry — a caller cannot desynchronize it). The
    * `${bandPrefix}_tombstones` ledger applies per micro-batch, so
    * perceptual takedowns flip at the next batch like every other
    * tier. */
  def applyMediaCascadeBatchUnbounded(spark: SparkSession,
                                      batch: DataFrame, batchId: Long,
                                      idCol: String, statusCol: String,
                                      sigCol: String,
                                      bandPrefix: String,
                                      vecCol: String, annPrefix: String,
                                      tau: Double, nProbe: Int,
                                      outPath: String): Unit = {
    val (maxHamming, rows) = graft.operators.Dedup
      .readHammingBandIndexRootedLive(spark, bandPrefix)
    val per = graft.operators.Dedup.searchHammingBandIndex(rows,
        maxHamming, batch, idCol, sigCol)
      .withColumnRenamed("admitted", "__padm")
      .withColumnRenamed("match_id", "__pmid")
      .withColumnRenamed("match_hamming", "__pham")
    mediaCascadeBatchTail(spark, per, batchId, idCol, statusCol,
      vecCol, annPrefix, tau, nProbe, outPath)
  }

  /** Shared semantic tier + precedence fold + exactly-once sink of
    * the batched media cascades: `per` is the batch with the
    * perceptual tier's `__padm`/`__pmid`/`__pham` columns attached.
    * Private so the two perceptual faces can never drift in
    * dead-letter/semantic semantics. */
  private def mediaCascadeBatchTail(spark: SparkSession,
                                    per: DataFrame, batchId: Long,
                                    idCol: String, statusCol: String,
                                    vecCol: String, annPrefix: String,
                                    tau: Double, nProbe: Int,
                                    outPath: String): Unit = {
    val ann = graft.operators.Similarity.searchIvfLive(spark,
        annPrefix, per.select(col(idCol), col(vecCol)), idCol,
        vecCol, k = 1, nProbe = nProbe)
      .filter(col("rank") === 1)
      .select(col("query_id").as(idCol), col("neighbor_id"),
        col("cosine"))
    per.join(ann, Seq(idCol), "left")
      .withColumn("reason",
        when(!(col(statusCol) <=> lit("ok")), lit("dead_letter"))
          .when(!col("__padm"), lit("perceptual"))
          .when(col("cosine") >= lit(tau), lit("semantic")))
      .withColumn("cascade_admitted", col("reason").isNull)
      .select(col(idCol),
        col("cascade_admitted"),
        col("reason"),
        when(col("reason") === "perceptual", col("__pmid"))
          .as("perceptual_match_id"),
        when(col("reason") === "perceptual", col("__pham"))
          .as("perceptual_hamming"),
        when(col("reason") === "semantic", col("neighbor_id"))
          .as("semantic_match_id"))
      .withColumn("batch_id", lit(batchId))
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("batch_id").parquet(outPath)
  }

  /** The UNBOUNDED-corpus streaming MEDIA admission cascade —
    * [[mediaAdmissionCascadeStream]]'s foreachBatch twin (the q152/
    * q158 discipline applied to media): the caller still decodes +
    * signs + embeds ON the stream (stateless per-row codec ops), but
    * the reference faces are DURABLE — perceptual members + ledger,
    * bucketed IVF + ledger — reopened per micro-batch by
    * [[applyMediaCascadeBatch]], so a takedown against either tier
    * flips decisions at the next micro-batch with no restart, and an
    * unbounded vector corpus probes relationally instead of riding a
    * broadcast. Exactly-once output via the batch_id sink. Blocks
    * until AvailableNow drains the source. */
  def mediaAdmissionCascadeBatchedStream(media: DataFrame,
                                         idCol: String,
                                         statusCol: String,
                                         sigCol: String,
                                         membersTable: String,
                                         maxHamming: Int,
                                         vecCol: String,
                                         annPrefix: String,
                                         tau: Double, nProbe: Int,
                                         outPath: String): Unit = {
    val spark = media.sparkSession
    val q = media.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        applyMediaCascadeBatch(spark, batch, batchId, idCol, statusCol,
          sigCol, membersTable, maxHamming, vecCol, annPrefix, tau,
          nProbe, outPath)
      }
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
  }

  /** [[mediaAdmissionCascadeBatchedStream]] with the perceptual tier
    * on the RELATIONAL banded index ([[applyMediaCascadeBatchUnbounded]])
    * — the variant for an accepted perceptual corpus too large to
    * broadcast or array-pack: every tier's per-batch cost is ∝ batch,
    * every face durable and takedown-aware, no fail-open bucket cap
    * on the perceptual rung. The banded threshold rides the index
    * meta; exactly-once output via the batch_id sink. */
  def mediaAdmissionCascadeBatchedStreamUnbounded(media: DataFrame,
                                                  idCol: String,
                                                  statusCol: String,
                                                  sigCol: String,
                                                  bandPrefix: String,
                                                  vecCol: String,
                                                  annPrefix: String,
                                                  tau: Double,
                                                  nProbe: Int,
                                                  outPath: String): Unit = {
    val spark = media.sparkSession
    val q = media.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        applyMediaCascadeBatchUnbounded(spark, batch, batchId, idCol,
          statusCol, sigCol, bandPrefix, vecCol, annPrefix, tau,
          nProbe, outPath)
      }
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
  }

  /** Dead-letter split for a streaming ingest — the multi-sink
    * pattern a 100 TB pipeline runs around every codec boundary: the
    * decode family deliberately yields NULL output columns on corrupt
    * payloads (a poison byte string must never kill the stream), but
    * silently-null rows pollute the healthy path and carry no
    * forensics. This routes each micro-batch ONCE (persisted, so the
    * decode work upstream of the split is not paid twice) into two
    * appends: rows whose `statusCol` is `"ok"` flow through the
    * caller's `healthy` transform (e.g. [[hammingAdmissionStream]] —
    * its stateless body is batch-legal) into `mainTable`; the rest
    * land VERBATIM in `quarantineTable` (full original row — the
    * forensic record) with the status as the reason. Derive
    * `statusCol` with [[graft.operators.Multimodal.decodeStatus]].
    *
    * Delivery semantics, stated honestly: foreachBatch is
    * at-least-once — a batch that crashes between the two appends
    * replays, so a failure can duplicate rows. Every row therefore
    * carries `batch_id`; downstream consumers that need exactly-once
    * dedup on (batch_id, key), or replace the appends with
    * batchId-partitioned dynamic overwrites. Blocks until the
    * AvailableNow trigger drains the source. */
  def quarantineStream(df: DataFrame, statusCol: String,
                       healthy: DataFrame => DataFrame,
                       mainTable: String,
                       quarantineTable: String): Unit = {
    val q = df.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val b = batch.persist(
          org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        try {
          healthy(b.filter(col(statusCol) === "ok"))
            .withColumn("batch_id", lit(batchId))
            .write.mode("append").format("parquet")
            .saveAsTable(mainTable)
          b.filter(col(statusCol) =!= "ok")
            .withColumn("batch_id", lit(batchId))
            .write.mode("append").format("parquet")
            .saveAsTable(quarantineTable)
        } finally { b.unpersist(); () }
      }
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
  }

  /** The per-batch body of [[quarantineStreamIdempotent]], public so
    * a crash replay can be driven (and gated) directly: route ONE
    * micro-batch into the healthy/quarantine split and write each
    * side as a DYNAMIC OVERWRITE of its own `batch_id=<id>` partition
    * — mode Overwrite + partitionOverwriteMode=dynamic replaces ONLY
    * the partitions present in this write, so a replayed batch
    * rewrites its own partition byte-for-byte instead of appending a
    * duplicate, and every other batch's output is untouched. This is
    * what upgrades foreachBatch's at-least-once delivery to
    * exactly-once OUTPUT: the file-source checkpoint replays a
    * crashed batch with the SAME id and (AvailableNow + deterministic
    * transforms) the same rows, and the rewrite is idempotent.
    * `healthy` must be stateless/deterministic per batch — the
    * [[quarantineStream]] contract unchanged. */
  def applyQuarantineBatchIdempotent(batch: DataFrame, batchId: Long,
                                     statusCol: String,
                                     healthy: DataFrame => DataFrame,
                                     mainPath: String,
                                     quarantinePath: String): Unit = {
    val b = batch.persist(
      org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      healthy(b.filter(col(statusCol) === "ok"))
        .withColumn("batch_id", lit(batchId))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("batch_id").parquet(mainPath)
      b.filter(col(statusCol) =!= "ok")
        .withColumn("batch_id", lit(batchId))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("batch_id").parquet(quarantinePath)
    } finally { b.unpersist(); () }
  }

  /** [[quarantineStream]] with EXACTLY-ONCE output — the upgrade the
    * at-least-once variant's doc points at: same dead-letter routing,
    * but both sinks are `batch_id`-partitioned parquet DIRECTORIES
    * written via [[applyQuarantineBatchIdempotent]]'s dynamic
    * partition overwrite, so a batch that crashes between the two
    * writes (or after an incomplete one) simply rewrites its own
    * partition on replay — no duplicate rows, no manual
    * (batch_id, key) dedup downstream. The delivery ladder, honestly
    * stated: source replay gives the same rows (file source +
    * AvailableNow), the partition rewrite makes re-delivery
    * idempotent, and the checkpoint advances only after the batch
    * commits — together, exactly-once OUTPUT for deterministic
    * stateless transforms; a non-deterministic `healthy` (e.g. one
    * reading mutable reference state mid-retrain) degrades to
    * at-least-once-consistent (the LAST replay's view wins for that
    * partition, still never duplicated). Blocks until AvailableNow
    * drains the source. */
  def quarantineStreamIdempotent(df: DataFrame, statusCol: String,
                                 healthy: DataFrame => DataFrame,
                                 mainPath: String,
                                 quarantinePath: String): Unit = {
    val q = df.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        applyQuarantineBatchIdempotent(batch, batchId, statusCol,
          healthy, mainPath, quarantinePath)
      }
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
  }

  /** Streaming NEAR-dup pre-drop for document ingestion: sketch every
    * doc with the native single-pass SimHash
    * ([[graft.operators.Dedup.simhashCol]] — a pure projection, which
    * is what makes this expressible in a stream at all; the
    * 64-sum-buffer aggregate form cannot run per-row) and drop docs
    * whose 64-bit sketch was already seen inside the watermark.
    *
    * Semantics, honestly stated: sketch-EXACT matching. Small edits
    * usually leave every bit's token-vote majority unchanged (that is
    * SimHash's point), so near-identical docs collide and drop; an
    * edit that flips ≥1 bit passes the stream. This is the standard
    * two-tier shape for 100 TB ingestion — a cheap bounded-state
    * streaming pre-drop catching the flood of exact-and-near-exact
    * repeats, with the batch pipeline ([[graft.operators.Dedup]]
    * banding + verification) as the recall-complete second tier. */
  def simhashDedupStream(docs: DataFrame, tsCol: String, textCol: String,
                         watermark: String = "1 hour"): DataFrame =
    docs
      .withColumn("simhash", graft.operators.Dedup.simhashCol(
        split(lower(col(textCol)), "\\s+")))
      .withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark("simhash")

  /** Streaming eval-set decontamination: drop streamed documents whose
    * fingerprint appears in a STATIC blocklist — a stream-static
    * LEFT ANTI join, the one join shape that needs no stream-side
    * state at all (each micro-batch probes the static side
    * independently; benchmark fingerprints number thousands, so the
    * static side broadcasts). The streaming face of
    * [[graft.operators.TextAnalysis.decontaminate]]: with the native
    * [[graft.operators.TextAnalysis.rollingFingerprint]] projection
    * the whole admission check is stateless per row, so contaminated
    * docs never reach the (stateful, costlier) dedup stages behind it.
    * Fuzzy/containment decontamination stays batch — it needs the
    * two-sided gram bucket join. */
  def decontaminateStream(docs: DataFrame, blocklist: DataFrame,
                          textCol: String): DataFrame =
    docs
      .withColumn("fingerprint", graft.operators.TextAnalysis
        .rollingFingerprint(col(textCol)))
      .join(broadcast(blocklist.select(col("fingerprint")).distinct()),
        Seq("fingerprint"), "left_anti")

  /** Streaming curation admission filter: score each streamed
    * document with the quality heuristic
    * ([[graft.operators.TextAnalysis.qualityScore]]) and a fitted
    * DSIR model ([[graft.operators.Curation.dsirScore]] — the native
    * per-row expression over the dense ratio table fitted OFFLINE by
    * `fitDsir`) and admit rows passing both thresholds. Both scorers
    * are pure projections — no watermark, no state, no join — so
    * this is the cheapest possible first tier of a streaming ingest
    * pipeline, in front of the stateful dedup stages: at 100 TB the
    * flood of low-quality / off-domain documents is rejected at the
    * codec boundary before it ever costs a shuffle or state lookup.
    * Documents with no features (empty text) score null and are
    * rejected. The score columns stay on the admitted rows for
    * downstream sampling/audit. */
  def scoreFilterStream(docs: DataFrame, textCol: String,
                        model: graft.operators.Curation.DsirModel,
                        minQuality: Double = 0.5,
                        minDsir: Double = 0.0): DataFrame =
    docs
      .withColumn("quality",
        graft.operators.TextAnalysis.qualityScore(col(textCol)))
      .withColumn("dsir_score",
        graft.operators.Curation.dsirScore(col(textCol), model))
      .filter(col("quality") >= minQuality && col("dsir_score") >= minDsir)

  /** The discriminative variant of [[scoreFilterStream]]: admission by
    * a fitted logistic-regression quality classifier
    * ([[graft.operators.Curation.fitQualityLr]]) instead of the
    * generative DSIR ratio. Same zero-state shape — the model is a
    * plan literal and [[graft.operators.Curation.lrScoreCol]] is a
    * pure projection, so the filter runs before any shuffle or state.
    * Featureless documents score null and are rejected. */
  def classifierFilterStream(docs: DataFrame, textCol: String,
                             model: graft.operators.Curation.LrModel,
                             minScore: Double = 0.5): DataFrame =
    docs
      .withColumn("lr_score",
        graft.operators.Curation.lrScoreCol(col(textCol), model))
      .filter(col("lr_score") >= minScore)

  /** Stateless streaming contamination screening by winnowing
    * fingerprints: each document's fingerprint ARRAY is computed as a
    * pure projection ([[graft.operators.TextAnalysis.winnowCol]] over
    * native gram hashes) and checked for overlap against the static
    * benchmark fingerprint set, carried as ONE broadcast row — no
    * explode, no stream-side state, no per-doc re-aggregation (the
    * stateless property costs an O(|docFps| × |benchFps|) overlap
    * scan per document, fine for benchmark-sized sets — eval suites
    * are 10⁴-ish items — and wrong for corpus-sized ones: decontam
    * against a large corpus belongs to the batch tier's bucketed gram
    * joins). `benchmark` is computed ONCE, eagerly, into a plan
    * literal (the model-as-literal discipline of `lrScoreCol` /
    * `dsirScoreCol`) — a stream-static join's static sub-plan is
    * re-evaluated every micro-batch, so leaving the benchmark
    * aggregation in the plan would re-fingerprint the whole benchmark
    * corpus per trigger. Emits the surviving rows with `n_fp`
    * (DISTINCT fingerprints — the same set semantics as
    * [[graft.operators.TextAnalysis.winnowContainment]]'s `n_fp`, so
    * the two audit columns are cross-comparable). */
  def winnowScreenStream(docs: DataFrame, idCol: String, textCol: String,
                         benchmark: DataFrame, benchIdCol: String,
                         benchTextCol: String,
                         k: Int = 4, w: Int = 4): DataFrame = {
    val benchDistinct = graft.operators.TextAnalysis
      .winnowFingerprints(benchmark, benchIdCol, benchTextCol, k, w)
      .select(col("fingerprint")).distinct()
      // consumed twice (the size-guard count + the collect): persisted
      // so the fingerprint pipeline (tokenize → gram-hash → window
      // select → distinct) runs once, not once per action
      .persist()
    // the eval-suite-sized contract, enforced BEFORE the collect: the
    // count is one scalar action, so a corpus-sized "benchmark" fails
    // fast with a pointer at the batch-tier alternative instead of
    // OOMing the driver materializing the array it was about to reject
    val benchFps: Array[Long] =
      try {
        val nFps = benchDistinct.count()
        require(nFps <= 1000000,
          s"winnowScreenStream benchmark has $nFps distinct " +
            "fingerprints (limit 1,000,000): this operator is for " +
            "eval-suite-sized benchmarks carried as a plan literal; screen " +
            "against a large corpus with TextAnalysis.winnowContainment's " +
            "bucketed joins in the batch tier instead")
        benchDistinct.collect().map(_.getLong(0))
      } finally benchDistinct.unpersist()
    val tk = split(lower(trim(col(textCol))), "\\s+")
    val hs = graft.operators.Dedup.gramHashesCol(tk, k)
    docs
      .withColumn("__fps", array_distinct(expr_fps(hs, w)))
      .filter(!arrays_overlap(col("__fps"), lit(benchFps)))
      .withColumn("n_fp", size(col("__fps")))
      .drop("__fps")
  }

  /** selected fingerprint VALUES of a gram-hash array: positions from
    * the native winnow selection, mapped back through the array. */
  private def expr_fps(hashes: Column, w: Int): Column =
    transform(graft.operators.TextAnalysis.winnowCol(hashes, w),
      p => element_at(hashes, p))
}
