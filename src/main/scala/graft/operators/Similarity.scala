package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.sources.{Generations, Sinks}

/** Approximate-nearest-neighbor search over an embedding column
  * (`array<float>`). Baseline: brute-force cosine top-k — one scan of
  * the corpus per query batch, queries broadcast (the small side), so
  * the cost is O(|corpus| × |queries|) FLOPs with no shuffle of the
  * corpus. Scale path: LSH-bucketed search via deterministic random
  * hyperplanes — each corpus vector is hashed once, queries probe only
  * their bucket (plus multi-probe neighbors), turning the scan into a
  * bucket join.
  */
object Similarity {

  /** element-wise dot product of two double arrays — a native Catalyst
    * expression ([[graft.expressions.DotProduct]]) compiling to one
    * primitive loop per row; ascending-index double accumulation, so
    * results are bit-identical to the `aggregate(zip_with(...))`
    * higher-order form (and to DuckDB's `list_dot_product`). */
  def dot(a: Column, b: Column): Column =
    org.apache.spark.sql.GraftExpressionBridge.column(
      graft.expressions.DotProduct(
        // cast is a no-op (analyzer-removed) on array<double> inputs,
        // an ArrayCast on array<float> — same as the previous explicit
        // per-element cast
        org.apache.spark.sql.GraftExpressionBridge.expression(a.cast("array<double>")),
        org.apache.spark.sql.GraftExpressionBridge.expression(b.cast("array<double>"))))

  def norm(a: Column): Column = sqrt(dot(a, a))

  private def asDouble(c: Column): Column = transform(c, x => x.cast("double"))

  /** ANSI-safe similarity ratio: a zero (or null) norm product yields
    * a NULL score instead of a DIVIDE_BY_ZERO task failure — under
    * Spark's default ANSI mode a single zero-norm vector in a 100 TB
    * corpus would otherwise kill the whole build/search job. A
    * zero-norm vector has no direction, so it can never SCORE: every
    * ranking here orders `DESC` (nulls last — an unscorable row is
    * never elected a neighbor), and the argmax cell assignment's
    * struct ordering places a null sim below every real one (an
    * all-null row lands the smallest cell deterministically, staying
    * counted without crashing the fit). The `when` guard is
    * branch-evaluated in codegen, so the division never executes on
    * the zero path. */
  private[graft] def simRatio(num: Column, denom: Column): Column =
    when(denom > lit(0.0), num / denom)

  def cosine(a: Column, b: Column): Column = {
    val ad = asDouble(a); val bd = asDouble(b)
    simRatio(dot(ad, bd), norm(ad) * norm(bd))
  }

  /** Deterministic ±1 random projection (Achlioptas 2001 "database-
    * friendly random projections"; the Johnson–Lindenstrauss
    * dimensionality-reduction step) — shrink `inDim`-dim embeddings
    * to `outDim` dims ahead of LSH/IVF/brute scans: at 100 TB a 4×
    * dimension cut is a 4× cut in every downstream scan, shuffle and
    * index byte count, while JL keeps pairwise distances within
    * ~(1±ε) whp. out[j] = (1/√outDim)·Σ_i emb[i]·r(j,i) with
    * r(j,i) ∈ {+1,−1} derived from md5("seed_j_i") (first hex digit
    * < '8' → +1) — the engine-neutral hash discipline of the simhash
    * md5 oracle (q25), so a SQL oracle rebuilds the same matrix. The
    * matrix is built ONCE driver-side and embedded as plan literals
    * (outDim×inDim doubles — 8 KiB at 16×64, far under the
    * literal-canonicalization budget measured in q101); per row the
    * work is outDim native [[dot]] products — a pure codegen'd
    * projection, no shuffle, no UDF. */
  def randomProjection(df: DataFrame, embCol: String, outCol: String,
                       inDim: Int, outDim: Int,
                       seed: String = "rp"): DataFrame = {
    require(inDim > 0 && outDim > 0, "dims must be positive")
    val md = java.security.MessageDigest.getInstance("MD5")
    def sign(j: Int, i: Int): Double = {
      val d = md.digest(s"${seed}_${j}_${i}".getBytes("UTF-8"))
      if (((d(0) >> 4) & 0xF) < 8) 1.0 else -1.0 // first hex digit < '8'
    }
    val scale = 1.0 / math.sqrt(outDim.toDouble)
    val rows: Seq[Column] = (0 until outDim).map { j =>
      dot(col(embCol), typedlit(Array.tabulate(inDim)(i => sign(j, i)))) *
        lit(scale)
    }
    df.withColumn(outCol, array(rows: _*))
  }

  /** cosine from a precomputed-norm pair: dot product is the only
    * O(d) work left per pair (norms are projected once per row BELOW
    * the join — ~⅓ fewer FLOPs in every pairwise scorer here). The
    * division order matches the norm-recomputing form bit-for-bit:
    * dot / (na · nb). */
  private def cosinePrenormed(qv: Column, cv: Column, qn: Column,
                              cn: Column): Column =
    simRatio(dot(asDouble(qv), asDouble(cv)), qn * cn)

  /** Materialize a small fitted frame (centroids, codebooks — nCells
    * or nSub·nCentroids rows) into a driver-local relation and release
    * its localCheckpoint blocks. The frames [[buildIvf]]/[[buildPq]]
    * RETURN escape the fit and may be searched long after: handing out
    * the checkpointed frame would strand every later search on
    * missing-block errors if an executor holding the non-reliable
    * blocks dies (dynamic allocation, long-lived index), where a local
    * relation — like a plan literal — cannot lose anything.
    * Intra-loop generations stay on [[Iterate.advance]]'s checkpoint
    * discipline; only the escaping result pays the (bounded) collect. */
  private def localCopy(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    val rows = java.util.Arrays.asList(df.collect(): _*)
    val out = spark.createDataFrame(rows, df.schema)
    org.apache.spark.sql.GraftExpressionBridge.releaseLocalCheckpoint(df)
    out
  }

  /** Brute-force cosine top-k: for each query row, the k nearest
    * corpus rows. `queries` must be small enough to broadcast. */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
                     vecCol: String, k: Int): DataFrame = {
    val q = broadcast(queries.select(col(idCol).as("query_id"),
      col(vecCol).as("__qv"), norm(asDouble(col(vecCol))).as("__qn")))
    val scored = corpus
      .select(col(idCol).as("neighbor_id"), col(vecCol).as("__cv"),
        norm(asDouble(col(vecCol))).as("__cn"))
      .crossJoin(q)
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("cosine", cosinePrenormed(col("__qv"), col("__cv"),
        col("__qn"), col("__cn")))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "neighbor_id", "cosine", "rank")
  }

  /** Recall probe for a SERVED ANN index: per sampled query, the
    * fraction of the brute-force true top-k that `annResults` (any
    * search output carrying `query_id`/`neighbor_id` rows) recovered.
    * This is the ongoing-drift face of the build-time recall gates
    * (q31/q105/q107): an index whose geometry was fitted on last
    * month's distribution serves appended batches with FROZEN
    * centroids/codebooks ([[appendToIvf]]/[[appendToIvfPq]]), so its
    * recall can only be trusted while measured. Cost is deliberately
    * bounded by the caller's SAMPLE: brute-force truth is
    * O(|queries| × |corpus|) FLOPs with the queries broadcast — size
    * the sample (tens to hundreds) so the probe is a scan, not a
    * quadratic blow-up. */
  def recallProbe(annResults: DataFrame, corpus: DataFrame,
                  queries: DataFrame, idCol: String, vecCol: String,
                  k: Int): DataFrame = {
    val truth = bruteForceTopK(corpus, queries, idCol, vecCol, k)
      .select(col("query_id"), col("neighbor_id"))
    val ann = annResults.select(col("query_id"), col("neighbor_id"))
      .distinct().withColumn("__hit", lit(1L))
    truth.join(ann, Seq("query_id", "neighbor_id"), "left")
      .groupBy(col("query_id"))
      .agg(count(lit(1)).as("n_true"),
        sum(coalesce(col("__hit"), lit(0L))).as("n_hit"))
      .withColumn("recall", round(col("n_hit").cast("double") /
        col("n_true").cast("double"), 6))
  }

  /** Fold a [[recallProbe]] into the re-train decision: ONE row
    * (`n_queries`, `mean_recall`, `retrain`). `retrain = true` means
    * the frozen geometry has drifted below `minRecall` and the next
    * append should instead re-run the build (to a FRESH prefix — the
    * epoch discipline) — the vector-family analogue of the exact
    * index's fpp-drift remediation. Until it fires, appends stay
    * O(new). */
  def driftDecision(probe: DataFrame, minRecall: Double): DataFrame =
    probe.agg(count(lit(1)).as("n_queries"),
        round(avg(col("recall")), 6).as("mean_recall"))
      .withColumn("retrain", col("mean_recall") < lit(minRecall))

  /** Random-hyperplane LSH signature: bit p = sign(v · plane_p).
    * Planes are ±1-component vectors derived from xxhash64(p, dim) —
    * deterministic, no RNG state. Native fused-loop expression
    * ([[graft.expressions.HyperplaneSignature]]): per-plane hash seeds
    * fold at plan build, one pass over the dimensions accumulates all
    * projections — vs `planes` separate aggregate/zip_with chains with
    * `planes × dims` interpreted hash calls per row. */
  def hyperplaneSignature(vec: Column, planes: Int): Column =
    org.apache.spark.sql.GraftExpressionBridge.column(
      graft.expressions.HyperplaneSignature(
        org.apache.spark.sql.GraftExpressionBridge.expression(
          vec.cast("array<double>")), planes))

  /** A built hyperplane-LSH index: the hashed corpus, ready to persist
    * (or write bucketed on `bucket` via
    * [[Sinks.writeBucketed]]) and search many times —
    * the build-once/search-many split a production ANN service needs;
    * the corpus is never re-hashed per query batch. */
  final case class LshIndex(hashedCorpus: DataFrame, planes: Int)

  def buildLsh(corpus: DataFrame, idCol: String, vecCol: String,
               planes: Int = 12): LshIndex =
    LshIndex(corpus.select(col(idCol).as("neighbor_id"),
      col(vecCol).as("__cv"), norm(asDouble(col(vecCol))).as("__cn"),
      hyperplaneSignature(col(vecCol), planes).as("bucket")), planes)

  /** Grow an [[LshIndex]] with a new vector batch — O(new): hash the
    * batch with the index's (data-oblivious, deterministic) planes
    * and union lazily; the existing hashed corpus never re-shuffles.
    * Unlike [[appendToIvf]] there is no drift to watch — hyperplanes
    * are not fitted to the corpus, so appended batches bucket exactly
    * as a full rebuild would. */
  def appendToLsh(index: LshIndex, newVecs: DataFrame, idCol: String,
                  vecCol: String): LshIndex =
    LshIndex(index.hashedCorpus.unionByName(
      buildLsh(newVecs, idCol, vecCol, index.planes).hashedCorpus),
      index.planes)

  /** Persist an [[LshIndex]] — `hashedCorpus` BUCKETED on `bucket`
    * (the probe-join key: [[searchLsh]]'s multi-probe explode then
    * joins the index without re-shuffling it — the
    * [[writeIvfPqIndexBucketed]] build-once/search-many shape) plus a
    * one-row `_meta` (planes, epoch, hashed_table) committed through
    * [[graft.sources.Generations]]: a torn same-prefix rebuild refuses
    * instead of probing with the wrong plane count, whose buckets
    * would simply never match — silent zero recall. Rebuilds with
    * different planes should still go to a fresh prefix. */
  def writeLshIndexBucketed(index: LshIndex, prefix: String,
                            numBuckets: Int = 64): Unit = {
    Generations.writeSlot(index.hashedCorpus.sparkSession, prefix,
        s"${prefix}_hashed", "hashed_table", Seq(_))(
      Sinks.writeBucketed(index.hashedCorpus, _, Seq("bucket"),
        numBuckets))(lshRow(index.planes, _)(_))
  }

  private def lshRow(planes: Int, hashed: String)(
      epoch: String): Seq[(String, Any)] =
    Seq("planes" -> planes, "epoch" -> epoch, "hashed_table" -> hashed)

  private def lshTables(m: Map[String, String]): Seq[String] =
    Seq(m("hashed_table"))

  /** The index a reopen names, with its ledger (if read) applied. */
  private def lshFrom(spark: org.apache.spark.sql.SparkSession,
                      live: Generations.Live): LshIndex =
    LshIndex(withoutIds(spark.table(live("hashed_table")), live.ledger),
      live("planes").toInt)

  /** Reopen the live generation of a durable LSH index (raw —
    * takedowns not applied). */
  def readLshIndex(spark: org.apache.spark.sql.SparkSession,
                   prefix: String): LshIndex =
    lshFrom(spark, Generations.open(spark, prefix, lshTables,
      ledger = false))

  /** Grow a DURABLE LSH index O(new) — the last cell of the durable
    * append matrix ([[appendToIvfIndexBucketed]] /
    * [[appendToIvfSqIndexBucketed]] / [[appendToIvfPqIndexBucketed]]
    * siblings): the batch hashes with the index's FROZEN hyperplanes
    * (data-oblivious — an appended batch buckets exactly as a full
    * rebuild would, so unlike the IVF families there is no drift to
    * watch) and APPENDS into the live hashed table's existing bucket
    * layout ([[graft.sources.Generations.appendBucketed]]). */
  def appendToLshIndexBucketed(spark: org.apache.spark.sql.SparkSession,
                               prefix: String, newVecs: DataFrame,
                               idCol: String, vecCol: String): Unit = {
    val live = Generations.open(spark, prefix, lshTables, ledger = false)
    val (hashed, planes) = (live("hashed_table"), live("planes").toInt)
    Generations.appendBucketed(spark, hashed,
      buildLsh(newVecs, idCol, vecCol, planes).hashedCorpus, "bucket")
    Generations.commit(spark, prefix, Seq(hashed))(lshRow(planes, hashed))
  }

  /** TAKEDOWN support for a durable LSH index — closing the compliance
    * matrix across ALL four durable vector families ([[tombstoneIvf]]
    * / [[tombstoneIvfSq]] / [[tombstoneIvfPq]] / this, all riding
    * [[graft.sources.Generations.appendLedger]]): O(new) ledger
    * filing, logical exclusion at every live read
    * ([[readLshIndexLive]] / [[searchLshLive]]), and physical purge +
    * ledger clear at the next [[purgeLshIndex]]. Unlike the IVF
    * families there is NO drift dimension here — hyperplanes are
    * data-oblivious (derived from xxhash64 seeds, never fitted), so
    * no retrain ever fires and the maintenance call is purge-only:
    * takedown is orthogonal to drift. */
  def tombstoneLsh(spark: org.apache.spark.sql.SparkSession,
                   prefix: String, ids: DataFrame,
                   idCol: String): Unit =
    Generations.appendLedger(spark, s"${prefix}_tombstones",
      tombstoneIds(ids, idCol))

  /** The live tombstone set of a durable LSH index (empty frame if
    * none were ever COMMITTED; a torn ledger refuses loudly). */
  def readLshTombstones(spark: org.apache.spark.sql.SparkSession,
                        prefix: String): DataFrame =
    committedTombstones(spark, prefix)

  /** Reopen a durable LSH index with tombstones applied LOGICALLY:
    * the hashed-corpus side anti-joins the (broadcast, bounded)
    * ledger, so a taken-down vector never enters a probe bucket —
    * exclusion is pre-rank by construction, and a deleted top-1
    * reveals the live runner-up. The plane count passes through
    * unchanged (geometry is data-oblivious). */
  def readLshIndexLive(spark: org.apache.spark.sql.SparkSession,
                       prefix: String): LshIndex =
    lshFrom(spark, Generations.open(spark, prefix, lshTables))

  /** Search a DURABLE LSH index with its tombstones applied — the
    * serving entry point after takedowns ([[searchIvfLive]]'s
    * hyperplane-family sibling). */
  def searchLshLive(spark: org.apache.spark.sql.SparkSession,
                    prefix: String, queries: DataFrame, idCol: String,
                    vecCol: String, k: Int): DataFrame =
    searchLsh(readLshIndexLive(spark, prefix), queries, idCol, vecCol, k)

  /** The ONE-CALL maintenance window for a durable LSH index — purge
    * only, because frozen hyperplanes cannot drift (no recall probe,
    * no refit: an appended batch buckets exactly as a full rebuild
    * would, so the only state that rots is UNDELETED tombstoned rows).
    * A firing window rewrites the surviving hashed rows ONCE, bucketed
    * (inheriting the live bucket count), into the ALTERNATE table of
    * the A/B pair — a bucketed table cannot be overwritten from a plan
    * still serving readers. Cost is one bucketed shuffle over the
    * SURVIVING signature rows — never a re-hash of the corpus. Returns
    * one bounded report row `(pending_tombstones, purged,
    * epoch_changed)`; window rules:
    * [[graft.sources.Generations.window]]. */
  def purgeLshIndex(spark: org.apache.spark.sql.SparkSession,
                    prefix: String, numBuckets: Int = 64): DataFrame =
    Generations.purgeWindow(spark, prefix, lshTables) { live =>
      val hashed = live("hashed_table")
      val other = Generations.otherSlot(hashed, s"${prefix}_hashed")
      val index = lshFrom(spark, live)
      Sinks.writeBucketed(index.hashedCorpus, other, Seq("bucket"),
        Generations.bucketCount(spark, hashed).getOrElse(numBuckets))
      Generations.commit(spark, prefix, Seq(other), Seq(hashed))(
        lshRow(index.planes, other))
    }.select(col("pending_tombstones"), col("fired").as("purged"),
      col("gen_changed").as("epoch_changed"))

  /** Search a built LSH index: each query probes its own bucket plus
    * all 1-bit-flip neighbor buckets (multi-probe), then exact cosine
    * ranks the bucket contents. Recall < 1 by construction
    * (approximate); probe count bounds the cost at scale. */
  def searchLsh(index: LshIndex, queries: DataFrame, idCol: String,
                vecCol: String, k: Int): DataFrame = {
    val planes = index.planes
    val qh = queries.select(col(idCol).as("query_id"), col(vecCol).as("__qv"),
      norm(asDouble(col(vecCol))).as("__qn"),
      hyperplaneSignature(col(vecCol), planes).as("__qb"))
    // multi-probe: own bucket + 1-bit flips
    val probes = qh.select(col("query_id"), col("__qv"), col("__qn"),
      explode(array((col("__qb") +:
        (0 until planes).map(b => col("__qb").bitwiseXOR(lit(1L << b)))): _*))
        .as("bucket"))
    val scored = probes.join(index.hashedCorpus, Seq("bucket"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("cosine", cosinePrenormed(col("__qv"), col("__cv"),
        col("__qn"), col("__cn")))
      .select("query_id", "neighbor_id", "cosine").distinct()
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
  }

  /** Build + search in one call (the gate-query entry point). */
  def lshTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
              vecCol: String, k: Int, planes: Int = 12): DataFrame =
    searchLsh(buildLsh(corpus, idCol, vecCol, planes), queries, idCol, vecCol, k)

  /** A built IVF (inverted-file) ANN index: Lloyd-refined
    * deterministic centroids (seeded from the lowest-id corpus
    * vectors) + the cell-assigned corpus, both plain DataFrames a
    * caller persists (or writes bucketed on `cell`) once and searches
    * many times. Assignment is a broadcast argmax — the centroid table
    * is tiny — so the corpus never shuffles at build time either. */
  final case class IvfIndex(centroids: DataFrame, corpusCells: DataFrame)

  /** `lloydIters` Lloyd refinements (assign → element-wise member
    * mean), each one corpus scan against a broadcast centroid table.
    * One step (the default, the original behavior bit-for-bit) is
    * usually enough for web-scale dedup recall, but clustered
    * geometries whose seeds (lowest-id rows) all land in one cluster
    * measurably benefit from 2–3 steps (recall-gated in
    * SimilaritySpec). A cell that loses every member DROPS from the
    * centroid table (cells only ever shrink the probe space — an
    * empty cell kept alive would waste one of a query's nProbe slots
    * on zero corpus vectors; contrast [[buildPq]], whose flat LUT
    * needs density and so falls back instead). Centroids are
    * localCheckpointed per step (nCells rows — tiny) so the plan
    * stays constant-depth; the superseded generation's blocks release
    * eagerly (the [[graft.operators.Bpe.fit]] advance discipline). The
    * RETURNED centroid frame is a driver-local relation, not the loop's
    * checkpointed frame — see [[localCopy]]. */
  /** Nearest-centroid (max-cosine) cell assignment against a
    * broadcast centroid table — ONE corpus scan, no corpus shuffle;
    * ties → smaller cell id. Shared by the Lloyd loop, the final
    * build assignment, and the [[appendToIvf]]/[[appendToIvfPq]]
    * O(new) growth path (frozen centroids). A zero-norm vector (no
    * direction, all sims null via [[simRatio]]) lands the smallest
    * cell deterministically — the struct ordering places null sims
    * below every real one — so corrupt rows stay counted instead of
    * killing the build under ANSI division. */
  private def assignCells(vecs: DataFrame, idCol: String, vecCol: String,
                          cents: DataFrame): DataFrame =
    vecs.select(col(idCol), col(vecCol),
        norm(asDouble(col(vecCol))).as("__vn"))
      .crossJoin(broadcast(cents.withColumn("__cn", norm(col("cvec")))))
      .withColumn("sim", simRatio(dot(asDouble(col(vecCol)), col("cvec")),
        col("__vn") * col("__cn")))
      .groupBy(col(idCol))
      .agg(max_by(col("cell"), struct(col("sim"), -col("cell"))).as("cell"))

  /** The `corpusCells` row shape: vector + precomputed norm + cell. */
  private def cellRows(vecs: DataFrame, idCol: String, vecCol: String,
                       cells: DataFrame): DataFrame =
    vecs.join(cells, idCol)
      .select(col(idCol).as("neighbor_id"), col(vecCol).as("__cv"),
        norm(asDouble(col(vecCol))).as("__cn"), col("cell"))

  def buildIvf(corpus: DataFrame, idCol: String, vecCol: String,
               nCells: Int = 32, lloydIters: Int = 1): IvfIndex = {
    require(lloydIters >= 1, "need lloydIters >= 1")
    val seedCentroids = corpus.orderBy(col(idCol)).limit(nCells)
      .select(col(idCol).as("cell"), asDouble(col(vecCol)).as("cvec"))
    def assign(vecs: DataFrame, cents: DataFrame): DataFrame =
      assignCells(vecs, idCol, vecCol, cents)
    var cents = seedCentroids.localCheckpoint()
    for (_ <- 1 to lloydIters) {
      val assigned = assign(corpus, cents)
      // centroid = element-wise mean of its members; cells that lose
      // every member drop here (the pre-iteration single-step
      // semantics, unchanged — see scaladoc)
      val refined = corpus.join(assigned, idCol)
        .select(col("cell"),
          posexplode(asDouble(col(vecCol))).as(Seq("i", "x")))
        .groupBy("cell", "i").agg(avg("x").as("m"))
        .groupBy("cell")
        .agg(array_sort(collect_list(struct(col("i"), col("m"))))
          .as("pairs"))
        .select(col("cell"), expr("transform(pairs, p -> p.m)").as("cvec"))
      cents = Iterate.advance(cents, refined)
    }
    // the returned centroids outlive the fit — driver-local, not
    // checkpoint-backed (see localCopy)
    val centsLocal = localCopy(cents)
    val corpusCells = cellRows(corpus, idCol, vecCol,
      assign(corpus, centsLocal))
    IvfIndex(centsLocal, corpusCells)
  }

  /** Grow an [[IvfIndex]] with a new vector batch — O(new), never
    * O(corpus): the new vectors are assigned to the FROZEN centroid
    * table (one broadcast-argmax scan of the batch alone) and union
    * lazily into `corpusCells` with NO re-shuffle of the existing
    * index — the q101 exact-index growth-loop discipline applied to
    * the vector family (the reference's analogue is the chunked
    * skip-if-exists incremental recompute, lib/canparser.py:315-317).
    * The centroids do NOT move: appended batches from the build
    * distribution keep build-time recall (every vector still lands
    * its true argmax cell), while a DRIFTED batch degrades gracefully
    * (vectors land their nearest OLD cell) — which is measurable, not
    * silent: gate served indexes with [[recallProbe]] +
    * [[driftDecision]] and re-train the codebook when it fires. */
  def appendToIvf(index: IvfIndex, newVecs: DataFrame, idCol: String,
                  vecCol: String): IvfIndex =
    IvfIndex(index.centroids,
      index.corpusCells.unionByName(cellRows(newVecs, idCol, vecCol,
        assignCells(newVecs, idCol, vecCol, index.centroids))))

  /** Warm-start Lloyd refinement of an EXISTING centroid table over a
    * bounded SAMPLE — the fit half of the drift remediation
    * ([[driftDecision]].retrain = true): `lloydIters` assign→mean
    * steps seeded from the CURRENT centroids, scanning only `sample`
    * (size it like a [[recallProbe]] sample budget — hundreds to
    * thousands of rows per cell, never the corpus; the spec pins that
    * the fit's scans touch the sample alone). Unlike [[buildIvf]] —
    * whose cold seeds make an empty cell meaningless — a cell that
    * draws NO sample member KEEPS its previous centroid (left join +
    * coalesce, the [[buildPq]] dense-codebook discipline): retrain
    * must never shrink the probe space on sampling luck, because the
    * corpus rows assigned to that cell are still real and a dropped
    * centroid would orphan them at re-assignment. Returned frame is
    * driver-local ([[localCopy]]) like every fitted artifact here. */
  def retrainIvfCentroids(current: DataFrame, sample: DataFrame,
                          idCol: String, vecCol: String,
                          lloydIters: Int = 1): DataFrame = {
    require(lloydIters >= 1, "need lloydIters >= 1")
    var cents = current.select(col("cell"), col("cvec")).localCheckpoint()
    for (_ <- 1 to lloydIters) {
      val assigned = assignCells(sample, idCol, vecCol, cents)
      val refined = sample.join(assigned, idCol)
        .select(col("cell"),
          posexplode(asDouble(col(vecCol))).as(Seq("i", "x")))
        .groupBy("cell", "i").agg(avg("x").as("m"))
        .groupBy("cell")
        .agg(array_sort(collect_list(struct(col("i"), col("m"))))
          .as("pairs"))
        .select(col("cell"),
          expr("transform(pairs, p -> p.m)").as("__rv"))
      cents = Iterate.advance(cents,
        cents.join(refined, Seq("cell"), "left")
          .select(col("cell"),
            coalesce(col("__rv"), col("cvec")).as("cvec")))
    }
    localCopy(cents)
  }

  /** Retrain an in-memory [[IvfIndex]] after [[driftDecision]] fires:
    * warm-start centroids over the bounded `sample`
    * ([[retrainIvfCentroids]] — O(sample) fit), then ONE full
    * re-assignment pass of the index's own `corpusCells` float rows
    * against the new centroids (O(corpus) scan, the irreducible cost
    * of moving every vector to its new argmax cell — but a single
    * broadcast-argmax pass, never an O(corpus) re-FIT: the Lloyd
    * iterations the build paid over the whole corpus are paid here
    * over the sample alone). The corpusCells table is the durable
    * source of truth exactly as the exact-dedup hash table is for
    * [[graft.operators.Dedup.compactExactIndex]] — no external corpus
    * re-read. */
  def retrainIvf(index: IvfIndex, sample: DataFrame, idCol: String,
                 vecCol: String, lloydIters: Int = 1): IvfIndex = {
    val newCents = retrainIvfCentroids(index.centroids, sample, idCol,
      vecCol, lloydIters)
    val vecs = index.corpusCells
      .select(col("neighbor_id").as("__rid"), col("__cv").as("__rvec"))
    IvfIndex(newCents,
      cellRows(vecs, "__rid", "__rvec",
        assignCells(vecs, "__rid", "__rvec", newCents)))
  }

  private def ivfTables(prefix: String)(m: Map[String, String])
      : Seq[String] =
    ivfGen(prefix, m("cells_table"))

  /** The tables of the IVF generation whose cells table is `cells`. */
  private def ivfGen(prefix: String, cells: String): Seq[String] =
    Seq(cells, ivfCentroids(prefix, cells))

  private def ivfCentroids(prefix: String, cells: String): String =
    Generations.companion(s"${prefix}_centroids", s"${prefix}_cells", cells)

  private def ivfRow(cells: String)(epoch: String): Seq[(String, Any)] =
    Seq("epoch" -> epoch, "cells_table" -> cells)

  /** The index a reopen names, with its ledger (if read) applied to
    * the cells side. */
  private def ivfFrom(spark: org.apache.spark.sql.SparkSession,
                      prefix: String, live: Generations.Live): IvfIndex =
    IvfIndex(spark.table(ivfCentroids(prefix, live("cells_table"))),
      withoutIds(spark.table(live("cells_table")), live.ledger))

  /** Retrain a DURABLE IVF index in place after its [[driftDecision]]
    * fires — the remediation the drift gate was missing: everything
    * derives from the index's own tables (the
    * [[graft.operators.Dedup.compactExactIndex]] discipline — no
    * corpus re-read). `sampleFilter` bounds the fit: it receives the
    * durable cells rows re-shaped as (`__rid`, `__rvec`) and must
    * return the bounded fit sample (a hash-mod or per-cell-capped
    * slice; the retrain scans ONLY what it returns during the Lloyd
    * steps). The re-assigned cells and the driver-local fitted
    * centroids write to the ALTERNATE generation of the A/B pair, so a
    * crash before the commit leaves the old generation serving. */
  def retrainIvfIndexBucketed(spark: org.apache.spark.sql.SparkSession,
                              prefix: String,
                              sampleFilter: DataFrame => DataFrame,
                              lloydIters: Int = 1,
                              numBuckets: Int = 64): Unit =
    retrainIvfGen(spark, prefix,
      Generations.open(spark, prefix, ivfTables(prefix)), sampleFilter,
      lloydIters, numBuckets)

  private def retrainIvfGen(spark: org.apache.spark.sql.SparkSession,
                            prefix: String, live: Generations.Live,
                            sampleFilter: DataFrame => DataFrame,
                            lloydIters: Int,
                            numBuckets: Int): Map[String, String] = {
    // PHYSICAL PURGE of filed takedowns ([[tombstoneIvf]]): the
    // re-assignment pass skips tombstoned rows, so the new generation
    // never contains them
    val index = ivfFrom(spark, prefix, live)
    val vecs = index.corpusCells
      .select(col("neighbor_id").as("__rid"), col("__cv").as("__rvec"))
    val newCents = retrainIvfCentroids(index.centroids,
      sampleFilter(vecs), "__rid", "__rvec", lloydIters)
    val cells = live("cells_table")
    val other = Generations.otherSlot(cells, s"${prefix}_cells")
    Sinks.writeBucketed(cellRows(vecs, "__rid", "__rvec",
      assignCells(vecs, "__rid", "__rvec", newCents)), other, Seq("cell"),
      numBuckets)
    Sinks.writeTable(newCents, ivfCentroids(prefix, other))
    val meta = Generations.commit(spark, prefix, ivfGen(prefix, other),
      ivfGen(prefix, cells))(ivfRow(other))
    // a crash between commit and clear re-purges harmlessly
    Generations.clearLedger(spark, s"${prefix}_tombstones")
    meta
  }

  /** The ONE-CALL maintenance window for a durable IVF index —
    * [[maintainIvfPqIndex]]'s coarse-family sibling, fully
    * SELF-CONTAINED: the brute-force truth derives from the index's
    * own durable float rows (`corpusCells` — the
    * [[graft.operators.Dedup.compactExactIndex]] no-external-corpus
    * discipline), so the window needs nothing but the prefix, a query
    * sample and the fit-sample policy. Probe → [[driftDecision]] →
    * (conditional) [[retrainIvfIndexBucketed]] → re-probe; one
    * bounded report row `(n_queries, pre_mean_recall, retrain_fired,
    * post_mean_recall, post_retrain, epoch_changed)`. Window rules:
    * [[graft.sources.Generations.window]]. */
  def maintainIvfIndex(spark: org.apache.spark.sql.SparkSession,
                       prefix: String, queries: DataFrame,
                       idCol: String, vecCol: String, k: Int,
                       minRecall: Double,
                       sampleFilter: DataFrame => DataFrame,
                       lloydIters: Int = 1, nProbe: Int = 2,
                       numBuckets: Int = 64): DataFrame = {
    // the LIVE view on both sides (tombstones applied): the served
    // search can't return a taken-down id, and the brute-force truth
    // never counts one as a miss
    def decide(live: Generations.Live): (Long, Double, Boolean) = {
      val index = ivfFrom(spark, prefix, live)
      val corpus = index.corpusCells
        .select(col("neighbor_id").as(idCol), col("__cv").as(vecCol))
      val ann = searchIvf(index, queries, idCol, vecCol, k, nProbe)
      decision(recallProbe(ann, corpus, queries, idCol, vecCol, k),
        minRecall)
    }
    driftReport(spark, Generations.window(
        Generations.open(spark, prefix, ivfTables(prefix)))(decide)(_._3)(
      (live, _) => retrainIvfGen(spark, prefix, live, sampleFilter,
        lloydIters, numBuckets)))
  }

  /** [[driftDecision]] collected: (n_queries, mean_recall, fired). */
  private def decision(probe: DataFrame,
                       minRecall: Double): (Long, Double, Boolean) = {
    val d = driftDecision(probe, minRecall).collect()(0)
    (d.getLong(0), d.getDouble(1), d.getBoolean(2))
  }

  /** The vector families' one report row. */
  private def driftReport(spark: org.apache.spark.sql.SparkSession,
                          w: Generations.Window[(Long, Double, Boolean)])
      : DataFrame = {
    import spark.implicits._
    Seq((w.pre._1, w.pre._2, w.fired, w.post._2, w.post._3, w.changed))
      .toDF("n_queries", "pre_mean_recall", "retrain_fired",
        "post_mean_recall", "post_retrain", "epoch_changed")
  }

  /** Grow a DURABLE IVF index O(new) — completing the durable append
    * matrix across all three vector families
    * ([[appendToIvfSqIndexBucketed]] / [[appendToIvfPqIndexBucketed]]
    * siblings): the batch assigns to the FROZEN centroids (the
    * [[appendToIvf]] contract — recall drift under distribution shift
    * is the [[maintainIvfIndex]] window's job) and APPENDS into the
    * live cells table's existing bucket layout
    * ([[graft.sources.Generations.appendBucketed]]). `newVecs`' vector
    * column must carry the same element type the index was built from
    * (same source, same type — the bucketed table's schema is the
    * contract). */
  def appendToIvfIndexBucketed(spark: org.apache.spark.sql.SparkSession,
                               prefix: String, newVecs: DataFrame,
                               idCol: String, vecCol: String): Unit = {
    val live = Generations.open(spark, prefix, ivfTables(prefix),
      ledger = false)
    val index = ivfFrom(spark, prefix, live)
    val cells = live("cells_table")
    Generations.appendBucketed(spark, cells, cellRows(newVecs, idCol,
      vecCol, assignCells(newVecs, idCol, vecCol, index.centroids)), "cell")
    Generations.commit(spark, prefix, ivfTables(prefix)(live.meta))(
      ivfRow(cells))
  }

  /** Persist an [[IvfIndex]] — `corpusCells` BUCKETED on `cell` (the
    * probe-join key; [[searchIvf]] over a reopened index leaves the
    * corpus side unshuffled), the small `centroids` as a plain table,
    * and a one-row `_meta` (epoch, cells_table): a torn same-prefix
    * rebuild would otherwise rank real cells against centroids those
    * cells were never assigned to — silently wrong probes — and
    * refuses at [[readIvfIndex]] instead. */
  def writeIvfIndexBucketed(index: IvfIndex, prefix: String,
                            numBuckets: Int = 64): Unit = {
    Generations.writeSlot(index.centroids.sparkSession, prefix,
        s"${prefix}_cells", "cells_table", ivfGen(prefix, _)) { cells =>
      Sinks.inParallel(
        () => Sinks.writeBucketed(index.corpusCells, cells, Seq("cell"),
          numBuckets),
        () => Sinks.writeTable(index.centroids, ivfCentroids(prefix, cells)))
    }(ivfRow(_)(_))
  }

  /** Reopen the live generation of a durable IVF index (raw —
    * takedowns not applied). */
  def readIvfIndex(spark: org.apache.spark.sql.SparkSession,
                   prefix: String): IvfIndex =
    ivfFrom(spark, prefix, Generations.open(spark, prefix,
      ivfTables(prefix), ledger = false))

  /** Search a built IVF index: queries rank the (broadcast) centroid
    * table, probe only their `nProbe` nearest cells, and exact cosine
    * ranks those cells' contents — the corpus is never re-scanned per
    * query. */
  def searchIvf(index: IvfIndex, queries: DataFrame, idCol: String,
                vecCol: String, k: Int, nProbe: Int = 4): DataFrame = {
    val qScores = queries.select(col(idCol).as("query_id"),
        col(vecCol).as("__qv"), norm(asDouble(col(vecCol))).as("__qn"))
      .crossJoin(broadcast(index.centroids.withColumn("__ctn", norm(col("cvec")))))
      .withColumn("sim", simRatio(dot(asDouble(col("__qv")), col("cvec")),
        col("__qn") * col("__ctn")))
    val probeW = Window.partitionBy(col("query_id"))
      .orderBy(col("sim").desc, col("cell"))
    val probes = qScores.withColumn("pr", row_number().over(probeW))
      .filter(col("pr") <= nProbe)
      .select(col("query_id"), col("__qv"), col("__qn"), col("cell"))
    val scored = probes.join(index.corpusCells, Seq("cell"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("cosine", cosinePrenormed(col("__qv"), col("__cv"),
        col("__qn"), col("__cn")))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "neighbor_id", "cosine", "rank")
  }

  /** Build + search in one call (the gate-query entry point). */
  def ivfTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
              vecCol: String, k: Int, nCells: Int = 32,
              nProbe: Int = 4, lloydIters: Int = 1): DataFrame =
    searchIvf(buildIvf(corpus, idCol, vecCol, nCells, lloydIters), queries,
      idCol, vecCol, k, nProbe)

  /** The IVF corpus re-shaped for the STREAMING admission tier: one
    * row per cell carrying its members as an ARRAY of
    * (neighbor_id, mv double-vector, __cn norm) structs, so a
    * stream-side probe is a broadcast equi-join on `cell` plus a pure
    * higher-order-function fold over the array — no relational
    * aggregation on the stream (append mode survives) and no state.
    * Callers persist the result once before starting the stream (the
    * stream-static contract re-plans — and would otherwise re-derive
    * this groupBy — every micro-batch; the q114 discipline).
    *
    * Regime, honestly stated: each cell's members must fit one row,
    * so this is the BOUNDED-reference-set tier — a curated dedup
    * reference, a benchmark embedding set, a recent-window index. An
    * unbounded accepted corpus takes the batch [[searchIvf]] path
    * (per-micro-batch foreachBatch join), which shuffles but never
    * materializes a cell in one row. */
  def cellMembers(index: IvfIndex): DataFrame =
    index.corpusCells.groupBy("cell")
      .agg(collect_list(struct(col("neighbor_id"),
        asDouble(col("__cv")).as("mv"), col("__cn"))).as("members"))

  /** TAKEDOWN support for a durable IVF index — [[tombstoneIvfPq]]'s
    * coarse-family sibling, the same O(new)-never-O(corpus) contract:
    * ids file into a `${prefix}_tombstones` ledger
    * ([[graft.sources.Generations.appendLedger]]), every LIVE read
    * path drops them logically ([[readIvfIndexLive]] /
    * [[cellMembersLive]] / [[searchIvfLive]]), and the next
    * [[retrainIvfIndexBucketed]] purges them PHYSICALLY. Centroids are
    * NOT retouched by a takedown — geometry fitted over since-deleted
    * rows is a model artifact, not retained content; the rows
    * themselves leave the serving tables. Idempotent and re-runnable. */
  def tombstoneIvf(spark: org.apache.spark.sql.SparkSession,
                   prefix: String, ids: DataFrame,
                   idCol: String): Unit =
    Generations.appendLedger(spark, s"${prefix}_tombstones",
      tombstoneIds(ids, idCol))

  /** Canonicalize takedown ids to the ledger's long key, REFUSING
    * loudly when the cast silently nulls (a string/typo id column):
    * a null never anti-joins anything, so the "deletion" would no-op
    * while reporting success — the one failure mode a compliance
    * ledger must not have. The scan is one pass over the bounded
    * takedown batch (never the corpus). */
  private def tombstoneIds(ids: DataFrame, idCol: String): DataFrame = {
    val cast = ids.select(col(idCol).cast("long").as("neighbor_id"))
    val bad = cast.filter(col("neighbor_id").isNull).count()
    require(bad == 0L,
      s"graft takedown REFUSED: $bad id(s) in '$idCol' are null or not " +
        "castable to long — a silently-nulled tombstone would never " +
        "match the index and the deletion would not happen")
    cast
  }

  /** A vector index's resolved ledger rows, or the empty id set. */
  private def idsOrEmpty(spark: org.apache.spark.sql.SparkSession,
                         ledger: Option[DataFrame]): DataFrame = {
    import spark.implicits._
    ledger.getOrElse(Seq.empty[Long].toDF("neighbor_id"))
  }

  /** The committed takedown set of a vector index (empty frame if
    * none were ever COMMITTED; a torn ledger refuses loudly). */
  private def committedTombstones(spark: org.apache.spark.sql.SparkSession,
                                  prefix: String): DataFrame =
    idsOrEmpty(spark, Generations.readLedger(spark,
      s"${prefix}_tombstones").map(_._2))

  /** `rows` minus a resolved ledger's ids (one broadcast anti-join —
    * takedown sets are bounded). */
  private def withoutIds(rows: DataFrame,
                         ledger: Option[DataFrame]): DataFrame =
    ledger.fold(rows)(ids =>
      rows.join(broadcast(ids), Seq("neighbor_id"), "left_anti"))

  /** A retrain's PHYSICAL purge of the reopened ledger: a function
    * dropping the tombstoned ids from a frame keyed on `idCol` — the
    * corpus re-encode AND the fit sample (a deleted vector must not
    * even shape the new geometry) — and whether there were any, which
    * gates the ledger clear after the swap. The purge is a broadcast
    * anti-join against the ledger FRAME (never a driver collect — the
    * ledger can outgrow any driver Set); the one bounded action is the
    * isEmpty probe. */
  private def ledgerPurge(spark: org.apache.spark.sql.SparkSession,
                          live: Generations.Live,
                          idCol: String): (DataFrame => DataFrame, Boolean) = {
    val ids = idsOrEmpty(spark, live.ledger)
      .select(col("neighbor_id").as(idCol)).localCheckpoint()
    val any = !ids.isEmpty
    (df => if (any) df.join(broadcast(ids), Seq(idCol), "left_anti") else df,
      any)
  }

  /** The live tombstone set of a durable IVF index. */
  def readIvfTombstones(spark: org.apache.spark.sql.SparkSession,
                        prefix: String): DataFrame =
    committedTombstones(spark, prefix)

  /** Reopen a durable IVF index with its tombstones applied
    * LOGICALLY: the cells side anti-joins the (broadcast, bounded)
    * ledger, so a taken-down vector can no longer match anything —
    * a search whose deleted top-1 falls away reveals the live
    * runner-up, and [[cellMembersLive]]'s streaming member arrays
    * simply never carry the row. Centroids pass through unchanged
    * (probe geometry is unaffected by logical deletes; it refreshes
    * at the next retrain, where the purge also becomes physical). */
  def readIvfIndexLive(spark: org.apache.spark.sql.SparkSession,
                       prefix: String): IvfIndex =
    ivfFrom(spark, prefix,
      Generations.open(spark, prefix, ivfTables(prefix)))

  /** Search a DURABLE IVF index with its tombstones applied — the
    * serving entry point after takedowns ([[searchIvfPqLive]]'s
    * coarse-family sibling). */
  def searchIvfLive(spark: org.apache.spark.sql.SparkSession,
                    prefix: String, queries: DataFrame, idCol: String,
                    vecCol: String, k: Int, nProbe: Int = 4): DataFrame =
    searchIvf(readIvfIndexLive(spark, prefix), queries, idCol, vecCol,
      k, nProbe)

  /** [[cellMembers]] over the LIVE view of a durable IVF index — the
    * streaming admission tier's reference arrays with takedowns
    * applied: a tombstoned vector leaves the member arrays logically
    * NOW (this read) and physically at the next retrain. Callers
    * persist the result once before starting the stream (the
    * stream-static contract re-plans every micro-batch). */
  def cellMembersLive(spark: org.apache.spark.sql.SparkSession,
                      prefix: String): DataFrame =
    cellMembers(readIvfIndexLive(spark, prefix))

  /** Cluster-balanced (diversity-preserving) downsampling over an
    * embedding column — the SEMANTIC sibling of
    * [[Curation.stratifiedHashSample]]: strata are nearest-anchor
    * cells (the first `nStrata` rows by id serve as anchors — the
    * same deterministic seeding as [[buildIvf]], WITHOUT the Lloyd
    * refinement, whose distributed float means would make cell
    * borders engine-dependent), and each stratum keeps its first
    * `perStratum` members in id-hash order. Capping every semantic
    * cell at the same budget flattens dominant topics and preserves
    * tail diversity — the "cluster-balanced sampling" step of
    * SemDeDup-style curation pipelines, where a frequency-blind
    * random sample would reproduce the head-heavy topic skew.
    *
    * Deterministic end to end: anchor choice, argmax assignment
    * (ties → smaller anchor id; cosines ride the bit-identical
    * [[dot]]), and hash-order membership are all pure functions of
    * the corpus.
    *
    * Scale shape: one broadcast of `nStrata` anchor vectors against a
    * single corpus scan (the [[buildIvf]] assignment shape), then one
    * per-stratum window — partitioned by stratum, never global.
    * Anchors-by-lowest-id is a sampling heuristic, not a fitted
    * codebook: for best balance feed a corpus whose ids are not
    * correlated with topology, or pre-shuffle ids. */
  def semanticStratifiedSample(corpus: DataFrame, idCol: String,
                               vecCol: String, nStrata: Int = 32,
                               perStratum: Int = 10,
                               hashFn: Column => Column = xxhash64(_))
      : DataFrame = {
    // anchors carry a numeric rank `__ai` in stratum order so the
    // argmax tie-break (`-__ai`: ties → smallest anchor id) works for
    // ANY idCol type — negating the stratum value itself would yield
    // null on string ids (arbitrary ties) or throw under ANSI mode.
    // The window is over the nStrata-row anchor frame only.
    val anchors = corpus.orderBy(col(idCol)).limit(nStrata)
      .select(col(idCol).as("stratum"), asDouble(col(vecCol)).as("avec"))
      .withColumn("__ai", row_number().over(Window.orderBy(col("stratum"))))
    val assigned = corpus.select(col(idCol),
        norm(asDouble(col(vecCol))).as("__vn"), col(vecCol))
      .crossJoin(broadcast(anchors.withColumn("__an", norm(col("avec")))))
      .withColumn("sim", cosinePrenormed(col(vecCol), col("avec"),
        col("__vn"), col("__an")))
      .groupBy(col(idCol))
      .agg(max_by(col("stratum"), struct(col("sim"), -col("__ai")))
        .as("stratum"))
    val w = Window.partitionBy(col("stratum"))
      .orderBy(col("__h"), col(idCol))
    assigned
      .withColumn("__h", hashFn(col(idCol).cast("string")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= perStratum)
      .select(col(idCol), col("stratum"), col("rank"))
  }

  /** A built scalar-quantization (int8) ANN index: per-dimension
    * min/max affine codes. `stats` is ONE row (`mins`, `scales` —
    * dimension-sized, broadcastable); `codes` holds per vector the
    * `array<tinyint>` code word plus the reconstruction norm — 4× less
    * scan data than float32 embeddings (16× vs float64), which is the
    * point at 100 TB: the approximate pass reads only codes, the exact
    * pass fetches floats for candidates alone. */
  final case class SqIndex(stats: DataFrame, codes: DataFrame)

  /** Build the SQ index: one posexplode pass for per-dimension
    * min/max (d-row aggregate → one broadcastable stats row), one
    * projection for code words. code = round((x − min)/scale) − 128 ∈
    * [−128, 127] with scale = (max − min)/255 (constant dimensions get
    * scale 1 → code −128 everywhere, exactly reconstructed). */
  def buildSq(corpus: DataFrame, idCol: String, vecCol: String): SqIndex = {
    val stats = corpus
      .select(posexplode(asDouble(col(vecCol))).as(Seq("i", "x")))
      .groupBy(col("i")).agg(min(col("x")).as("mn"), max(col("x")).as("mx"))
      .agg(array_sort(collect_list(struct(col("i"), col("mn"), col("mx"))))
        .as("p"))
      .select(expr("transform(p, d -> d.mn)").as("mins"),
        expr("transform(p, d -> CASE WHEN d.mx > d.mn " +
          "THEN (d.mx - d.mn) / 255.0D ELSE 1.0D END)").as("scales"))
    val codes = sqEncode(corpus, idCol, vecCol, stats)
    SqIndex(stats, codes)
  }

  /** Quantize a vector batch against a FROZEN stats row → the SQ
    * `codes` row shape (code word + reconstruction norm). One
    * projection over the batch; shared by [[buildSq]] and the O(new)
    * append path ([[appendToIvfSq]]). The code saturates at the
    * [-128, 127] rails — a no-op at build time (every value is inside
    * the fitted [min, max] by construction, so [[buildSq]] outputs are
    * unchanged), load-bearing for appends: a batch dimension OUTSIDE
    * the frozen range must clamp to the nearest representable level
    * (bounded quantization error, absorbed by the exact rerank), not
    * wrap around the TINYINT cast into a maximally-wrong code. */
  private def sqEncode(vecs: DataFrame, idCol: String, vecCol: String,
                       stats: DataFrame): DataFrame =
    vecs.crossJoin(broadcast(stats))
      .select(col(idCol).as("neighbor_id"),
        expr(s"transform($vecCol, (x, i) -> " +
          "CAST(greatest(-128D, least(127D, " +
          "round((CAST(x AS DOUBLE) - mins[i]) / scales[i]) - 128)) " +
          "AS TINYINT))").as("codes"),
        col("mins"), col("scales"))
      .withColumn("__dq", expr("transform(codes, (c, i) -> " +
        "mins[i] + (CAST(c AS DOUBLE) + 128.0D) * scales[i])"))
      .select(col("neighbor_id"), col("codes"), norm(col("__dq")).as("cnorm"))

  /** Search an SQ index with asymmetric scoring + exact rerank.
    *
    * The approximate pass never dequantizes per pair: with the query
    * pre-transformed against the (broadcast) stats row —
    * qs_i = q_i·scale_i, qmn = q·mins, sqs = Σqs_i — the
    * reconstructed dot product q·x̂ collapses to
    * `qmn + dot(qs, codes) + 128·sqs`, i.e. ONE native [[dot]] over
    * the int8 code array per (query, vector). Top `k·oversample`
    * candidates by approximate cosine (reconstruction norm from the
    * index) then join the FLOAT vectors from `corpus` for candidates
    * only and rank by exact cosine — quantization error moves the
    * approximate ranking a few places; the oversampled exact rerank
    * absorbs it. */
  def searchSq(index: SqIndex, corpus: DataFrame, queries: DataFrame,
               idCol: String, vecCol: String, k: Int,
               oversample: Int = 4): DataFrame = {
    val qp = queries.crossJoin(broadcast(index.stats))
      .select(col(idCol).as("query_id"), col(vecCol).as("__qv"),
        norm(asDouble(col(vecCol))).as("__qn"),
        expr(s"zip_with(CAST($vecCol AS ARRAY<DOUBLE>), scales, " +
          "(x, s) -> x * s)").as("__qs"),
        dot(asDouble(col(vecCol)), col("mins")).as("__qmn"))
      .withColumn("__sqs", expr("aggregate(__qs, 0.0D, (a, x) -> a + x)"))
    val scored = index.codes.crossJoin(broadcast(qp))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("approx_cos", simRatio(
        col("__qmn") + dot(col("__qs"), col("codes").cast("array<double>"))
          + lit(128.0) * col("__sqs"), col("__qn") * col("cnorm")))
    val wA = Window.partitionBy(col("query_id"))
      .orderBy(col("approx_cos").desc, col("neighbor_id"))
    val cands = scored.withColumn("arank", row_number().over(wA))
      .filter(col("arank") <= k * oversample)
      .select(col("query_id"), col("__qv"), col("__qn"), col("neighbor_id"))
    val rer = cands.join(corpus.select(col(idCol).as("neighbor_id"),
        col(vecCol).as("__cv"), norm(asDouble(col(vecCol))).as("__cn")),
        Seq("neighbor_id"))
      .withColumn("cosine", cosinePrenormed(col("__qv"), col("__cv"),
        col("__qn"), col("__cn")))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("neighbor_id"))
    rer.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "neighbor_id", "cosine", "rank")
  }

  /** Build + search in one call (the gate-query entry point). */
  def sqTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
             vecCol: String, k: Int, oversample: Int = 4): DataFrame =
    searchSq(buildSq(corpus, idCol, vecCol), corpus, queries, idCol,
      vecCol, k, oversample)

  /** Persist a plain [[SqIndex]] — completing the persistence matrix
    * (every index family reopens in a fresh JVM; previously only the
    * IVF-composed forms did, and [[searchSq]] re-derived its
    * per-query constants from an in-memory `stats` frame a restarted
    * driver couldn't reopen). `codes` is the scan side (no probe join
    * key — [[searchSq]] scans all codes by design), so a plain table
    * suffices; the one-row `stats` rides alongside; the one-slot
    * `_meta` (epoch) commits both ([[graft.sources.Generations]]). */
  def writeSqIndex(index: SqIndex, prefix: String): Unit = {
    Sinks.inParallel(
      () => Sinks.writeTable(index.stats, s"${prefix}_stats"),
      () => Sinks.writeTable(index.codes, s"${prefix}_codes"))
    Generations.commit(index.stats.sparkSession, prefix, sqTables(prefix))(
      e => Seq("epoch" -> e))
  }

  private def sqTables(prefix: String): Seq[String] =
    Seq(s"${prefix}_stats", s"${prefix}_codes")

  /** Reopen an index written by [[writeSqIndex]]. */
  def readSqIndex(spark: org.apache.spark.sql.SparkSession,
                  prefix: String): SqIndex = {
    Generations.open(spark, prefix, _ => sqTables(prefix), ledger = false)
    SqIndex(spark.table(s"${prefix}_stats"),
      spark.table(s"${prefix}_codes"))
  }

  /** A composed IVF × SQ ANN index — the production shape at 100 TB.
    *
    * [[searchSq]] scans every int8 code per query batch (4× cheaper
    * than floats, still O(corpus)); [[searchIvf]] prunes to nProbe
    * cells but scans float vectors inside them. The composition takes
    * both savings: `cellCodes` stores ONLY the int8 code word, its
    * reconstruction norm, and the IVF cell per vector — no floats —
    * so the approximate pass reads nProbe cells' worth of codes
    * (cell-pruned AND 4×-compressed) and the floats are fetched for
    * the oversampled candidates alone at rerank. `cellCodes` is a
    * plain DataFrame a caller persists or writes bucketed on `cell`
    * once and searches many times. */
  final case class IvfSqIndex(centroids: DataFrame, stats: DataFrame,
                              cellCodes: DataFrame)

  def buildIvfSq(corpus: DataFrame, idCol: String, vecCol: String,
                 nCells: Int = 32, lloydIters: Int = 1): IvfSqIndex = {
    val ivf = buildIvf(corpus, idCol, vecCol, nCells, lloydIters)
    val sq = buildSq(corpus, idCol, vecCol)
    // one build-time equi join (codes ⋈ cell assignment); floats never
    // enter the index table
    val cellCodes = sq.codes.join(
      ivf.corpusCells.select(col("neighbor_id"), col("cell")),
      Seq("neighbor_id"))
    IvfSqIndex(ivf.centroids, sq.stats, cellCodes)
  }

  /** Grow an [[IvfSqIndex]] with a new vector batch — O(new): assign
    * to the FROZEN centroids, quantize against the FROZEN stats row
    * (out-of-range dims saturate — see [[sqEncode]]), lazy union; the
    * existing `cellCodes` never re-shuffles. Drift discipline as
    * [[appendToIvf]]: gate with [[recallProbe]]/[[driftDecision]]. */
  def appendToIvfSq(index: IvfSqIndex, newVecs: DataFrame, idCol: String,
                    vecCol: String): IvfSqIndex = {
    val cells = assignCells(newVecs, idCol, vecCol, index.centroids)
      .select(col(idCol).as("neighbor_id"), col("cell"))
    val newCodes = sqEncode(newVecs, idCol, vecCol, index.stats)
      .join(cells, Seq("neighbor_id"))
    IvfSqIndex(index.centroids, index.stats,
      index.cellCodes.unionByName(newCodes))
  }

  /** Retrain an in-memory [[IvfSqIndex]] after [[driftDecision]]
    * fires — completing the warm-start matrix with [[retrainIvf]] and
    * [[retrainIvfPq]] (LSH needs no entry: frozen hyperplanes are
    * data-independent, no drift by construction): the coarse
    * centroids warm-start over the bounded `sample`
    * ([[retrainIvfCentroids]], O(sample)), while the SQ stats row —
    * per-dimension min/max, which MUST cover the corpus or re-encoded
    * dims saturate — recomputes inside the same one full
    * re-assign/re-encode pass every retrain already pays
    * ([[buildSq]]'s aggregate is a scan, not a fit: there is no
    * iteration to warm-start). */
  def retrainIvfSq(index: IvfSqIndex, corpus: DataFrame, idCol: String,
                   vecCol: String, sample: DataFrame,
                   lloydIters: Int = 1): IvfSqIndex = {
    val newCents = retrainIvfCentroids(index.centroids, sample, idCol,
      vecCol, lloydIters)
    val sq = buildSq(corpus, idCol, vecCol) // stats + codes, one pass
    val cells = assignCells(corpus, idCol, vecCol, newCents)
      .select(col(idCol).as("neighbor_id"), col("cell"))
    IvfSqIndex(newCents, sq.stats, sq.codes.join(cells, Seq("neighbor_id")))
  }

  /** Search the composed index: rank the (broadcast) centroid table →
    * probe nProbe cells → asymmetric int8 scoring over those cells'
    * codes only (same one-dot-per-pair collapse as [[searchSq]]) →
    * exact float rerank of the oversampled candidates. Recall is
    * bounded by the coarse quantizer exactly as in [[searchIvf]]; the
    * quantization error inside probed cells is absorbed by the
    * oversampled rerank exactly as in [[searchSq]]. */
  def searchIvfSq(index: IvfSqIndex, corpus: DataFrame, queries: DataFrame,
                  idCol: String, vecCol: String, k: Int, nProbe: Int = 4,
                  oversample: Int = 4): DataFrame = {
    // query-side prep: asymmetric-scoring constants vs the stats row
    // (qs_i = q_i·scale_i, qmn = q·mins, sqs = Σqs_i) + centroid probes
    val qp = queries.crossJoin(broadcast(index.stats))
      .select(col(idCol).as("query_id"), col(vecCol).as("__qv"),
        norm(asDouble(col(vecCol))).as("__qn"),
        expr(s"zip_with(CAST($vecCol AS ARRAY<DOUBLE>), scales, " +
          "(x, s) -> x * s)").as("__qs"),
        dot(asDouble(col(vecCol)), col("mins")).as("__qmn"))
      .withColumn("__sqs", expr("aggregate(__qs, 0.0D, (a, x) -> a + x)"))
    val qScores = qp
      .crossJoin(broadcast(index.centroids.withColumn("__ctn", norm(col("cvec")))))
      .withColumn("sim", simRatio(dot(asDouble(col("__qv")), col("cvec")),
        col("__qn") * col("__ctn")))
    val probeW = Window.partitionBy(col("query_id"))
      .orderBy(col("sim").desc, col("cell"))
    val probes = qScores.withColumn("pr", row_number().over(probeW))
      .filter(col("pr") <= nProbe)
      .select(col("query_id"), col("__qv"), col("__qn"), col("__qs"),
        col("__qmn"), col("__sqs"), col("cell"))
    // approximate pass: touches only probed cells, reads only codes
    val scored = probes.join(index.cellCodes, Seq("cell"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("approx_cos", simRatio(
        col("__qmn") + dot(col("__qs"), col("codes").cast("array<double>"))
          + lit(128.0) * col("__sqs"), col("__qn") * col("cnorm")))
    val wA = Window.partitionBy(col("query_id"))
      .orderBy(col("approx_cos").desc, col("neighbor_id"))
    val cands = scored.withColumn("arank", row_number().over(wA))
      .filter(col("arank") <= k * oversample)
      .select(col("query_id"), col("__qv"), col("__qn"), col("neighbor_id"))
    // exact rerank: floats for candidates only
    val rer = cands.join(corpus.select(col(idCol).as("neighbor_id"),
        col(vecCol).as("__cv"), norm(asDouble(col(vecCol))).as("__cn")),
        Seq("neighbor_id"))
      .withColumn("cosine", cosinePrenormed(col("__qv"), col("__cv"),
        col("__qn"), col("__cn")))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("neighbor_id"))
    rer.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "neighbor_id", "cosine", "rank")
  }

  /** Build + search in one call (the gate-query entry point). */
  def ivfSqTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
                vecCol: String, k: Int, nCells: Int = 32, nProbe: Int = 4,
                oversample: Int = 4, lloydIters: Int = 1): DataFrame =
    searchIvfSq(buildIvfSq(corpus, idCol, vecCol, nCells, lloydIters),
      corpus, queries, idCol, vecCol, k, nProbe, oversample)

  /** Persist an [[IvfSqIndex]] as tables — `cellCodes` BUCKETED on
    * `cell` (the probe-join key: a big query batch then sort-merge
    * joins the index WITHOUT shuffling it — pinned by PlanSpec), the
    * one-row `stats` and nCells-row `centroids` as plain tables, and
    * the `_meta` (epoch, codes_table). The build-once/search-many
    * shape: the cell shuffle is paid at write time, every future
    * search pays only its own query-side work. */
  def writeIvfSqIndexBucketed(index: IvfSqIndex, prefix: String,
                              numBuckets: Int = 64): Unit = {
    Generations.writeSlot(index.centroids.sparkSession, prefix,
        s"${prefix}_cell_codes", "codes_table",
        ivfSqTables(prefix, _)) { codes =>
      Sinks.inParallel(
        () => Sinks.writeTable(index.centroids,
          ivfSqCompanion(prefix, "centroids", codes)),
        () => Sinks.writeTable(index.stats,
          ivfSqCompanion(prefix, "stats", codes)),
        () => Sinks.writeBucketed(index.cellCodes, codes, Seq("cell"),
          numBuckets))
    }(ivfSqRow(_)(_))
  }

  private def ivfSqTables(prefix: String, codes: String): Seq[String] =
    Seq(ivfSqCompanion(prefix, "centroids", codes),
      ivfSqCompanion(prefix, "stats", codes), codes)

  /** The `name` table of the IVF×SQ generation whose codes are `codes`. */
  private def ivfSqCompanion(prefix: String, name: String,
                             codes: String): String =
    Generations.companion(s"${prefix}_$name", s"${prefix}_cell_codes", codes)

  private def ivfSqRow(codes: String)(epoch: String): Seq[(String, Any)] =
    Seq("epoch" -> epoch, "codes_table" -> codes)

  private def openIvfSq(spark: org.apache.spark.sql.SparkSession,
                        prefix: String,
                        ledger: Boolean = true): Generations.Live =
    Generations.open(spark, prefix, m => ivfSqTables(prefix,
      m("codes_table")), ledger)

  /** The index a reopen names, with its ledger (if read) applied to
    * the codes side. */
  private def ivfSqFrom(spark: org.apache.spark.sql.SparkSession,
                        prefix: String,
                        live: Generations.Live): IvfSqIndex =
    IvfSqIndex(
      spark.table(ivfSqCompanion(prefix, "centroids", live("codes_table"))),
      spark.table(ivfSqCompanion(prefix, "stats", live("codes_table"))),
      withoutIds(spark.table(live("codes_table")), live.ledger))

  /** Reopen the live generation of a durable IVF×SQ index (raw —
    * takedowns not applied). */
  def readIvfSqIndex(spark: org.apache.spark.sql.SparkSession,
                     prefix: String): IvfSqIndex =
    ivfSqFrom(spark, prefix, openIvfSq(spark, prefix, ledger = false))

  /** Retrain a DURABLE IVF×SQ index in place — the SQ rung of the
    * durable drift-remediation matrix ([[retrainIvfIndexBucketed]] /
    * [[retrainIvfPqIndexBucketed]] siblings). The coarse centroids
    * warm-start over the bounded `sample` (O(sample) Lloyd); the SQ
    * stats row and code words recompute inside the one O(corpus)
    * re-encode pass every retrain already pays (min/max stats are a
    * scan, not an iterative fit — see [[retrainIvfSq]]). The corpus
    * is EXTERNAL by necessity: the durable index stores int8 codes
    * only, and re-quantizing needs the floats. The re-encoded codes,
    * centroids and stats write to the ALTERNATE generation of the A/B
    * pair, so a crash before the commit leaves the old one serving. */
  def retrainIvfSqIndexBucketed(spark: org.apache.spark.sql.SparkSession,
                                prefix: String, corpus: DataFrame,
                                idCol: String, vecCol: String,
                                sample: DataFrame, lloydIters: Int = 1,
                                numBuckets: Int = 64): Unit =
    retrainIvfSqGen(spark, prefix, openIvfSq(spark, prefix), corpus, idCol,
      vecCol, sample, lloydIters, numBuckets)

  private def retrainIvfSqGen(spark: org.apache.spark.sql.SparkSession,
                              prefix: String, live: Generations.Live,
                              corpus: DataFrame, idCol: String,
                              vecCol: String, sample: DataFrame,
                              lloydIters: Int,
                              numBuckets: Int): Map[String, String] = {
    val liveCodes = live("codes_table")
    val index = ivfSqFrom(spark, prefix, live.copy(ledger = None))
    val otherCodes = Generations.otherSlot(liveCodes, s"${prefix}_cell_codes")
    val (purge, hasTombstones) = ledgerPurge(spark, live, idCol)
    val retrained = retrainIvfSq(index, purge(corpus), idCol, vecCol,
      purge(sample), lloydIters)
    Sinks.writeBucketed(retrained.cellCodes, otherCodes, Seq("cell"),
      numBuckets)
    Sinks.writeTable(retrained.centroids,
      ivfSqCompanion(prefix, "centroids", otherCodes))
    Sinks.writeTable(retrained.stats,
      ivfSqCompanion(prefix, "stats", otherCodes))
    val meta = Generations.commit(spark, prefix,
      ivfSqTables(prefix, otherCodes), ivfSqTables(prefix, liveCodes))(
      ivfSqRow(otherCodes))
    if (hasTombstones)
      Generations.clearLedger(spark, s"${prefix}_tombstones")
    meta
  }

  /** TAKEDOWN support for a durable IVF×SQ index — completing the
    * compliance matrix across all three durable vector families
    * ([[tombstoneIvf]] / this / [[tombstoneIvfPq]], all riding
    * [[graft.sources.Generations.appendLedger]]): O(new) ledger
    * filing, logical exclusion at every live read, and physical
    * purge + ledger clear at the next [[retrainIvfSqIndexBucketed]]. */
  def tombstoneIvfSq(spark: org.apache.spark.sql.SparkSession,
                     prefix: String, ids: DataFrame,
                     idCol: String): Unit =
    Generations.appendLedger(spark, s"${prefix}_tombstones",
      tombstoneIds(ids, idCol))

  /** The live tombstone set of a durable IVF×SQ index (empty frame if
    * none were ever committed; a torn ledger refuses loudly). */
  def readIvfSqTombstones(spark: org.apache.spark.sql.SparkSession,
                          prefix: String): DataFrame =
    committedTombstones(spark, prefix)

  /** Reopen a durable IVF×SQ index with tombstones applied LOGICALLY:
    * the codes side anti-joins the (broadcast, bounded) ledger, so a
    * taken-down vector never becomes a candidate — exclusion is
    * pre-rank by construction ([[searchIvfSq]]'s rerank only sees ids
    * the codes scan surfaced), and a deleted top-1 reveals the live
    * runner-up. Stats/centroids pass through; they refresh at the
    * next retrain, where the purge becomes physical. */
  def readIvfSqIndexLive(spark: org.apache.spark.sql.SparkSession,
                         prefix: String): IvfSqIndex =
    ivfSqFrom(spark, prefix, openIvfSq(spark, prefix))

  /** Search a DURABLE IVF×SQ index with its tombstones applied — the
    * serving entry point after takedowns. */
  def searchIvfSqLive(spark: org.apache.spark.sql.SparkSession,
                      prefix: String, corpus: DataFrame,
                      queries: DataFrame, idCol: String, vecCol: String,
                      k: Int, nProbe: Int = 4,
                      oversample: Int = 4): DataFrame =
    searchIvfSq(readIvfSqIndexLive(spark, prefix), corpus, queries,
      idCol, vecCol, k, nProbe, oversample)

  /** Grow a DURABLE IVF×SQ index O(new) — the SQ rung of the durable
    * append matrix ([[appendToIvfPqIndexBucketed]]'s sibling): the
    * batch assigns to the FROZEN centroids, quantizes against the
    * FROZEN stats row (out-of-range dims saturate — the
    * [[appendToIvfSq]] contract; [[recallProbe]]/[[driftDecision]]
    * and the [[maintainIvfSqIndex]] window are the remedy when
    * saturation accumulates) and APPENDS into the live codes table's
    * existing bucket layout
    * ([[graft.sources.Generations.appendBucketed]]). */
  def appendToIvfSqIndexBucketed(spark: org.apache.spark.sql.SparkSession,
                                 prefix: String, newVecs: DataFrame,
                                 idCol: String, vecCol: String): Unit = {
    val live = openIvfSq(spark, prefix, ledger = false)
    val index = ivfSqFrom(spark, prefix, live)
    val codes = live("codes_table")
    val cells = assignCells(newVecs, idCol, vecCol, index.centroids)
      .select(col(idCol).as("neighbor_id"), col("cell"))
    Generations.appendBucketed(spark, codes,
      sqEncode(newVecs, idCol, vecCol, index.stats)
        .join(cells, Seq("neighbor_id")), "cell")
    Generations.commit(spark, prefix, ivfSqTables(prefix, codes))(
      ivfSqRow(codes))
  }

  /** The ONE-CALL maintenance window for a durable IVF×SQ index —
    * completing the vector maintenance matrix with [[maintainIvfIndex]]
    * and [[maintainIvfPqIndex]]: probe recall on the served index
    * ([[searchIvfSq]] over the reopened tables vs the brute-force
    * truth on `corpus`), fold the [[driftDecision]], and ONLY if it
    * fires run the warm A/B retrain ([[retrainIvfSqIndexBucketed]])
    * and re-probe. One bounded report row `(n_queries,
    * pre_mean_recall, retrain_fired, post_mean_recall, post_retrain,
    * epoch_changed)`. Window rules:
    * [[graft.sources.Generations.window]]. */
  def maintainIvfSqIndex(spark: org.apache.spark.sql.SparkSession,
                         prefix: String, corpus: DataFrame,
                         idCol: String, vecCol: String,
                         queries: DataFrame, k: Int, minRecall: Double,
                         sample: DataFrame, lloydIters: Int = 1,
                         nProbe: Int = 4, oversample: Int = 4,
                         numBuckets: Int = 64): DataFrame = {
    // Capture the tombstone set ONCE, before any retrain, and PIN it:
    // the retrain purges tombstoned rows physically and CLEARS the
    // ledger, so a post-retrain re-read would return empty and the
    // brute-force truth would revert to the full caller-supplied
    // corpus — counting just-purged rows as misses and making
    // post_mean_recall spuriously pessimistic (they can never be
    // returned again, by design). persist + count materializes the
    // bounded compliance ledger so the lazy plan cannot re-read the
    // cleared tables.
    val opened = openIvfSq(spark, prefix)
    val tombs = idsOrEmpty(spark, opened.ledger)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    tombs.count()
    try {
      // LIVE view on both sides (the maintainIvfPqIndex discipline):
      // the served search can't return a taken-down id and the
      // brute-force truth never counts one as a miss
      val truth = corpus.join(broadcast(
          tombs.select(col("neighbor_id").as(idCol))),
        Seq(idCol), "left_anti")
      def decide(live: Generations.Live): (Long, Double, Boolean) = {
        val ann = searchIvfSq(ivfSqFrom(spark, prefix, live), corpus,
          queries, idCol, vecCol, k, nProbe, oversample)
        decision(recallProbe(ann, truth, queries, idCol, vecCol, k),
          minRecall)
      }
      driftReport(spark, Generations.window(opened)(decide)(_._3)(
        (live, _) => retrainIvfSqGen(spark, prefix, live, corpus, idCol,
          vecCol, sample, lloydIters, numBuckets)))
    } finally tombs.unpersist()
  }

  /** A built product-quantization (PQ) ANN index (Jégou, Douze,
    * Schmid 2011, "Product quantization for nearest neighbor
    * search") — the memory-bound scan tier BEYOND int8 SQ: the vector
    * is split into `nSub` contiguous subspaces and each sub-vector is
    * quantized to one of `nCentroids` per-subspace codebook entries,
    * so a d-dim float32 embedding compresses to `nSub` BYTES
    * (64-dim × 4 B = 256 B → 8 B at the defaults: 32× less scan data
    * than floats, 8× less than SQ codes), and the approximate scoring
    * loop is `nSub` table lookups per pair instead of d multiplies.
    *
    * `codebooks` is a dense `nSub × nCentroids`-row table (`sub`,
    * `cid`, `cvec`, `cn2` = ‖cvec‖²) — a few KiB, broadcastable.
    * `codes` holds per corpus vector the `array<tinyint>` code word
    * (codes[sub] = cid) plus the reconstruction norm
    * ‖x̂‖ = √Σ_sub ‖c_sub‖² (exact: x̂ is the concatenation of the
    * assigned centroids). Both are plain DataFrames a caller persists
    * once and searches many times. */
  final case class PqIndex(nSub: Int, nCentroids: Int,
                           codebooks: DataFrame, codes: DataFrame)

  /** Split `vecCol` (already cast to `array<double>` as `__v`) into
    * `nSub` contiguous sub-vector rows — one generate of nSub rows
    * per vector. The dimension must divide by nSub (the slice starts
    * are `sequence(1, d, d/nSub)`; a ragged tail would change the
    * slice count) — enforced with a plan-level raise_error, since the
    * dimension is data, not a parameter. */
  private def subVectors(df: DataFrame, idCol: String, nSub: Int)
      : DataFrame =
    df.select(col(idCol), posexplode(expr(
        s"CASE WHEN size(__v) % $nSub != 0 THEN " +
        s"CAST(raise_error(concat('graft PQ: vector dimension ', " +
        s"CAST(size(__v) AS STRING), ' not divisible by nSub = $nSub')) " +
        "AS ARRAY<ARRAY<DOUBLE>>) " +
        s"ELSE transform(sequence(1, size(__v), size(__v) div $nSub), " +
        s"st -> slice(__v, st, size(__v) div $nSub)) END"))
      .as(Seq("sub", "svec")))

  /** Per-query flat ADC lookup table against a (broadcast) codebook:
    * lut[sub·nCentroids + cid] = q_sub·c_sub. The positional indexing
    * is only sound over the dense nSub×nCentroids grid [[buildPq]]
    * guarantees — a sparse codebook (corpus smaller than nCentroids,
    * or a torn/mismatched durable index) would silently shift every
    * slot, so the size is checked in-plan and raises instead. */
  private def pqQueryLut(queries: DataFrame, idCol: String,
                         vecCol: String, codebooks: DataFrame,
                         nSub: Int, ks: Int): DataFrame =
    subVectors(
        queries.select(col(idCol), asDouble(col(vecCol)).as("__v")),
        idCol, nSub)
      .join(broadcast(codebooks), Seq("sub"))
      .select(col(idCol).as("query_id"),
        (col("sub") * ks + col("cid")).as("pos"),
        dot(col("svec"), col("cvec")).as("v"))
      .groupBy(col("query_id"))
      .agg(array_sort(collect_list(struct(col("pos"), col("v")))).as("p"))
      .select(col("query_id"), expr(
        s"CASE WHEN size(p) != ${nSub * ks} THEN " +
        s"CAST(raise_error(concat('graft PQ: codebook has ', " +
        s"CAST(size(p) AS STRING), ' cells, expected ${nSub * ks} " +
        "(corpus smaller than nCentroids, or mismatched index?)')) " +
        "AS ARRAY<DOUBLE>) " +
        "ELSE transform(p, q -> q.v) END").as("__lut"))

  /** The ADC approximate cosine over (`__lut`, `codes`, `__qn`,
    * `cnorm`) columns: nSub lookups + one divide per pair. Guards the
    * code-word length in the same expression (an unused check column
    * would be pruned away) — a stale index whose geometry predates a
    * rebuild must fail loudly, not rank garbage. */
  private def adcCosine(nSub: Int, ks: Int): Column = simRatio(
    expr(s"CASE WHEN size(codes) != $nSub THEN " +
      s"CAST(raise_error(concat('graft PQ: code word length ', " +
      s"CAST(size(codes) AS STRING), ' != nSub = $nSub " +
      "(stale or mismatched index?)')) AS DOUBLE) " +
      s"ELSE aggregate(sequence(0, ${nSub - 1}), 0.0D, " +
      s"(a, i) -> a + __lut[i * $ks + CAST(codes[i] AS INT)]) END"),
    col("__qn") * col("cnorm"))

  /** Oversampled-candidate selection + exact float rerank shared by
    * the PQ search paths: top `k·oversample` per query by the
    * approximate score, floats joined in for candidates alone, exact
    * cosine ranks them. */
  private def adcRerank(scored: DataFrame, corpus: DataFrame,
                        idCol: String, vecCol: String, k: Int,
                        oversample: Int): DataFrame = {
    val wA = Window.partitionBy(col("query_id"))
      .orderBy(col("approx_cos").desc, col("neighbor_id"))
    val cands = scored.withColumn("arank", row_number().over(wA))
      .filter(col("arank") <= k * oversample)
      .select(col("query_id"), col("__qv"), col("__qn"), col("neighbor_id"))
    val rer = cands.join(corpus.select(col(idCol).as("neighbor_id"),
        col(vecCol).as("__cv"), norm(asDouble(col(vecCol))).as("__cn")),
        Seq("neighbor_id"))
      .withColumn("cosine", cosinePrenormed(col("__qv"), col("__cv"),
        col("__qn"), col("__cn")))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("neighbor_id"))
    rer.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "neighbor_id", "cosine", "rank")
  }

  /** Per-subspace L2 argmin assignment against a (broadcast)
    * codebook: one equi join on `sub` — the codebook is tiny — and a
    * min_by aggregate; ties break to the smaller cid. */
  private def pqAssign(svecs: DataFrame, idCol: String,
                       codebooks: DataFrame): DataFrame =
    svecs.join(broadcast(codebooks.select(col("sub"), col("cid"),
        col("cvec"))), Seq("sub"))
      .withColumn("__d", expr("aggregate(zip_with(svec, cvec, " +
        "(x, c) -> (x - c) * (x - c)), 0.0D, (a, x) -> a + x)"))
      .groupBy(col(idCol), col("sub"))
      .agg(min_by(col("cid"), struct(col("__d"), col("cid"))).as("cid"))

  /** Build the PQ index: per subspace, seed `nCentroids` centroids
    * from the lowest-id corpus sub-vectors (the [[buildIvf]]
    * determinism discipline), refine with `lloydIters` Lloyd steps
    * (element-wise member mean — see [[buildIvf]] for the iteration
    * discipline and when >1 pays), and assign every vector its
    * per-subspace argmin centroid. A centroid that loses all members
    * in a Lloyd step keeps its previous sub-vector, so the codebook
    * stays DENSE through every iteration —
    * [[searchPq]]'s flat LUT indexes by `sub·nCentroids + cid` and
    * every slot must exist. A corpus SMALLER than nCentroids cannot
    * seed a dense grid; the search-side size guard raises on first
    * use (shrink nCentroids to fit). Build cost: one nSub-way generate + two
    * broadcast-assign aggregates + one d-row mean aggregate — the
    * corpus never shuffles by anything wider than (id, sub). */
  def buildPq(corpus: DataFrame, idCol: String, vecCol: String,
              nSub: Int = 8, nCentroids: Int = 16,
              lloydIters: Int = 1): PqIndex = {
    require(lloydIters >= 1, "need lloydIters >= 1")
    val svecs = subVectors(
      corpus.select(col(idCol), asDouble(col(vecCol)).as("__v")),
      idCol, nSub)
    val seedW = Window.partitionBy(col("sub")).orderBy(col(idCol))
    val seeds = svecs.withColumn("__r", row_number().over(seedW))
      .filter(col("__r") <= nCentroids)
      .select(col("sub"), (col("__r") - 1).as("cid"),
        col("svec").as("cvec"))
    // `lloydIters` refinements per subspace; a centroid that loses all
    // members keeps its PREVIOUS sub-vector (left join + coalesce), so
    // the codebook stays DENSE through every iteration — searchPq's
    // flat LUT indexes by sub·nCentroids + cid and every slot must
    // exist. Codebooks are localCheckpointed per step (nSub·nCentroids
    // rows) for constant-depth plans, superseded generations released.
    var books = seeds.localCheckpoint()
    for (_ <- 1 to lloydIters) {
      val a = pqAssign(svecs, idCol, books)
      val refined = svecs.join(a, Seq(idCol, "sub"))
        .select(col("sub"), col("cid"),
          posexplode(col("svec")).as(Seq("j", "x")))
        .groupBy("sub", "cid", "j").agg(avg("x").as("m"))
        .groupBy("sub", "cid")
        .agg(array_sort(collect_list(struct(col("j"), col("m")))).as("p"))
        .select(col("sub"), col("cid"),
          expr("transform(p, q -> q.m)").as("m"))
      books = Iterate.advance(books,
        books.join(refined, Seq("sub", "cid"), "left")
        .select(col("sub"), col("cid"),
          coalesce(col("m"), col("cvec")).as("cvec")))
    }
    // the returned codebooks outlive the fit — driver-local, not
    // checkpoint-backed (see localCopy)
    val codebooks = localCopy(books)
      .withColumn("cn2", dot(col("cvec"), col("cvec")))
    val codes = pqEncode(corpus, idCol, vecCol, codebooks, nSub)
    PqIndex(nSub, nCentroids, codebooks, codes)
  }

  /** PQ-encode a vector batch against a FROZEN codebook → the `codes`
    * row shape (nSub-byte code word + reconstruction norm). One
    * nSub-way generate + one broadcast argmin over the batch alone;
    * shared by [[buildPq]] and the O(new) append path
    * ([[appendToIvfPq]]). */
  private def pqEncode(vecs: DataFrame, idCol: String, vecCol: String,
                       codebooks: DataFrame, nSub: Int): DataFrame = {
    val svecs = subVectors(
      vecs.select(col(idCol), asDouble(col(vecCol)).as("__v")), idCol, nSub)
    val a1 = pqAssign(svecs, idCol, codebooks)
    a1.join(broadcast(codebooks.select(col("sub"), col("cid"),
        col("cn2"))), Seq("sub", "cid"))
      .groupBy(col(idCol))
      .agg(array_sort(collect_list(struct(col("sub"), col("cid"),
        col("cn2")))).as("p"))
      .select(col(idCol).as("neighbor_id"),
        expr("transform(p, q -> CAST(q.cid AS TINYINT))").as("codes"),
        sqrt(expr("aggregate(p, 0.0D, (a, q) -> a + q.cn2)")).as("cnorm"))
  }

  /** Search a PQ index with asymmetric distance computation + exact
    * rerank: per query, ONE pass over the (broadcast) codebook builds
    * the flat lookup table lut[sub·nCentroids + cid] = q_sub·c_sub —
    * nSub·nCentroids doubles, a KiB per query — and the approximate
    * reconstructed dot product q·x̂ = Σ_sub lut[sub·K + codes[sub]]
    * is nSub array lookups per (query, vector): the scan reads ONLY
    * the nSub-byte code words and touches no floats. Top
    * `k·oversample` by approximate cosine (reconstruction norm from
    * the index), then the FLOAT vectors join in for candidates alone
    * and exact cosine ranks them — quantization error moves the
    * approximate ranking a few places; the oversampled exact rerank
    * absorbs it. */
  def searchPq(index: PqIndex, corpus: DataFrame, queries: DataFrame,
               idCol: String, vecCol: String, k: Int,
               oversample: Int = 4): DataFrame = {
    val qlut = pqQueryLut(queries, idCol, vecCol, index.codebooks,
      index.nSub, index.nCentroids)
    val qp = queries.select(col(idCol).as("query_id"), col(vecCol).as("__qv"),
        norm(asDouble(col(vecCol))).as("__qn"))
      .join(qlut, Seq("query_id"))
    val scored = index.codes.crossJoin(broadcast(qp))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("approx_cos", adcCosine(index.nSub, index.nCentroids))
    adcRerank(scored, corpus, idCol, vecCol, k, oversample)
  }

  /** Build + search in one call (the gate-query entry point). */
  def pqTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
             vecCol: String, k: Int, nSub: Int = 8, nCentroids: Int = 16,
             oversample: Int = 4, lloydIters: Int = 1): DataFrame =
    searchPq(buildPq(corpus, idCol, vecCol, nSub, nCentroids, lloydIters),
      corpus, queries, idCol, vecCol, k, oversample)

  /** Persist a plain [[PqIndex]] — the [[writeSqIndex]] sibling
    * completing the persistence matrix. `codes` is the flat scan side
    * (plain table); `codebooks` is the broadcastable grid; geometry
    * rides the one-slot `_meta` (n_sub, n_centroids, epoch). The
    * in-plan geometry guards ([[pqQueryLut]], [[adcCosine]]) still
    * back up the epoch check on first use. */
  def writePqIndex(index: PqIndex, prefix: String): Unit = {
    Sinks.writeTable(index.codebooks, s"${prefix}_codebooks")
    Sinks.writeTable(index.codes, s"${prefix}_codes")
    Generations.commit(index.codebooks.sparkSession, prefix,
      pqTables(prefix))(e => Seq("n_sub" -> index.nSub,
        "n_centroids" -> index.nCentroids, "epoch" -> e))
  }

  private def pqTables(prefix: String): Seq[String] =
    Seq(s"${prefix}_codebooks", s"${prefix}_codes")

  /** Reopen an index written by [[writePqIndex]]. */
  def readPqIndex(spark: org.apache.spark.sql.SparkSession,
                  prefix: String): PqIndex = {
    val live = Generations.open(spark, prefix, _ => pqTables(prefix),
      ledger = false)
    PqIndex(live("n_sub").toInt, live("n_centroids").toInt,
      spark.table(s"${prefix}_codebooks"),
      spark.table(s"${prefix}_codes"))
  }

  /** The composed IVF × PQ index — the classic billion-scale ANN
    * layout (IVFADC in Jégou et al. 2011): the coarse IVF quantizer
    * prunes the scan to nProbe cells AND each cell's contents are
    * nSub-byte PQ code words, so the approximate pass reads
    * `nProbe/nCells` of the corpus at 32× compression — multiplying
    * the two savings exactly as [[IvfSqIndex]] does for SQ, but at
    * 8× smaller codes. `cellCodes` holds ONLY (neighbor_id, codes,
    * cnorm, cell) — no floats — a plain DataFrame a caller persists
    * or writes bucketed on `cell` once and searches many times. */
  final case class IvfPqIndex(nSub: Int, nCentroids: Int,
                              centroids: DataFrame, codebooks: DataFrame,
                              cellCodes: DataFrame)

  def buildIvfPq(corpus: DataFrame, idCol: String, vecCol: String,
                 nCells: Int = 32, nSub: Int = 8,
                 nCentroids: Int = 16, lloydIters: Int = 1): IvfPqIndex = {
    val ivf = buildIvf(corpus, idCol, vecCol, nCells, lloydIters)
    val pq = buildPq(corpus, idCol, vecCol, nSub, nCentroids, lloydIters)
    // one build-time equi join (codes ⋈ cell assignment); floats never
    // enter the scan-side table
    val cellCodes = pq.codes.join(
      ivf.corpusCells.select(col("neighbor_id"), col("cell")),
      Seq("neighbor_id"))
    IvfPqIndex(nSub, nCentroids, ivf.centroids, pq.codebooks, cellCodes)
  }

  /** Grow an [[IvfPqIndex]] with a new vector batch — the production
    * ingestion shape at 100 TB, O(new) and never O(corpus): the batch
    * is assigned to the FROZEN coarse centroids (one broadcast argmax)
    * and PQ-encoded against the FROZEN codebooks (one broadcast
    * argmin), then unions lazily into `cellCodes`; the existing index
    * never re-shuffles or re-encodes — the q101 exact-index
    * growth-loop cost shape for the vector family (reference
    * analogue: the chunked skip-if-exists incremental recompute,
    * lib/canparser.py:315-317). Frozen geometry means an appended
    * batch from the BUILD distribution keeps build-time recall, while
    * a drifted batch quantizes against stale centroids — measurable
    * degradation, not silent: probe served indexes with
    * [[recallProbe]] and let [[driftDecision]] force the codebook
    * re-train (to a FRESH prefix) when it fires. */
  def appendToIvfPq(index: IvfPqIndex, newVecs: DataFrame, idCol: String,
                    vecCol: String): IvfPqIndex = {
    val cells = assignCells(newVecs, idCol, vecCol, index.centroids)
      .select(col(idCol).as("neighbor_id"), col("cell"))
    val newCodes = pqEncode(newVecs, idCol, vecCol, index.codebooks,
        index.nSub)
      .join(cells, Seq("neighbor_id"))
    IvfPqIndex(index.nSub, index.nCentroids, index.centroids,
      index.codebooks, index.cellCodes.unionByName(newCodes))
  }

  /** Search the composed index: rank the (broadcast) centroid table →
    * probe nProbe cells → ADC LUT scoring over those cells' code
    * words only (the [[searchPq]] collapse) → exact float rerank of
    * the oversampled candidates. Recall is bounded by the coarse
    * quantizer exactly as in [[searchIvf]]; quantization error inside
    * probed cells is absorbed by the rerank exactly as in
    * [[searchPq]]. */
  def searchIvfPq(index: IvfPqIndex, corpus: DataFrame, queries: DataFrame,
                  idCol: String, vecCol: String, k: Int, nProbe: Int = 4,
                  oversample: Int = 4,
                  exclude: Option[DataFrame] = None): DataFrame = {
    val qlut = pqQueryLut(queries, idCol, vecCol, index.codebooks,
      index.nSub, index.nCentroids)
    val qp = queries.select(col(idCol).as("query_id"), col(vecCol).as("__qv"),
        norm(asDouble(col(vecCol))).as("__qn"))
      .join(qlut, Seq("query_id"))
    val qScores = qp
      .crossJoin(broadcast(index.centroids.withColumn("__ctn", norm(col("cvec")))))
      .withColumn("sim", simRatio(dot(asDouble(col("__qv")), col("cvec")),
        col("__qn") * col("__ctn")))
    val probeW = Window.partitionBy(col("query_id"))
      .orderBy(col("sim").desc, col("cell"))
    val probes = qScores.withColumn("pr", row_number().over(probeW))
      .filter(col("pr") <= nProbe)
      .select(col("query_id"), col("__qv"), col("__qn"), col("__lut"),
        col("cell"))
    // approximate pass: touches only probed cells, reads only codes
    val scored0 = probes.join(index.cellCodes, Seq("cell"))
      .filter(col("query_id") =!= col("neighbor_id"))
    // tombstoned ids drop BEFORE any ranking (a deleted top-1 must
    // reveal the live runner-up, not shorten the result); broadcast
    // anti join — takedown sets are bounded
    val scored1 = exclude.fold(scored0)(ex =>
      scored0.join(broadcast(ex.select(col(ex.columns.head)
        .as("neighbor_id"))), Seq("neighbor_id"), "left_anti"))
    val scored = scored1
      .withColumn("approx_cos", adcCosine(index.nSub, index.nCentroids))
    adcRerank(scored, corpus, idCol, vecCol, k, oversample)
  }

  /** Build + search in one call (the gate-query entry point). */
  def ivfPqTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
                vecCol: String, k: Int, nCells: Int = 32, nProbe: Int = 4,
                nSub: Int = 8, nCentroids: Int = 16,
                oversample: Int = 4, lloydIters: Int = 1): DataFrame =
    searchIvfPq(buildIvfPq(corpus, idCol, vecCol, nCells, nSub,
        nCentroids, lloydIters),
      corpus, queries, idCol, vecCol, k, nProbe, oversample)

  /** Persist an [[IvfPqIndex]] as tables — `cellCodes` BUCKETED on
    * `cell` (the probe-join key, same build-once/search-many shape as
    * [[writeIvfSqIndexBucketed]]), the small `centroids` and
    * `codebooks` as plain tables, and the `_meta` (n_sub,
    * n_centroids, epoch, codes_table). A torn write that changes
    * geometry trips the in-plan guards ([[pqQueryLut]] codebook-size
    * check, [[adcCosine]] code-word-length check); a torn SAME-geometry
    * rebuild — which those guards cannot see — refuses at
    * [[readIvfPqIndex]] through the epoch tokens instead of ranking
    * one generation's codes against another's codebooks. */
  def writeIvfPqIndexBucketed(index: IvfPqIndex, prefix: String,
                              numBuckets: Int = 64): Unit = {
    Generations.writeSlot(index.centroids.sparkSession, prefix,
        s"${prefix}_cell_codes", "codes_table",
        ivfPqTables(prefix, _)) { codes =>
      Sinks.inParallel(
        () => Sinks.writeBucketed(index.cellCodes, codes, Seq("cell"),
          numBuckets),
        () => Sinks.writeTable(index.codebooks,
          ivfPqCompanion(prefix, "codebooks", codes)),
        () => Sinks.writeTable(index.centroids,
          ivfPqCompanion(prefix, "centroids", codes)),
        () => Sinks.writeTable(builtCellStats(index.cellCodes),
          ivfPqCompanion(prefix, "cell_stats", codes)))
    }(ivfPqRow(index, _)(_))
  }

  /** A fresh per-cell growth ledger: how many vectors the build (or a
    * retrain) assigned per cell, and how many in-place appends added
    * since ([[appendToIvfPqIndexBucketed]]) — the drift signal a served
    * index exposes without a probe: a cell whose appended count dwarfs
    * its build count is absorbing a distribution the codebook never
    * saw, the cue to run [[recallProbe]] and re-train. nCells rows, so
    * the final aggregate stage coalesces to one task/file (guide
    * §2.4/§6 — a 32-file write for a handful of rows that every
    * reopen re-lists). */
  private def builtCellStats(cellCodes: DataFrame): DataFrame =
    cellCodes.groupBy(col("cell")).agg(count(lit(1)).as("n_built"))
      .withColumn("n_appended", lit(0L)).coalesce(1)

  /** The four data tables of a durable IVF×PQ index (epoch-validated
    * together on read); `codesTable` is the live A/B generation of
    * the scan side. */
  private def ivfPqTables(prefix: String, codesTable: String): Seq[String] =
    codesTable +: Seq("codebooks", "centroids", "cell_stats")
      .map(ivfPqCompanion(prefix, _, codesTable))

  /** The `name` table of the IVF×PQ generation whose codes are `codes`. */
  private def ivfPqCompanion(prefix: String, name: String,
                             codes: String): String =
    Generations.companion(s"${prefix}_$name", s"${prefix}_cell_codes", codes)

  private def ivfPqRow(index: IvfPqIndex, codes: String)(
      epoch: String): Seq[(String, Any)] =
    Seq("n_sub" -> index.nSub, "n_centroids" -> index.nCentroids,
      "epoch" -> epoch, "codes_table" -> codes)

  private def openIvfPq(spark: org.apache.spark.sql.SparkSession,
                        prefix: String,
                        ledger: Boolean = true): Generations.Live =
    Generations.open(spark, prefix,
      m => ivfPqTables(prefix, m("codes_table")), ledger)

  /** The raw index a reopen names (takedowns ride `exclude`). */
  private def ivfPqFrom(spark: org.apache.spark.sql.SparkSession,
                        prefix: String,
                        live: Generations.Live): IvfPqIndex =
    IvfPqIndex(live("n_sub").toInt, live("n_centroids").toInt,
      spark.table(ivfPqCompanion(prefix, "centroids", live("codes_table"))),
      spark.table(ivfPqCompanion(prefix, "codebooks", live("codes_table"))),
      spark.table(live("codes_table")))

  /** Reopen the live generation of a durable IVF×PQ index (raw —
    * takedowns ride `exclude`). */
  def readIvfPqIndex(spark: org.apache.spark.sql.SparkSession,
                     prefix: String): IvfPqIndex =
    ivfPqFrom(spark, prefix, openIvfPq(spark, prefix, ledger = false))

  /** The per-cell growth ledger of a durable index (`cell`, `n_built`,
    * `n_appended`) — written by [[writeIvfPqIndexBucketed]], advanced
    * by [[appendToIvfPqIndexBucketed]]. */
  def readIvfPqCellStats(spark: org.apache.spark.sql.SparkSession,
                         prefix: String): DataFrame =
    spark.table(ivfPqCompanion(prefix, "cell_stats",
      openIvfPq(spark, prefix, ledger = false)("codes_table")))

  /** Grow a DURABLE IVF×PQ index in place — O(new) compute AND
    * O(new) I/O per batch: the new vectors are encoded against the
    * reopened frozen geometry ([[appendToIvfPq]]'s plan, reading only
    * the tiny centroid/codebook tables) and their rows APPEND to the
    * bucketed `cell_codes` table
    * ([[graft.sources.Generations.appendBucketed]]; each append writes
    * its own bucket files, and the probe join's co-location is
    * per-file, so reopened searches stay shuffle-free on the index
    * side). The cell-stats ledger advances (n_appended += batch
    * counts) before the commit, inside the poisoned window. The
    * existing index is never rewritten — the whole-table rewrite per
    * admission batch is exactly the O(corpus) cost this API removes
    * (q101's discipline for the exact index). */
  def appendToIvfPqIndexBucketed(spark: org.apache.spark.sql.SparkSession,
                                 prefix: String, newVecs: DataFrame,
                                 idCol: String, vecCol: String): Unit = {
    val live = openIvfPq(spark, prefix, ledger = false)
    val index = ivfPqFrom(spark, prefix, live)
    val codesTable = live("codes_table")
    val cellStats = ivfPqCompanion(prefix, "cell_stats", codesTable)
    val cells = assignCells(newVecs, idCol, vecCol, index.centroids)
      .select(col(idCol).as("neighbor_id"), col("cell"))
    val newCodes = pqEncode(newVecs, idCol, vecCol, index.codebooks,
        index.nSub)
      .join(cells, Seq("neighbor_id"))
    // ledger math on driver-local rows (nCells-sized): the stats
    // table can't be overwritten from a plan that reads itself. The
    // batch counts and the old stats fold into ONE driver action (a
    // null-padded union of the two tiny frames — two sequential
    // collects before)
    val statsRows = newCodes.groupBy(col("cell"))
      .agg(count(lit(1)).as("n_new"))
      .select(lit("b").as("__src"), col("cell"),
        col("n_new"), lit(null).cast("long").as("n_appended"))
      .unionAll(spark.table(cellStats)
        .select(lit("o").as("__src"), col("cell"),
          col("n_built"), col("n_appended")))
      .collect()
    val batchCounts = statsRows.filter(_.getString(0) == "b")
      .map(r => r.get(1) -> r.getLong(2)).toMap
    val oldStats = statsRows.filter(_.getString(0) == "o")
      .map(r => (r.get(1), r.getLong(2), r.getLong(3)))
    Generations.appendBucketed(spark, codesTable, newCodes, "cell")
    // the growth ledger advances (cells the build never saw —
    // impossible under frozen centroids, kept total by the fallback —
    // enter with n_built = 0)
    val grown = (oldStats.map { case (c, b, a) =>
      (c, b, a + batchCounts.getOrElse(c, 0L)) } ++
      batchCounts.keys.filterNot(oldStats.map(_._1).toSet)
        .map(c => (c, 0L, batchCounts(c)))).toSeq
    Sinks.writeTable(
      spark.createDataFrame(java.util.Arrays.asList(
        grown.map { case (c, b, a) =>
          org.apache.spark.sql.Row(c, b, a) }: _*),
        spark.table(cellStats).schema),
      cellStats)
    Generations.commit(spark, prefix, ivfPqTables(prefix, codesTable))(
      ivfPqRow(index, codesTable))
  }

  /** TAKEDOWN support for a durable IVF×PQ index — O(new) deletes,
    * never an O(corpus) rewrite: the ids file into the
    * `${prefix}_tombstones` ledger
    * ([[graft.sources.Generations.appendLedger]]), a served search
    * drops them BEFORE ranking ([[searchIvfPq]]'s `exclude` — so a
    * deleted top-1 reveals the live runner-up, never a shortened
    * result), and the next [[retrainIvfPqIndexBucketed]] purges them
    * PHYSICALLY — the compliance lifecycle a 100 TB training-data
    * index actually needs: a takedown must be effective immediately
    * (logical, this call) and eventually irreversible (physical, at
    * the next maintenance window), without rewriting the scan side
    * per request. Idempotent and re-runnable. */
  def tombstoneIvfPq(spark: org.apache.spark.sql.SparkSession,
                     prefix: String, ids: DataFrame,
                     idCol: String): Unit =
    Generations.appendLedger(spark, s"${prefix}_tombstones",
      tombstoneIds(ids, idCol))

  /** The live tombstone set of a durable IVF×PQ index (empty frame if
    * none were ever COMMITTED; a torn ledger refuses loudly). */
  def readIvfPqTombstones(spark: org.apache.spark.sql.SparkSession,
                          prefix: String): DataFrame =
    committedTombstones(spark, prefix)

  /** Search a DURABLE IVF×PQ index with its tombstones applied — the
    * serving entry point after takedowns: reopen (epoch-validated),
    * drop tombstoned ids pre-rank, search. */
  def searchIvfPqLive(spark: org.apache.spark.sql.SparkSession,
                      prefix: String, corpus: DataFrame, queries: DataFrame,
                      idCol: String, vecCol: String, k: Int,
                      nProbe: Int = 4, oversample: Int = 4): DataFrame = {
    val live = openIvfPq(spark, prefix)
    searchIvfPq(ivfPqFrom(spark, prefix, live), corpus, queries, idCol,
      vecCol, k, nProbe, oversample,
      exclude = Some(idsOrEmpty(spark, live.ledger)))
  }

  /** The ONE-CALL maintenance window for a durable IVF×PQ index — the
    * composition a cron-driven maintenance job runs, closing the loop
    * the q116/q123 gates proved piecewise: probe recall on the served
    * index ([[searchIvfPqLive]] → [[recallProbe]], tombstones applied
    * on BOTH sides — the search excludes them pre-rank and the
    * brute-force truth never counts a deleted vector as a miss),
    * fold the [[driftDecision]], and ONLY if it fires run the warm
    * A/B retrain ([[retrainIvfPqIndexBucketed]] — which also purges
    * filed takedowns physically and clears the ledger) and re-probe
    * to measure the recovery. Returns ONE report row:
    *
    *   `(n_queries, pre_mean_recall, retrain_fired, post_mean_recall,
    *     post_retrain, epoch_changed)`
    *
    * Cost discipline: the probe is bounded by the caller's QUERY
    * SAMPLE (the [[recallProbe]] contract — tens to hundreds of
    * queries, broadcast against one corpus scan), the fit by
    * `sample`, and the one irreducible O(corpus) pass (re-assign +
    * re-encode) happens only when the decision fires. The driver
    * sees exactly two bounded rows (the decision folds), never
    * probe-scale data. Window rules (the q131 gate pins both paths):
    * [[graft.sources.Generations.window]]. */
  def maintainIvfPqIndex(spark: org.apache.spark.sql.SparkSession,
                         prefix: String, corpus: DataFrame,
                         idCol: String, vecCol: String,
                         queries: DataFrame, k: Int, minRecall: Double,
                         sample: DataFrame, lloydIters: Int = 1,
                         nProbe: Int = 4, oversample: Int = 4,
                         numBuckets: Int = 64): DataFrame = {
    // one reopen feeds BOTH the probe's exclude side and the truth
    // side's anti-join
    def decide(live: Generations.Live): (Long, Double, Boolean) = {
      val tombs = idsOrEmpty(spark, live.ledger)
      val truth = corpus.join(broadcast(tombs
          .select(col("neighbor_id").as(idCol))), Seq(idCol), "left_anti")
      val ann = searchIvfPq(ivfPqFrom(spark, prefix, live), corpus,
        queries, idCol, vecCol, k, nProbe, oversample,
        exclude = Some(tombs))
      decision(recallProbe(ann, truth, queries, idCol, vecCol, k),
        minRecall)
    }
    driftReport(spark, Generations.window(openIvfPq(spark, prefix))(
        decide)(_._3)((live, _) => retrainIvfPqGen(spark, prefix, live,
      corpus, idCol, vecCol, sample, lloydIters, numBuckets)))
  }

  /** Warm-start Lloyd refinement of an EXISTING PQ codebook over a
    * bounded sample — the PQ half of the drift remediation: per
    * subspace, `lloydIters` assign→mean steps seeded from the CURRENT
    * codebook, scanning only `sample`'s sub-vectors. The
    * dense-codebook discipline carries over from [[buildPq]]
    * unchanged (a cid that draws no sample member keeps its previous
    * sub-vector — the flat ADC LUT indexes positionally and every
    * slot must exist), and here it doubles as the sampling-luck
    * guard: geometry the sample misses stays where the build left it
    * instead of collapsing. Returns the driver-local
    * (sub, cid, cvec, cn2) grid ready for [[pqEncode]]. */
  def retrainPqCodebooks(current: DataFrame, sample: DataFrame,
                         idCol: String, vecCol: String, nSub: Int,
                         lloydIters: Int = 1): DataFrame = {
    require(lloydIters >= 1, "need lloydIters >= 1")
    val svecs = subVectors(
      sample.select(col(idCol), asDouble(col(vecCol)).as("__v")),
      idCol, nSub)
    var books = current.select(col("sub"), col("cid"), col("cvec"))
      .localCheckpoint()
    for (_ <- 1 to lloydIters) {
      val a = pqAssign(svecs, idCol, books)
      val refined = svecs.join(a, Seq(idCol, "sub"))
        .select(col("sub"), col("cid"),
          posexplode(col("svec")).as(Seq("j", "x")))
        .groupBy("sub", "cid", "j").agg(avg("x").as("m"))
        .groupBy("sub", "cid")
        .agg(array_sort(collect_list(struct(col("j"), col("m")))).as("p"))
        .select(col("sub"), col("cid"),
          expr("transform(p, q -> q.m)").as("m"))
      books = Iterate.advance(books,
        books.join(refined, Seq("sub", "cid"), "left")
          .select(col("sub"), col("cid"),
            coalesce(col("m"), col("cvec")).as("cvec")))
    }
    localCopy(books).withColumn("cn2", dot(col("cvec"), col("cvec")))
  }

  /** Retrain an in-memory [[IvfPqIndex]] after [[driftDecision]]
    * fires — the remediation the drift gate points at: warm-start the
    * coarse centroids AND the PQ codebooks over the bounded `sample`
    * ([[retrainIvfCentroids]] / [[retrainPqCodebooks]] — both
    * O(sample) fits seeded from the CURRENT geometry, never a cold
    * O(corpus) Lloyd), then ONE full re-assign + re-encode pass of
    * `corpus` against the new geometry ([[buildIvfPq]]'s final
    * composition — the irreducible cost of re-quantizing every
    * vector, a single broadcast-argmax/argmin scan). `corpus` must be
    * passed in because the IVF×PQ scan side deliberately stores
    * 8-byte codes, not floats — re-encoding needs the float source
    * (contrast [[retrainIvf]], whose cells table carries the floats
    * and needs nothing external). */
  def retrainIvfPq(index: IvfPqIndex, corpus: DataFrame, idCol: String,
                   vecCol: String, sample: DataFrame,
                   lloydIters: Int = 1): IvfPqIndex = {
    val newCents = retrainIvfCentroids(index.centroids, sample, idCol,
      vecCol, lloydIters)
    val newBooks = retrainPqCodebooks(index.codebooks, sample, idCol,
      vecCol, index.nSub, lloydIters)
    val cells = assignCells(corpus, idCol, vecCol, newCents)
      .select(col(idCol).as("neighbor_id"), col("cell"))
    val cellCodes = pqEncode(corpus, idCol, vecCol, newBooks, index.nSub)
      .join(cells, Seq("neighbor_id"))
    IvfPqIndex(index.nSub, index.nCentroids, newCents, newBooks, cellCodes)
  }

  /** Retrain a DURABLE IVF×PQ index in place — closes the q116 drift
    * loop: [[driftDecision]] fires → this runs → a fresh
    * [[recallProbe]] recovers. Fit cost is O(`sample`); the one full
    * re-encode pass over `corpus` writes the new generation BESIDE
    * the live one (the A/B pair — a bucketed table can't be
    * overwritten from a plan still serving readers). The growth
    * ledger resets (n_built = the retrain assignment, n_appended = 0):
    * a retrain absorbs every prior append into the new geometry, so
    * the drift cue starts clean. The codebooks/centroids/stats
    * rewrites (driver-local sources) wipe the old tokens, so a crash
    * from there until the commit refuses loudly at [[readIvfPqIndex]]. */
  def retrainIvfPqIndexBucketed(spark: org.apache.spark.sql.SparkSession,
                                prefix: String, corpus: DataFrame,
                                idCol: String, vecCol: String,
                                sample: DataFrame, lloydIters: Int = 1,
                                numBuckets: Int = 64): Unit =
    retrainIvfPqGen(spark, prefix, openIvfPq(spark, prefix), corpus, idCol,
      vecCol, sample, lloydIters, numBuckets)

  private def retrainIvfPqGen(spark: org.apache.spark.sql.SparkSession,
                              prefix: String, live: Generations.Live,
                              corpus: DataFrame, idCol: String,
                              vecCol: String, sample: DataFrame,
                              lloydIters: Int,
                              numBuckets: Int): Map[String, String] = {
    val index = ivfPqFrom(spark, prefix, live)
    val liveCodes = live("codes_table")
    val otherCodes = Generations.otherSlot(liveCodes, s"${prefix}_cell_codes")
    val (purge, hasTombstones) = ledgerPurge(spark, live, idCol)
    val retrained = retrainIvfPq(index, purge(corpus), idCol, vecCol,
      purge(sample), lloydIters)
    // new scan-side generation beside the live one, then geometry +
    // ledger from driver-local fitted frames
    Sinks.writeBucketed(retrained.cellCodes, otherCodes, Seq("cell"),
      numBuckets)
    Sinks.writeTable(retrained.codebooks,
      ivfPqCompanion(prefix, "codebooks", otherCodes))
    Sinks.writeTable(retrained.centroids,
      ivfPqCompanion(prefix, "centroids", otherCodes))
    Sinks.writeTable(builtCellStats(spark.table(otherCodes)),
      ivfPqCompanion(prefix, "cell_stats", otherCodes))
    val meta = Generations.commit(spark, prefix,
      ivfPqTables(prefix, otherCodes), ivfPqTables(prefix, liveCodes))(
      ivfPqRow(index, otherCodes))
    // a crash before the clear leaves already-purged tombstones that
    // re-filter harmlessly, never a wrong read
    if (hasTombstones)
      Generations.clearLedger(spark, s"${prefix}_tombstones")
    meta
  }

  /** Embedding-cosine near-duplicate pairs above a threshold, via the
    * LSH buckets (no O(n²) cross join). Each vector is hashed once and
    * multi-probed into its own bucket plus every 1-bit flip, so any
    * pair whose signatures differ by ≤ 1 bit shares a probe bucket —
    * a near-identical vector can flip a plane whose projection sits
    * near zero, and without the probes that single flip would cost the
    * pair. Candidates come from pair-exploding each probe bucket's
    * sorted id list (no self-join), with the same `maxBucket` skew
    * guard + observe metric as the MinHash/SimHash band joins; exact
    * cosine verifies only the candidates. */
  def cosineNearDups(df: DataFrame, idCol: String, vecCol: String,
                     threshold: Double, planes: Int = 10,
                     maxBucket: Int = 200,
                     rescueHot: Boolean = false): DataFrame = {
    // persisted because it fans out to three consumers (probe explode,
    // a-side and b-side verify joins) — unpersisted, each subtree
    // would re-derive the O(planes·d) signature and norm per row.
    // Stays cached for the session like Dedup's gram table; the
    // MEMORY_AND_DISK level is LRU-evictable.
    val hashed = df.select(col(idCol), col(vecCol),
        norm(asDouble(col(vecCol))).as("__n"),
        hyperplaneSignature(col(vecCol), planes).as("__sig"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // hot-bucket escape hatch, same discipline as the Dedup family:
    // byte-identical vectors (duplicated docs re-embedded) collapse to
    // one representative before probing, members attach via star
    // pairs; star pairs still go through the exact-cosine verify below
    // (identical vectors score ~1 to the ulp), so the threshold
    // semantics are unchanged. Reroute surfaces via
    // `graft_cosine_rescue_*` (rescued_members / rescued_groups).
    // The group key is the vector VALUE (arrays are exact-equality
    // groupable), not a 64-bit hash of it — a hash collision would
    // attach a doc to the wrong group so its own vector is never
    // probed, a silent recall loss the exact-cosine verify can't
    // repair.
    val (toProbe, star) =
      if (!rescueHot) (hashed, None)
      else {
        val keyed = hashed.withColumn("__ck", col(vecCol))
        val groups = keyed.groupBy(col("__ck"))
          .agg(min(col(idCol)).as("__rep"), count(lit(1)).as("__n2"))
          .observe(s"graft_cosine_rescue_${Dedup.obsId.incrementAndGet()}",
            sum(when(col("__n2") > 1, col("__n2") - 1).otherwise(0L))
              .as("rescued_members"),
            sum(when(col("__n2") > 1, 1L).otherwise(0L))
              .as("rescued_groups"))
        val withRep = keyed.join(groups.select("__ck", "__rep"), Seq("__ck"))
        (withRep.filter(col(idCol) === col("__rep"))
           .select(col(idCol), col(vecCol), col("__n"), col("__sig")),
         Some(withRep.filter(col(idCol) =!= col("__rep"))
           .select(col("__rep").as("a"), col(idCol).as("b"))))
      }
    val probed = toProbe.select(col(idCol),
      explode(array((col("__sig") +:
        (0 until planes).map(b => col("__sig").bitwiseXOR(lit(1L << b)))): _*))
        .as("bucket"))
    val cands0 = Dedup.explodePairs(
      Dedup.guardedIdBuckets(probed, Seq("bucket"), idCol, maxBucket,
        "cosine"), "ids")
    val cands = star.map(cands0.unionByName(_)).getOrElse(cands0)
    cands
      .join(hashed.select(col(idCol).as("a"), col(vecCol).as("__va"),
        col("__n").as("__na")), Seq("a"))
      .join(hashed.select(col(idCol).as("b"), col(vecCol).as("__vb"),
        col("__n").as("__nb")), Seq("b"))
      .withColumn("cosine", cosinePrenormed(col("__va"), col("__vb"),
        col("__na"), col("__nb")))
      .filter(col("cosine") >= threshold)
      .select("a", "b", "cosine")
  }

  /** Cluster-bucketed semantic near-duplicate pairs, in the SemDeDup
    * discipline (Abbas et al. 2023, arXiv:2303.09540): k-means-cluster
    * the embeddings (the deterministic Lloyd-refined [[buildIvf]]
    * coarse quantizer), generate candidate pairs only WITHIN a cluster
    * cell, and exact-cosine verify the candidates. The alternative
    * candidate generator to [[cosineNearDups]]' hyperplane buckets:
    * clusters adapt to the corpus's density (hyperplanes are data-
    * oblivious), at the cost of the one-time clustering pass.
    *
    * Scale shape: cell assignment is a broadcast-centroid argmax (the
    * corpus never shuffles to cluster), candidates come from pair-
    * exploding each cell's sorted id list under the shared `maxBucket`
    * skew guard + observe metric, and verification joins vectors and
    * precomputed norms for candidates only. Like SemDeDup itself the
    * recall boundary is the clustering: a pair split across cells is
    * never considered (the paper's accepted trade) — size `nCells` so
    * an expected cell ≈ corpus/nCells stays under `maxBucket`, and
    * watch the dropped-bucket metric for cells that outgrow it. */
  def semanticNearDups(df: DataFrame, idCol: String, vecCol: String,
                       threshold: Double, nCells: Int = 32,
                       maxBucket: Int = 200,
                       rescueHot: Boolean = false): DataFrame = {
    // cell table persisted: it fans out to the bucket explode and both
    // verify sides (same lifecycle note as cosineNearDups' signatures)
    val cells = buildIvf(df, idCol, vecCol, nCells).corpusCells
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // hot-CELL escape hatch (the dedup-family rescueHot discipline):
    // byte-identical vectors collapse to one representative per cell
    // key before the pair-explode; members attach via star pairs that
    // still pass the exact-cosine verify. Identical vectors always
    // land in the same cell (same argmax), so the collapse never
    // crosses the clustering's recall boundary. The group key is the
    // vector VALUE, not a hash of it (see cosineNearDups — a
    // collision would silently bypass a doc's own pair generation).
    val keyedBase = cells.select(col("neighbor_id").as(idCol),
      col("cell"), col("__cv"))
    val (toPair, star) =
      if (!rescueHot) (keyedBase.select(col(idCol), col("cell")), None)
      else {
        val keyed = keyedBase.withColumn("__ck", col("__cv"))
        val groups = keyed.groupBy(col("__ck"))
          .agg(min(col(idCol)).as("__rep"), count(lit(1)).as("__n2"))
          .observe(s"graft_semantic_rescue_${Dedup.obsId.incrementAndGet()}",
            sum(when(col("__n2") > 1, col("__n2") - 1).otherwise(0L))
              .as("rescued_members"),
            sum(when(col("__n2") > 1, 1L).otherwise(0L))
              .as("rescued_groups"))
        val withRep = keyed.join(groups.select("__ck", "__rep"), Seq("__ck"))
        (withRep.filter(col(idCol) === col("__rep"))
           .select(col(idCol), col("cell")),
         Some(withRep.filter(col(idCol) =!= col("__rep"))
           .select(col("__rep").as("a"), col(idCol).as("b"))))
      }
    val cands0 = Dedup.explodePairs(
      Dedup.guardedIdBuckets(toPair,
        Seq("cell"), idCol, maxBucket, "semantic"), "ids")
    val cands = star.map(cands0.unionByName(_)).getOrElse(cands0)
    cands
      .join(cells.select(col("neighbor_id").as("a"), col("__cv").as("__va"),
        col("__cn").as("__na")), Seq("a"))
      .join(cells.select(col("neighbor_id").as("b"), col("__cv").as("__vb"),
        col("__cn").as("__nb")), Seq("b"))
      .withColumn("cosine", cosinePrenormed(col("__va"), col("__vb"),
        col("__na"), col("__nb")))
      .filter(col("cosine") >= threshold)
      .select("a", "b", "cosine")
  }

  /** Semantic deduplication end-to-end: [[semanticNearDups]] pairs →
    * connected components → keep the min-id representative per
    * component (plus every unpaired row). */
  def semanticDropNearDups(df: DataFrame, idCol: String, vecCol: String,
                           threshold: Double, nCells: Int = 32,
                           maxBucket: Int = 200,
                           rescueHot: Boolean = false): DataFrame =
    Dedup.dropNearDups(df,
      semanticNearDups(df, idCol, vecCol, threshold, nCells, maxBucket,
        rescueHot), idCol)
}
