package graft
package catalog

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import Fixtures._

/** Embedding gates: exact and approximate nearest neighbours (IVF,
  * SQ, PQ and their products), semantic dedup, and the IVF drift and
  * maintenance lifecycles. */
object VectorQueries {

  val entries: Seq[CatalogEntry] = Seq(

    // Brute-force cosine top-k ANN baseline; ranking on bit-identical
    // doubles (sequential fold == DuckDB list_dot_product)
    CatalogEntry("q26_ann_topk", (s, d) => {
      val emb = t(s, d, "embeddings")
      operators.Similarity.bruteForceTopK(emb, emb.filter($"vec_id" < 10),
          "vec_id", "embedding", k = 3)
        .select($"query_id", $"neighbor_id", $"rank",
          round($"cosine", 6).as("cosine"))
        .orderBy($"query_id", $"rank")
    }, Some(
      """WITH c AS (SELECT vec_id, embedding::DOUBLE[] v FROM embeddings),
         q AS (SELECT vec_id, v FROM c WHERE vec_id < 10),
         s AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             list_dot_product(q.v, c.v) /
               (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(c.v, c.v)))
               AS cos_raw
           FROM q CROSS JOIN c WHERE q.vec_id != c.vec_id),
         r AS (SELECT query_id, neighbor_id, cos_raw, row_number() OVER
             (PARTITION BY query_id ORDER BY cos_raw DESC, neighbor_id) AS rank
           FROM s)
         SELECT query_id, neighbor_id, rank, round(cos_raw, 6) AS cosine
         FROM r WHERE rank <= 3 ORDER BY query_id, rank""")),

    // Cluster-balanced semantic sampling: strata are nearest-anchor
    // cells (first 16 ids as anchors), membership capped at 5 per
    // stratum in md5-hash order. The oracle recomputes the full
    // assignment (bit-identical cosines via list_dot_product) and the
    // per-stratum hash ranking, so a flipped argmax tie, a wrong
    // anchor set, or a drifted hash order all change the kept rows.
    CatalogEntry("q85_semantic_sample", (s, d) => {
      operators.Similarity.semanticStratifiedSample(
          t(s, d, "embeddings"), "vec_id", "embedding",
          nStrata = 16, perStratum = 5, hashFn = operators.Dedup.md5Hash60)
        .orderBy($"stratum", $"rank")
    }, Some(
      """WITH c AS (SELECT vec_id, embedding::DOUBLE[] v FROM embeddings),
         a AS (SELECT vec_id AS stratum, v AS av FROM c
           ORDER BY vec_id LIMIT 16),
         s AS (SELECT c.vec_id, a.stratum,
             list_dot_product(c.v, a.av) /
               (sqrt(list_dot_product(c.v, c.v)) *
                sqrt(list_dot_product(a.av, a.av))) AS sim
           FROM c CROSS JOIN a),
         asg AS (SELECT vec_id, stratum FROM (
             SELECT vec_id, stratum, row_number() OVER
               (PARTITION BY vec_id ORDER BY sim DESC, stratum) AS rn
             FROM s) t WHERE rn = 1),
         h AS (SELECT vec_id, stratum,
             ('0x' || substring(md5(vec_id::VARCHAR), 1, 15))::BIGINT AS hh
           FROM asg),
         r AS (SELECT vec_id, stratum, row_number() OVER
             (PARTITION BY stratum ORDER BY hh, vec_id) AS rank FROM h)
         SELECT vec_id, stratum, rank FROM r WHERE rank <= 5
         ORDER BY stratum, rank""")),

    // Scale-path ANN gate: the LSH (hyperplane, multi-probe) and IVF
    // (coarse-quantized, Lloyd-refined) indexes must return the TRUE
    // nearest neighbor of planted near-duplicate queries (perturbed
    // copies of the first 10 corpus vectors — the synthetic embeddings
    // are near-orthogonal, so unplanted "neighbors" at cosine ≈ 0.3
    // are information-free; a planted query at cosine ≈ 1 is the
    // workload ANN indexes exist for). The oracle recomputes each
    // query's brute-force argmax independently, so a value mismatch
    // means the index missed the true top-1. Fully deterministic:
    // seeded hashes, lowest-id IVF seeding, double arithmetic.
    CatalogEntry("q31_ann_recall", (s, d) => {
      val emb = t(s, d, "embeddings")
      val qs = plantedQueries(emb)
      def top1(approx: DataFrame, m: String): DataFrame =
        approx.filter($"rank" === 1)
          .select(lit(m).as("method"), $"query_id", $"neighbor_id".as("top1"))
      top1(operators.Similarity.ivfTopK(emb, qs, "vec_id", "embedding", 3), "ivf")
        .unionByName(
          top1(operators.Similarity.lshTopK(emb, qs, "vec_id", "embedding", 3), "lsh"))
        .orderBy($"method", $"query_id")
    }, Some(
      ("""WITH c AS (SELECT vec_id, embedding::DOUBLE[] v FROM embeddings),
         """ + bruteCosineSql + """
           FROM s)
         SELECT method, query_id, neighbor_id AS top1 FROM
           (SELECT 'ivf' AS method, query_id, neighbor_id FROM r WHERE rank = 1
            UNION ALL
            SELECT 'lsh', query_id, neighbor_id FROM r WHERE rank = 1)
         ORDER BY method, query_id"""))),

    // Scalar-quantization ANN gate, same planted-query discipline as
    // q31: int8 codes must surface the true nearest neighbor of each
    // perturbed-copy query within the oversampled candidate set, and
    // the exact float rerank must put it at rank 1. The oracle is the
    // per-query brute-force argmax — quantization is invisible at
    // rank 1 or the gate fails.
    CatalogEntry("q60_sq_ann_recall", (s, d) => plantedTop1(s, d)(
      operators.Similarity.sqTopK(_, _, "vec_id", "embedding", k = 3)),
      Some(plantedTop1Sql)),

    // Composed IVF × SQ ANN gate — the 100 TB production shape: the
    // approximate pass is cell-pruned (nProbe of nCells cells) AND
    // reads only int8 codes; floats appear only at the exact rerank.
    // Same planted-query discipline as q31/q60, same brute-force
    // argmax oracle: the coarse quantizer must route each perturbed
    // query to its source's cell, quantization must keep the true
    // neighbor inside the oversampled candidate set, and the rerank
    // must put it at rank 1.
    CatalogEntry("q66_ivfsq_ann_recall", (s, d) => plantedTop1(s, d)(
      operators.Similarity.ivfSqTopK(_, _, "vec_id", "embedding", k = 3)),
      Some(plantedTop1Sql)),

    // Embedding-cosine near-dup: corpus ∪ perturbed copies of every 7th
    // vector, candidates from multi-probe hyperplane-LSH buckets, exact
    // cosine verify. The oracle scores ALL pairs exhaustively, so this
    // gate proves 100% recall of the bucketed path at the threshold —
    // organic pairs top out near cosine 0.6 on this corpus, so 0.9
    // admits exactly the planted near-identical pairs.
    CatalogEntry("q33_cosine_neardup", (s, d) => {
      val emb = t(s, d, "embeddings")
      val corpus = vectorDupCorpus(emb)
      operators.Similarity.cosineNearDups(corpus, "vec_id", "embedding",
          threshold = 0.9)
        .select($"a", $"b", round($"cosine", 6).as("cosine"))
        .orderBy($"a", $"b")
    }, Some(
      """WITH c0 AS (SELECT vec_id, embedding::DOUBLE[] v FROM embeddings),
         c AS (SELECT vec_id, v FROM c0
           UNION ALL
           SELECT vec_id + 1000000, list_transform(v, x -> x * 1.001 + 0.0005)
           FROM c0 WHERE vec_id % 7 = 0),
         s AS (SELECT a.vec_id a, b.vec_id b,
             list_dot_product(a.v, b.v) /
               (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v)))
               AS cos_raw
           FROM c a JOIN c b ON a.vec_id < b.vec_id)
         SELECT a, b, round(cos_raw, 6) AS cosine FROM s
         WHERE cos_raw >= 0.9 ORDER BY a, b""")),

    // Semantic dedup, SemDeDup-style: cluster-bucketed candidates
    // (deterministic IVF k-means cells) + exact cosine verify + the
    // connected-components keep-min decision, end-to-end. The oracle
    // recomputes survivors from the EXHAUSTIVE pair set (all-pairs
    // cosine ≥ 0.9 → recursive-CTE closure → min-id representative),
    // so the gate pins both that the cell-bucketed generator finds
    // every qualifying pair ON THIS CORPUS (planted near-identical
    // copies co-cluster with their source by construction; a pair
    // split across cells is SemDeDup's accepted recall trade) and
    // that the dedup decision keeps exactly the right rows.
    CatalogEntry("q52_semantic_dedup", (s, d) => {
      val emb = t(s, d, "embeddings")
      val corpus = vectorDupCorpus(emb)
      operators.Similarity.semanticDropNearDups(corpus, "vec_id",
          "embedding", threshold = 0.9)
        .select($"vec_id")
        .orderBy($"vec_id")
    }, Some(
      ("""WITH c0 AS (SELECT vec_id, embedding::DOUBLE[] v FROM embeddings),
         c AS (SELECT vec_id, v FROM c0
           UNION ALL
           SELECT vec_id + 1000000, list_transform(v, x -> x * 1.001 + 0.0005)
           FROM c0 WHERE vec_id % 7 = 0),
         """ + vectorComponentsSql + """
         comp AS (SELECT x AS vec_id, least(x, min(y)) AS comp
           FROM reach GROUP BY x)
         SELECT c.vec_id FROM c LEFT JOIN comp USING (vec_id)
         WHERE comp.comp IS NULL OR comp.comp = c.vec_id
         ORDER BY c.vec_id"""))),

    // SemDeDup-rescue gate: q52's corpus (perturbed copies co-cluster
    // with their sources) plus a 300-copy identical-vector flood that
    // blows the cell cap. rescueHot collapses the flood to one
    // representative per vector value — identical vectors share an
    // argmax cell, so the collapse never crosses SemDeDup's clustering
    // recall boundary — and the exhaustive closure oracle pins the
    // survivor set.
    CatalogEntry("q70_semantic_rescue", (s, d) => {
      val emb = t(s, d, "embeddings")
      val base = vectorDupCorpus(emb)
      val copies = base.filter($"vec_id" === 0L)
        .select(explode(sequence(lit(0L), lit(299L))).as("i"), $"embedding")
        .select(($"i" + 2000000L).as("vec_id"), $"embedding")
      val corpus = base.unionByName(copies)
      operators.Similarity.semanticDropNearDups(corpus, "vec_id",
          "embedding", threshold = 0.9, maxBucket = 150, rescueHot = true)
        .select($"vec_id").orderBy($"vec_id")
    }, Some(
      ("""WITH c0 AS (SELECT vec_id, embedding::DOUBLE[] v FROM embeddings),
         cb AS (SELECT vec_id, v FROM c0
           UNION ALL
           SELECT vec_id + 1000000, list_transform(v, x -> x * 1.001 + 0.0005)
           FROM c0 WHERE vec_id % 7 = 0),
         c AS (SELECT vec_id, v FROM cb
           UNION ALL
           SELECT 2000000 + r.range AS vec_id,
             (SELECT v FROM cb WHERE vec_id = 0) AS v
           FROM range(0, 300) r),
         """ + vectorComponentsSql + """
         comp AS (SELECT x AS vec_id, least(x, min(y)) AS comp
           FROM reach GROUP BY x)
         SELECT c.vec_id FROM c LEFT JOIN comp USING (vec_id)
         WHERE comp.comp IS NULL OR comp.comp = c.vec_id
         ORDER BY c.vec_id"""))),

    // Cosine-rescue gate (the embedding-side q68): 300 byte-identical
    // copies of vec 0's embedding land in every probe bucket of that
    // signature, blowing maxBucket = 150 — the plain guard would drop
    // them all and dedup would keep every copy. rescueHot collapses
    // identical vectors to one representative before probing; the
    // oracle recomputes the exhaustive cosine threshold closure and
    // the survivor sets must match exactly (cosine scoring is
    // bit-identical to DuckDB's list_dot_product, pinned by q26/q33).
    CatalogEntry("q69_cosine_rescue", (s, d) => {
      val emb = t(s, d, "embeddings")
      val base = emb.select($"vec_id",
        expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("embedding"))
      val copies = base.filter($"vec_id" === 0L)
        .select(explode(sequence(lit(0L), lit(299L))).as("i"), $"embedding")
        .select(($"i" + 2000000L).as("vec_id"), $"embedding")
      val corpus = base.unionByName(copies)
      val pairs = operators.Similarity.cosineNearDups(corpus, "vec_id",
        "embedding", threshold = 0.9, maxBucket = 150, rescueHot = true)
      operators.Dedup.dropNearDups(corpus, pairs, "vec_id")
        .select($"vec_id").orderBy($"vec_id")
    }, Some(
      """WITH c0 AS (SELECT vec_id, embedding::DOUBLE[] v FROM embeddings),
         c AS (SELECT vec_id, v FROM c0
           UNION ALL
           SELECT 2000000 + r.range AS vec_id,
             (SELECT v FROM c0 WHERE vec_id = 0) AS v
           FROM range(0, 300) r),
         s AS (SELECT a.vec_id a, b.vec_id b FROM c a JOIN c b
           ON a.vec_id < b.vec_id
           AND list_dot_product(a.v, b.v) /
             (sqrt(list_dot_product(a.v, a.v)) *
              sqrt(list_dot_product(b.v, b.v))) >= 0.9),
         edges AS (SELECT a x, b y FROM s UNION SELECT b, a FROM s),
         reach AS (
           WITH RECURSIVE r(x, y) AS (
             SELECT x, y FROM edges
             UNION
             SELECT r.x, e.y FROM r JOIN edges e ON r.y = e.x)
           SELECT x, y FROM r),
         comp AS (SELECT x, least(x, min(y)) cm FROM reach GROUP BY x)
         SELECT c.vec_id FROM c
         LEFT JOIN comp ON comp.x = c.vec_id
         WHERE comp.x IS NULL OR comp.cm = c.vec_id
         ORDER BY vec_id""")),

    // Streaming EMBEDDING near-dup admission — the vector-family rung
    // of the ingestion ladder: the accepted embeddings (%3==0) build
    // a frozen IVF index (3 Lloyd iterations, the q105/q107 build
    // discipline); the stream carries the rest, every %3==1 vector a
    // disguised re-embed of an accepted vector (scaled + shifted —
    // same direction, so it lands its source's max-cosine cell) and
    // %3==2 vectors novel. Streamed admissions across micro-batches
    // must equal the BRUTE-FORCE batch decision at tau=0.9 — the
    // oracle regenerates the candidate stream and replays exhaustive
    // max-cosine + argmax vs the accepted set, so a drift anywhere
    // (centroid literal ranking, probe-cell routing, the member-array
    // fold, the tie rule, the admit-on-unprovable branch) changes the
    // admitted set or a match id.
    CatalogEntry("q120_stream_ann_admission", (s, d) => {
      val fix = streamFixtures(s, d)
      val emb = t(s, d, "embeddings")
      val accepted = emb.filter($"vec_id" % 3 === 0)
      val index = operators.Similarity.buildIvf(accepted, "vec_id",
        "embedding", nCells = 8, lloydIters = 3)
      val members = operators.Similarity.cellMembers(index)
      // the stream-static contract re-plans the static side per
      // micro-batch — materialize the member arrays once (the q114
      // discipline)
      members.persist(org.apache.spark.storage.StorageLevel
        .MEMORY_AND_DISK).count()
      val sch = s.read.parquet(s"$fix/embeddings_stream").schema
      val stream = s.readStream.schema(sch)
        .option("maxFilesPerTrigger", 1).parquet(s"$fix/embeddings_stream")
      val admitted = streaming.StreamingParse.annAdmissionStream(stream,
        "vec_id", "embedding", index, members, tau = 0.9, nProbe = 2)
      val out = runStreamToTable(s, admitted, "append", "ann_admission")
        .select($"vec_id", $"admitted", $"match_id")
        .orderBy($"vec_id")
      // the stream is done once runStreamToTable returns — release the
      // cached member arrays so they don't leak into later queries
      members.unpersist()
      out
    }, Some(
      annAdmissionOracleSql)),

    // Johnson–Lindenstrauss ±1 random projection (Achlioptas 2001):
    // 64-dim embeddings down to 16 dims through a deterministic
    // md5-sign matrix the oracle rebuilds in SQL (the q25
    // engine-neutral hash discipline) — a wrong sign, a transposed
    // index, a scale slip, or an accumulation-order change all break
    // the value hash. Output exploded to (vec_id, dim, value) rows so
    // the compare is scalar-exact.
    CatalogEntry("q104_random_projection", (s, d) => {
      val emb = t(s, d, "embeddings").select($"vec_id",
        expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("emb"))
      operators.Similarity.randomProjection(emb, "emb", "proj",
          inDim = 64, outDim = 16)
        .select($"vec_id", posexplode($"proj"))
        .select($"vec_id", $"pos".cast("long").as("dim"),
          round($"col", 6).as("value"))
        .orderBy($"vec_id", $"dim")
    }, Some(
      // the projection matrix is rebuilt sign-by-sign from md5 — the
      // scale 1/sqrt(16) is the exact binary 0.25, so `dot * 0.25` in
      // the engine and `dot / 4.0` here are bit-identical
      """WITH e AS (SELECT vec_id,
           [CAST(x AS DOUBLE) for x in embedding] AS emb
         FROM embeddings)
         SELECT e.vec_id, g.j AS dim,
           round(list_dot_product(e.emb,
             [CASE WHEN substring(md5('rp_' || g.j || '_' || (i - 1)), 1, 1)
                     < '8'
                   THEN 1.0 ELSE -1.0 END
              for i in generate_series(1, 64)]) / 4.0, 6) AS value
         FROM e CROSS JOIN generate_series(0, 15) AS g(j)
         ORDER BY vec_id, dim""")),

    // Product-quantization ANN gate (Jégou, Douze, Schmid 2011) —
    // the memory-bound scan tier beyond int8 SQ: 8 subspaces × 16
    // centroids compress each 64-dim vector to 8 BYTES, and the
    // approximate pass is 8 LUT lookups per pair over those code
    // words alone. Same planted-query discipline as q60/q66, same
    // brute-force argmax oracle: the per-subspace codebooks must keep
    // the true neighbor inside the oversampled ADC candidate set, and
    // the exact float rerank must put it at rank 1 — quantization is
    // invisible at rank 1 or the gate fails.
    CatalogEntry("q105_pq_ann_recall", (s, d) => plantedTop1(s, d)(
      operators.Similarity.pqTopK(_, _, "vec_id", "embedding", k = 3,
        lloydIters = 3)),
      // brute-force argmax, verbatim the q60/q66 discipline: the PQ
      // path's rank-1 answer must be quantization-invisible
      Some(plantedTop1Sql)),

    // Composed IVF × PQ ANN gate — IVFADC (Jégou et al. 2011), the
    // classic billion-scale layout: the approximate pass is
    // cell-pruned (nProbe of nCells cells) AND reads only 8-byte PQ
    // code words, multiplying the two compressions (q66's IVF×SQ at
    // 8× smaller codes). Same planted-query discipline, same
    // brute-force argmax oracle: coarse routing, in-cell ADC recall
    // and the exact rerank must all hold for rank 1 to survive.
    CatalogEntry("q107_ivfpq_ann_recall", (s, d) => plantedTop1(s, d)(
      operators.Similarity.ivfPqTopK(_, _, "vec_id", "embedding", k = 3,
        lloydIters = 3)),
      // brute-force argmax again: IVFADC must be end-to-end invisible
      // at rank 1 (coarse routing + ADC + rerank)
      Some(plantedTop1Sql)),

    // Audio near-dup END TO END from real bytes — q124's discipline
    // for the sound tier: pseudo-random planted PCM clips
    // (sample = (src·2654435761 + i²·40503 + i·977 + c·997) mod 4096
    // − 2048, mixed mono/stereo) are container-encoded driver-side
    // as WAV plus byte-swapped AIFF and AU re-encodes of the SAME
    // samples, plus volume-doubled WAV variants; the engine decodes
    // (q119's codec boundary), fingerprints the PCM (65-window
    // integer energy-gradient signs — gain-invariant by the square)
    // and Hamming-bands the signatures into verified pairs. Three
    // different containers and a 2× gain must collapse to one
    // signature; the oracle replays the sample formula, the stereo
    // mixdown, every window energy, the bit packing and the
    // exhaustive pairwise Hamming truth in SQL. A 40-frame clip is
    // too short for a stable gradient signature and must come back
    // null alongside the corrupt payloads — and null fingerprints
    // never enter a band.
    // The text modality's bytes→vector bridge made REAL end to end:
    // documents feature-hash into fixed-dim signed-count vectors (the
    // hashing trick — one pure HOF projection, no model, no shuffle,
    // stream-legal), and near-copies (each query is a corpus doc plus
    // three appended tokens) must recover their source as the cosine
    // argmax over the embedded corpus. Values are exact integers
    // inside doubles, so the oracle replays the tokenize → md5 bucket
    // + sign → fold → per-doc stats → brute-force cosine argmax chain
    // bit-for-bit in SQL. Composes directly with the vector family —
    // the same column feeds buildIvf/hammingNearDups/annAdmission.
    CatalogEntry("q130_text_embed_ann", (s, d) => {
      val docs = t(s, d, "documents").select($"doc_id", $"text")
      val emb = operators.TextAnalysis.hashEmbed(docs, "text", dim = 64)
        .select($"doc_id", $"embedding")
      val qdocs = docs.filter($"doc_id" < 15)
        .select(($"doc_id" + 500000L).as("doc_id"),
          concat($"text", lit(" zq zq qz")).as("text"))
      val qemb = operators.TextAnalysis.hashEmbed(qdocs, "text", dim = 64)
        .select($"doc_id", $"embedding")
      val ann = operators.Similarity.bruteForceTopK(emb, qemb,
        "doc_id", "embedding", k = 1).filter($"rank" === 1)
      val stats = emb.select($"doc_id".as("top1"),
        expr("aggregate(embedding, 0L, (a, x) -> " +
          "a + CASE WHEN x != 0.0D THEN 1L ELSE 0L END)").as("nnz"),
        expr("CAST(aggregate(embedding, 0.0D, (a, x) -> a + x * x) " +
          "AS BIGINT)").as("ssq"))
      ann.select($"query_id", $"neighbor_id".as("top1"))
        .join(stats, Seq("top1"))
        .select($"query_id", $"top1", $"nnz", $"ssq")
        .orderBy($"query_id")
    }, Some(
      // the full text→vector chain replayed: tokenize, md5 bucket +
      // sign-hash fold, per-doc nonzero/sum-of-squares stats (exact
      // integers), brute-force cosine argmax with ties to the smaller id
      """WITH base AS (SELECT doc_id, text, 0 AS is_q FROM documents),
          qd AS (SELECT doc_id + 500000 AS doc_id, text || ' zq zq qz' AS text,
            1 AS is_q FROM documents WHERE doc_id < 15),
          all_docs AS (SELECT * FROM base UNION ALL SELECT * FROM qd),
          toks AS (SELECT doc_id, is_q,
            unnest(list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
              t -> t != '')) AS t
            FROM all_docs),
          contrib AS (SELECT doc_id, is_q,
            ('0x' || substring(md5(t), 1, 15))::BIGINT % 64 AS b,
            CASE WHEN (('0x' || substring(md5(t), 1, 15))::BIGINT // 64) % 2 = 0
              THEN 1.0 ELSE -1.0 END AS s
            FROM toks),
          vecs AS (SELECT doc_id, is_q, b, sum(s) AS v FROM contrib
            GROUP BY 1, 2, 3 HAVING sum(s) != 0),
          stats AS (SELECT doc_id, count(*)::BIGINT AS nnz,
            CAST(sum(v * v) AS BIGINT) AS ssq
            FROM vecs WHERE is_q = 0 GROUP BY doc_id),
          dots AS (SELECT q.doc_id AS query_id, c.doc_id AS neighbor_id,
            sum(q.v * c.v) AS dp
            FROM vecs q JOIN vecs c ON q.b = c.b AND q.is_q = 1 AND c.is_q = 0
            GROUP BY 1, 2),
          norms AS (SELECT doc_id, is_q, sqrt(sum(v * v)) AS n FROM vecs
            GROUP BY 1, 2),
          cosr AS (SELECT d.query_id, d.neighbor_id,
            d.dp / (qn.n * cn.n) AS cosv
            FROM dots d JOIN norms qn ON qn.doc_id = d.query_id AND qn.is_q = 1
            JOIN norms cn ON cn.doc_id = d.neighbor_id AND cn.is_q = 0),
          top AS (SELECT query_id, neighbor_id AS top1 FROM (
            SELECT query_id, neighbor_id, row_number() OVER (PARTITION BY query_id
              ORDER BY cosv DESC, neighbor_id) AS rn FROM cosr) WHERE rn = 1)
         SELECT t.query_id, t.top1, s.nnz, s.ssq
         FROM top t JOIN stats s ON s.doc_id = t.top1
         ORDER BY t.query_id""")),

    // hashEmbed at a PRODUCTION dim (1024) — the r13 prescription's
    // scale gate for the native projection: the old HOF fold rebuilt
    // the full dim-array once per token (O(tokens × dim) churn, fine
    // at the q130 dim=64, a cliff at 1024+), the native expression
    // hashes each token once and scatters into a scratch buffer —
    // O(tokens + dim) per doc, flat in dim per token. Stats are exact
    // integers; wsum weights each bucket by its 1-based POSITION so
    // the oracle pins not just the multiset of values but which
    // bucket every count landed in.
    CatalogEntry("q135_hash_embed_hidim", (s, d) => {
      val docs = t(s, d, "documents").select($"doc_id", $"text")
        .filter($"text".isNotNull)
      val emb = operators.TextAnalysis.hashEmbed(docs, "text", dim = 1024)
      emb.select($"doc_id",
        expr("aggregate(embedding, 0L, (a, x) -> " +
          "a + CASE WHEN x != 0.0D THEN 1L ELSE 0L END)").as("nnz"),
        expr("CAST(aggregate(embedding, 0.0D, (a, x) -> a + x * x) " +
          "AS BIGINT)").as("ssq"),
        expr("CAST(aggregate(zip_with(embedding, " +
          "sequence(1, 1024), (v, i) -> v * CAST(i AS DOUBLE)), " +
          "0.0D, (a, x) -> a + x) AS BIGINT)").as("wsum"))
        .orderBy($"doc_id")
    }, Some(
      // the q130 chain at dim 1024: tokenize, md5 bucket + sign, per-doc
      // scatter — nnz/ssq/position-weighted checksum, all exact integers
      """WITH toks AS (SELECT doc_id,
            unnest(list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
              t -> t != '')) AS t
            FROM documents WHERE text IS NOT NULL),
          contrib AS (SELECT doc_id,
            ('0x' || substring(md5(t), 1, 15))::BIGINT % 1024 AS b,
            CASE WHEN (('0x' || substring(md5(t), 1, 15))::BIGINT // 1024) % 2 = 0
              THEN 1.0 ELSE -1.0 END AS s
            FROM toks),
          vecs AS (SELECT doc_id, b, sum(s) AS v FROM contrib
            GROUP BY 1, 2 HAVING sum(s) != 0),
          stats AS (SELECT doc_id, count(*)::BIGINT AS nnz,
            CAST(sum(v * v) AS BIGINT) AS ssq,
            CAST(sum(v * (b + 1)) AS BIGINT) AS wsum
            FROM vecs GROUP BY doc_id)
         SELECT d.doc_id, coalesce(s.nnz, 0)::BIGINT AS nnz,
           coalesce(s.ssq, 0)::BIGINT AS ssq,
           coalesce(s.wsum, 0)::BIGINT AS wsum
         FROM documents d LEFT JOIN stats s USING (doc_id)
         WHERE d.text IS NOT NULL
         ORDER BY d.doc_id""")),

    // The UNBOUNDED-corpus tier of the streaming ANN rung — the
    // foreachBatch route annAdmissionStream's scaladoc promises for
    // an accepted corpus too big for broadcast member arrays: each
    // micro-batch runs the relational searchIvf against the DURABLE
    // bucketed index (corpus side reopens shuffle-free; only the
    // small batch shuffles), decisions land via the q146 exactly-once
    // discipline (batch_id-partitioned dynamic overwrite), and the
    // gate replays the LAST batch verbatim — append semantics would
    // duplicate its rows. Decisions must equal q120's brute-force
    // oracle exactly (same fixture, same probe geometry, same tie
    // rule) — the two streaming tiers (broadcast-members and batched)
    // are pinned to the SAME truth.
    CatalogEntry("q152_stream_ann_batched", (s, d) => {
      val fix = streamFixtures(s, d)
      val emb = t(s, d, "embeddings")
      val accepted = emb.filter($"vec_id" % 3 === 0)
      val index = operators.Similarity.buildIvf(accepted, "vec_id",
        "embedding", nCells = 8, lloydIters = 3)
      operators.Similarity.writeIvfIndexBucketed(index, "q152_idx",
        numBuckets = 8)
      val dir = java.nio.file.Files.createTempDirectory("q152_out")
      dir.toFile.deleteOnExit()
      val outPath = s"$dir/decisions"
      val sch = s.read.parquet(s"$fix/embeddings_stream").schema
      val stream = s.readStream.schema(sch)
        .option("maxFilesPerTrigger", 1).parquet(s"$fix/embeddings_stream")
      streaming.StreamingParse.annAdmissionBatchedStream(stream,
        "vec_id", "embedding", "q152_idx", tau = 0.9, nProbe = 2,
        outPath)
      // crash-redelivery of the last batch: same rows, same id — the
      // dynamic overwrite must leave the output byte-identical
      val outDf = s.read.parquet(outPath)
      val lastBatch = outDf.agg(max($"batch_id".cast("long")))
        .collect()(0).getLong(0)
      val replayIds = outDf.filter($"batch_id".cast("long") === lastBatch)
        .select($"vec_id")
      val replayRows = s.read.parquet(s"$fix/embeddings_stream")
        .join(broadcast(replayIds), Seq("vec_id"), "left_semi")
      streaming.StreamingParse.applyAnnAdmissionBatch(s, replayRows,
        lastBatch, "q152_idx", "vec_id", "embedding", tau = 0.9,
        nProbe = 2, outPath)
      s.read.parquet(outPath)
        .select($"vec_id", $"admitted", $"match_id")
        .orderBy($"vec_id")
    }, Some(
      // the candidate stream regenerated from `embeddings`, then the
      // exhaustive brute-force decision the IVF probe must reproduce:
      // max cosine + argmax (ties to the smaller id) vs the accepted
      // set, admit strictly below tau — planted re-embeds sit at
      // cos ≈ 0.99999 and the novel tail below 0.6, so both regimes
      // bind with margin
      // q152: identical decisions through the batched (foreachBatch
      // searchIvf) route against the durable index — same fixture,
      // same brute-force rule
      annAdmissionOracleSql)),

    // Vector-index growth loop end-to-end (the q101 discipline for
    // the ANN family): build IVF×PQ on the EVEN half, persist
    // bucketed, append the ODD half IN PLACE against the frozen
    // geometry (O(new) encode + O(new) bucket files + the poison-token
    // crash window), reopen, and serve planted queries targeting BOTH
    // halves — an appended vector that failed to index would break
    // its query's row. The recall probe + drift decision run over the
    // same served index: in the planted all-hit regime they must emit
    // exactly recall=1.0 / retrain=false (the miss regime is
    // spec-gated with fresh cluster samples). Oracle: the q107
    // brute-force argmax over the FULL corpus plus the all-hit
    // probe/decision constants.
    CatalogEntry("q116_ivfpq_append_recall", (s, d) => {
      val emb = t(s, d, "embeddings")
      val b1 = emb.filter($"vec_id" % 2 === 0)
      val b2 = emb.filter($"vec_id" % 2 =!= 0)
      val base = operators.Similarity.buildIvfPq(b1, "vec_id", "embedding",
        lloydIters = 3)
      operators.Similarity.writeIvfPqIndexBucketed(base, "q116_idx")
      operators.Similarity.appendToIvfPqIndexBucketed(s, "q116_idx", b2,
        "vec_id", "embedding")
      val disk = operators.Similarity.readIvfPqIndex(s, "q116_idx")
      val qs = plantedQueries(emb)
      val ann = operators.Similarity.searchIvfPq(disk, emb, qs, "vec_id",
        "embedding", k = 3).filter($"rank" === 1)
      val probe = operators.Similarity.recallProbe(ann, emb, qs, "vec_id",
        "embedding", k = 1)
      val decision = operators.Similarity.driftDecision(probe,
        minRecall = 0.9)
      ann.select($"query_id", $"neighbor_id".as("top1"))
        .join(probe.select($"query_id", $"recall"), Seq("query_id"))
        .crossJoin(broadcast(decision.select($"mean_recall", $"retrain")))
        .orderBy($"query_id")
    }, Some(
      // the q107 brute-force argmax over the FULL corpus (both build
      // and appended halves — a query whose true top-1 is an appended
      // odd-id vector only matches if the in-place append indexed it),
      // plus the all-hit probe/decision constants the planted regime
      // must produce exactly
      ("""WITH c AS (SELECT vec_id, embedding::DOUBLE[] v FROM embeddings),
         """ + bruteCosineSql + """
           FROM s)
         SELECT query_id, neighbor_id AS top1, 1.0::DOUBLE AS recall,
           1.0::DOUBLE AS mean_recall, FALSE AS retrain
         FROM r WHERE rank = 1
         ORDER BY query_id"""))),

    // The drift loop CLOSED (q116 made drift measurable; this acts on
    // it): planted clusters where the drifted batch provably breaks
    // the frozen-geometry index — drifted members lean toward cell 1
    // while their queries lean toward cell 2, so every nProbe=1 probe
    // lands a cell without the true twin and pre-retrain recall is
    // exactly 0 → driftDecision fires. The warm-start retrain
    // (Lloyd seeded from the CURRENT centroids over the id%2 SAMPLE
    // of the index's own durable rows — never a corpus refit) pulls
    // centroid 1 toward the drifted region, every probe re-lands
    // correctly, and post-retrain recall is exactly 1 → the decision
    // clears. The oracle replays the ENTIRE arithmetic in SQL: seed
    // choice, build Lloyd mean, frozen append assignment, the sampled
    // warm refit with the keep-empty-cell coalesce, final
    // re-assignment, both probe/top1 passes, brute-force truth and
    // both decisions — a drift anywhere in the fit math breaks rows.
    // The A/B generation swap + fresh-epoch discipline rides the same
    // gate (pre reads the written index; post reads the swapped one).
    CatalogEntry("q123_ivf_drift_retrain", (s, d) => {
      val (base, drift, queries) = ivfDriftVectors(s)
      val corpus = base.unionByName(drift)
      val built = operators.Similarity.buildIvf(base, "vec_id",
        "embedding", nCells = 2, lloydIters = 1)
      val grown = operators.Similarity.appendToIvf(built, drift,
        "vec_id", "embedding")
      operators.Similarity.writeIvfIndexBucketed(grown, "q123_idx",
        numBuckets = 2)
      val pre = operators.Similarity.readIvfIndex(s, "q123_idx")
      // materialize every pre-retrain result BEFORE the swap — the
      // retrain drops the generation these plans read
      val preAnn = localCopy(operators.Similarity.searchIvf(pre, queries,
        "vec_id", "embedding", k = 1, nProbe = 1))
      val preProbe = localCopy(operators.Similarity.recallProbe(preAnn, corpus,
        queries, "vec_id", "embedding", k = 1))
      val preDec = localCopy(operators.Similarity.driftDecision(preProbe,
        minRecall = 0.9))
      operators.Similarity.retrainIvfIndexBucketed(s, "q123_idx",
        sample => sample.filter($"__rid" % 2 === 1), lloydIters = 1,
        numBuckets = 2)
      val post = operators.Similarity.readIvfIndex(s, "q123_idx")
      val postAnn = operators.Similarity.searchIvf(post, queries,
        "vec_id", "embedding", k = 1, nProbe = 1)
      val postProbe = operators.Similarity.recallProbe(postAnn, corpus,
        queries, "vec_id", "embedding", k = 1)
      val postDec = operators.Similarity.driftDecision(postProbe,
        minRecall = 0.9)
      preAnn.select($"query_id", $"neighbor_id".as("pre_top1"))
        .join(postAnn.select($"query_id", $"neighbor_id".as("post_top1")),
          Seq("query_id"))
        .join(preProbe.select($"query_id", $"recall".as("pre_recall")),
          Seq("query_id"))
        .join(postProbe.select($"query_id", $"recall".as("post_recall")),
          Seq("query_id"))
        .crossJoin(broadcast(preDec.select($"mean_recall".as("pre_mean"),
          $"retrain".as("retrain_fired"))))
        .crossJoin(broadcast(postDec.select($"mean_recall".as("post_mean"),
          $"retrain".as("post_retrain"))))
        .select($"query_id", $"pre_top1", $"post_top1", $"pre_recall",
          $"post_recall", $"pre_mean", $"post_mean", $"retrain_fired",
          $"post_retrain")
        .orderBy($"query_id")
    }, Some(
      // the complete drift-retrain arithmetic replayed: build seeds +
      // Lloyd mean, frozen append assignment, probe/top1 on the stale
      // geometry, the id%2-sampled warm refit (keep-empty-cell
      // coalesce), re-assignment, probe/top1 on the new geometry,
      // brute-force truth, per-query recalls and both drift decisions
      (ivfDriftReplaySql + """
         rec AS (
           SELECT t.query_id, pr.pre_top1, po.post_top1,
             round(CASE WHEN pr.pre_top1 = t.true_top1 THEN 1.0
               ELSE 0.0 END, 6)::DOUBLE AS pre_recall,
             round(CASE WHEN po.post_top1 = t.true_top1 THEN 1.0
               ELSE 0.0 END, 6)::DOUBLE AS post_recall
           FROM truth t JOIN pre_top pr USING (query_id)
             JOIN post_top po USING (query_id)),
         dec AS (
           SELECT round(avg(pre_recall), 6)::DOUBLE AS pre_mean,
             round(avg(post_recall), 6)::DOUBLE AS post_mean,
             avg(pre_recall) < 0.9 AS retrain_fired,
             avg(post_recall) < 0.9 AS post_retrain
           FROM rec)
         SELECT r.query_id, r.pre_top1, r.post_top1, r.pre_recall,
           r.post_recall, d.pre_mean, d.post_mean, d.retrain_fired,
           d.post_retrain
         FROM rec r CROSS JOIN dec d
         ORDER BY r.query_id"""))),

    // The drift loop made OPERATIONAL — q123 proved
    // decision → retrain → recovery with the caller hand-wiring three
    // calls; this gate drives the whole lifecycle through the ONE
    // maintenance composition a cron window runs
    // (maintainIvfPqIndex: probe → decide → conditional warm retrain
    // → re-probe), twice: a drifted IVF×PQ index (the q123 planted
    // geometry, PQ layer made outcome-neutral by oversample ≥ cell
    // size so the coarse probe decides — and the oracle can replay
    // every value without the codebook arithmetic) must HEAL through
    // the single call (fired, recall 0 → 1, generation swapped), and
    // the immediate second call must be a NO-OP (not fired, epoch
    // pointer untouched, recall stays 1). The oracle replays the
    // build Lloyd, frozen append, stale probes, the sampled warm
    // refit with keep-empty coalesce, re-assignment, healed probes,
    // brute-force truth, both decisions and both epoch-change flags.
    CatalogEntry("q131_ivfpq_maintain", (s, d) => {
      val (base, drift, queries) = ivfDriftVectors(s)
      val corpus = base.unionByName(drift)
      val built = operators.Similarity.buildIvfPq(base, "vec_id",
        "embedding", nCells = 2, nSub = 2, nCentroids = 2, lloydIters = 1)
      operators.Similarity.writeIvfPqIndexBucketed(built, "q131_idx",
        numBuckets = 2)
      operators.Similarity.appendToIvfPqIndexBucketed(s, "q131_idx",
        drift, "vec_id", "embedding")
      def top1(tag: String): DataFrame = localCopy(
        operators.Similarity.searchIvfPqLive(s, "q131_idx", corpus,
            queries, "vec_id", "embedding", k = 1, nProbe = 1,
            oversample = 32)
          .filter($"rank" === 1)
          .select($"query_id", $"neighbor_id".as(tag)))
      def maintain(): DataFrame = localCopy(
        operators.Similarity.maintainIvfPqIndex(s, "q131_idx", corpus,
          "vec_id", "embedding", queries, k = 1, minRecall = 0.9,
          sample = corpus.filter($"vec_id" % 2 === 1), lloydIters = 1,
          nProbe = 1, oversample = 32, numBuckets = 2))
      ivfMaintainReport(top1, () => maintain())
    }, Some(
      // the q123 arithmetic driven through the one-call maintenance
      // window: same build/append/refit replay (the PQ layer is
      // outcome-neutral under the gate's oversample, so the coarse
      // probe + exact argmax decide every value), plus the two
      // maintenance reports — the HEAL call's decision and recovery,
      // and the NO-OP call's quiet decision with the epoch untouched
      // (epoch_changed must equal the fired flag on both calls)
      ivfMaintainOracleSql)),

    // The IVF×SQ rung of the one-call maintenance matrix — with q131
    // (IVF×PQ) and the q139-q141 windows this makes EVERY durable
    // index family cron-operable through a single composition. Same
    // planted drift geometry and replay discipline as q131; the SQ
    // int8 layer is outcome-neutral under the gate's oversample
    // (every probed cell's members reach the exact float rerank), so
    // the oracle replays coarse probe + exact argmax + both
    // maintenance decisions without the quantizer arithmetic — which
    // q60/q66 value-pin separately. The heal call must swap the A/B
    // generation (epoch_changed), the no-op call must leave the meta
    // pointer untouched.
    CatalogEntry("q145_ivfsq_maintain", (s, d) => {
      val (base, drift, queries) = ivfDriftVectors(s)
      val corpus = base.unionByName(drift)
      val built = operators.Similarity.buildIvfSq(base, "vec_id",
        "embedding", nCells = 2, lloydIters = 1)
      val grown = operators.Similarity.appendToIvfSq(built, drift,
        "vec_id", "embedding")
      operators.Similarity.writeIvfSqIndexBucketed(grown, "q145_idx",
        numBuckets = 2)
      def top1(tag: String): DataFrame = localCopy(
        operators.Similarity.searchIvfSq(
            operators.Similarity.readIvfSqIndex(s, "q145_idx"), corpus,
            queries, "vec_id", "embedding", k = 1, nProbe = 1,
            oversample = 32)
          .filter($"rank" === 1)
          .select($"query_id", $"neighbor_id".as(tag)))
      def maintain(): DataFrame = localCopy(
        operators.Similarity.maintainIvfSqIndex(s, "q145_idx", corpus,
          "vec_id", "embedding", queries, k = 1, minRecall = 0.9,
          sample = corpus.filter($"vec_id" % 2 === 1), lloydIters = 1,
          nProbe = 1, oversample = 32, numBuckets = 2))
      ivfMaintainReport(top1, () => maintain())
    }, Some(
      // q145: the q131 replay verbatim — the planted geometry and the
      // maintenance-report semantics are IDENTICAL for the IVF×SQ rung
      // (the int8 layer is outcome-neutral under the gate's oversample:
      // every probed cell's members reach the exact float rerank, so
      // coarse probe + exact argmax decide every value; the quantizer
      // arithmetic itself is value-pinned by q60/q66)
      ivfMaintainOracleSql))
  )

  /** The IVF drift fixture (q123, q131, q145): 20 base vectors on two
    * axes, then 10 drift vectors and 10 queries on a third. */
  private def ivfDriftVectors(
      s: SparkSession): (DataFrame, DataFrame, DataFrame) = {
    val base = s.range(1, 21).select($"id".as("vec_id"),
      expr("CASE WHEN id % 2 = 1 THEN array(1.0D, 0.0D, 0.0D, " +
        "0.1D * CAST((id + 1) DIV 2 AS DOUBLE)) " +
        "ELSE array(0.0D, 1.0D, 0.0D, 0.1D * CAST(id DIV 2 AS DOUBLE)) " +
        "END").as("embedding"))
    val drift = s.range(1, 11).select(($"id" + 100L).as("vec_id"),
      expr("array(0.05D, 0.0D, 1.0D, 0.1D * CAST(id AS DOUBLE))")
        .as("embedding"))
    val queries = s.range(1, 11).select(($"id" + 1000L).as("vec_id"),
      expr("array(0.0D, 0.05D, 1.0D, 0.1D * CAST(id AS DOUBLE))")
        .as("embedding"))
    (base, drift, queries)
  }

  /** The maintenance-window report of q131/q145: stale top-1, the
    * healing window, healed top-1, then a second (quiet) window, in
    * that order. */
  private def ivfMaintainReport(top1: String => DataFrame,
                                maintain: () => DataFrame): DataFrame = {
    val pre = top1("pre_top1")
    val heal = maintain()
    val post = top1("post_top1")
    val noop = maintain()
    pre.join(post, Seq("query_id"))
      .crossJoin(broadcast(heal.select(
        $"pre_mean_recall".as("pre_mean"), $"retrain_fired",
        $"post_mean_recall".as("post_mean"),
        $"epoch_changed".as("heal_epoch_changed"))))
      .crossJoin(broadcast(noop.select(
        $"retrain_fired".as("noop_fired"),
        $"post_mean_recall".as("noop_mean"),
        $"epoch_changed".as("noop_epoch_changed"))))
      .select($"query_id", $"pre_top1", $"post_top1", $"pre_mean",
        $"retrain_fired", $"post_mean", $"heal_epoch_changed",
        $"noop_fired", $"noop_mean", $"noop_epoch_changed")
      .orderBy($"query_id")
  }

  /** Brute-force cosine of the ANN recall oracles: the first 10
    * embeddings, perturbed (x * 1.001 + 0.0005), as queries against
    * every corpus vector. */
  private def bruteCosineSql: String =
    """q AS (SELECT vec_id + 10000 AS query_id,
             list_transform(v, x -> x * 1.001 + 0.0005) AS qv
           FROM c WHERE vec_id < 10),
         s AS (SELECT query_id, c.vec_id AS neighbor_id,
             list_dot_product(qv, c.v) /
               (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(c.v, c.v)))
               AS cos_raw
           FROM q CROSS JOIN c),
         r AS (SELECT query_id, neighbor_id, row_number() OVER
             (PARTITION BY query_id ORDER BY cos_raw DESC, neighbor_id) AS rank"""

  /** The cosine near-duplicate pairs of the vector dedup oracles
    * (pairs of c at cosine >= 0.9) and their transitive closure. */
  private def vectorComponentsSql: String =
    """s AS (SELECT a.vec_id a, b.vec_id b FROM c a
           JOIN c b ON a.vec_id < b.vec_id
           WHERE list_dot_product(a.v, b.v) /
             (sqrt(list_dot_product(a.v, a.v)) *
              sqrt(list_dot_product(b.v, b.v))) >= 0.9),
         edges AS (SELECT a x, b y FROM s UNION SELECT b, a FROM s),
         reach AS (
           WITH RECURSIVE r(x, y) AS (
             SELECT x, y FROM edges
             UNION
             SELECT r.x, e.y FROM r JOIN edges e ON r.y = e.x)
           SELECT x, y FROM r),"""

  /** The streamed ANN admission oracle (q120 broadcast probe, q152
    * batched durable-index search): near-copies of every third vector
    * against the accepted thirds, brute-force cosine argmax and tau
    * 0.9. */
  private def annAdmissionOracleSql: String =
    """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         acc AS (SELECT * FROM e WHERE vec_id % 3 = 0),
         cand AS (SELECT c.vec_id,
             CASE WHEN c.vec_id % 3 = 1 AND src.v IS NOT NULL
               THEN list_transform(src.v, x -> x * 1.001 + 0.0005)
               ELSE c.v END AS v
           FROM e c LEFT JOIN e src ON src.vec_id = c.vec_id - 1
           WHERE c.vec_id % 3 <> 0),
         s AS (SELECT cand.vec_id, acc.vec_id AS aid,
             list_dot_product(cand.v, acc.v) /
               (sqrt(list_dot_product(cand.v, cand.v)) *
                sqrt(list_dot_product(acc.v, acc.v))) AS cos_raw
           FROM cand CROSS JOIN acc),
         r AS (SELECT vec_id, aid, cos_raw, row_number() OVER
             (PARTITION BY vec_id ORDER BY cos_raw DESC, aid) AS rk
           FROM s)
         SELECT vec_id, cos_raw < 0.9 AS admitted,
           CASE WHEN cos_raw >= 0.9 THEN aid END AS match_id
         FROM r WHERE rk = 1
         ORDER BY vec_id"""

  /** The IVF drift replay (q131, q145) through the maintenance window:
    * per-query recalls, both window decisions and both epoch-change
    * flags. */
  private def ivfMaintainOracleSql: String =
    ivfDriftReplaySql + """
         rec AS (
           SELECT t.query_id, pr.pre_top1, po.post_top1,
             CASE WHEN pr.pre_top1 = t.true_top1 THEN 1.0 ELSE 0.0 END
               AS pre_recall,
             CASE WHEN po.post_top1 = t.true_top1 THEN 1.0 ELSE 0.0 END
               AS post_recall
           FROM truth t JOIN pre_top pr USING (query_id)
             JOIN post_top po USING (query_id)),
         dec AS (
           SELECT round(avg(pre_recall), 6)::DOUBLE AS pre_mean,
             round(avg(post_recall), 6)::DOUBLE AS post_mean,
             avg(pre_recall) < 0.9 AS retrain_fired,
             avg(pre_recall) < 0.9 AS heal_epoch_changed,
             avg(post_recall) < 0.9 AS noop_fired,
             round(avg(post_recall), 6)::DOUBLE AS noop_mean,
             avg(post_recall) < 0.9 AS noop_epoch_changed
           FROM rec)
         SELECT r.query_id, r.pre_top1, r.post_top1, d.pre_mean,
           d.retrain_fired, d.post_mean, d.heal_epoch_changed,
           d.noop_fired, d.noop_mean, d.noop_epoch_changed
         FROM rec r CROSS JOIN dec d
         ORDER BY r.query_id"""

  /** The IVF drift replay (q123, q131, q145): the planted two-axis
    * corpus, the drift batch and queries on a third axis, the build
    * seeds and Lloyd mean, frozen append assignment, stale probe/top1,
    * the id%2-sampled warm refit (keep-empty-cell coalesce),
    * re-assignment, healed probe/top1 and brute-force truth. */
  private def ivfDriftReplaySql: String =
    """WITH corpus_base AS (
           SELECT i AS vec_id,
             CASE WHEN i % 2 = 1
               THEN [1.0, 0.0, 0.0, 0.1 * ((i + 1) // 2)]
               ELSE [0.0, 1.0, 0.0, 0.1 * (i // 2)] END::DOUBLE[] AS v
           FROM range(1, 21) t(i)),
         drift AS (
           SELECT 100 + i AS vec_id,
             [0.05, 0.0, 1.0, 0.1 * i]::DOUBLE[] AS v
           FROM range(1, 11) t(i)),
         queries AS (
           SELECT 1000 + i AS query_id,
             [0.0, 0.05, 1.0, 0.1 * i]::DOUBLE[] AS qv
           FROM range(1, 11) t(i)),
         seeds AS (SELECT vec_id AS cell, v AS cvec FROM corpus_base
           WHERE vec_id <= 2),
         assign0 AS (
           """ + cosineArgmaxSql("vec_id", "cell", "", "b.v", "s.cvec",
             "corpus_base b CROSS JOIN seeds s") + """),
         cents AS (
           SELECT a.cell, [avg(b.v[1]), avg(b.v[2]), avg(b.v[3]),
             avg(b.v[4])]::DOUBLE[] AS cvec
           FROM corpus_base b JOIN assign0 a USING (vec_id)
           GROUP BY a.cell),
         corpus AS (SELECT * FROM corpus_base UNION ALL
           SELECT * FROM drift),
         pre_assign AS (
           """ + cosineArgmaxSql("vec_id", "cell", "", "c.v", "ct.cvec",
             "corpus c CROSS JOIN cents ct") + """),
         pre_probe AS (
           """ + cosineArgmaxSql("query_id", "cell", "", "q.qv", "ct.cvec",
             "queries q CROSS JOIN cents ct") + """),
         pre_top AS (
           """ + cosineArgmaxSql("query_id", "vec_id", " AS pre_top1",
             "q.qv", "c.v", """queries q JOIN pre_probe p USING (query_id)
               JOIN pre_assign a ON a.cell = p.cell
               JOIN corpus c ON c.vec_id = a.vec_id""") + """),
         sample_assign AS (
           SELECT vec_id, cell FROM pre_assign WHERE vec_id % 2 = 1),
         refit AS (
           SELECT sa.cell, [avg(c.v[1]), avg(c.v[2]), avg(c.v[3]),
             avg(c.v[4])]::DOUBLE[] AS cvec
           FROM corpus c JOIN sample_assign sa USING (vec_id)
           GROUP BY sa.cell),
         new_cents AS (
           SELECT ct.cell, coalesce(r.cvec, ct.cvec) AS cvec
           FROM cents ct LEFT JOIN refit r ON r.cell = ct.cell),
         post_assign AS (
           """ + cosineArgmaxSql("vec_id", "cell", "", "c.v", "ct.cvec",
             "corpus c CROSS JOIN new_cents ct") + """),
         post_probe AS (
           """ + cosineArgmaxSql("query_id", "cell", "", "q.qv", "ct.cvec",
             "queries q CROSS JOIN new_cents ct") + """),
         post_top AS (
           """ + cosineArgmaxSql("query_id", "vec_id", " AS post_top1",
             "q.qv", "c.v", """queries q JOIN post_probe p USING (query_id)
               JOIN post_assign a ON a.cell = p.cell
               JOIN corpus c ON c.vec_id = a.vec_id""") + """),
         truth AS (
           """ + cosineArgmaxSql("query_id", "vec_id", " AS true_top1",
             "q.qv", "c.v", "queries q CROSS JOIN corpus c") + """),"""

  /** The vector near-dup corpus (q33, q52, q70): every embedding as
    * doubles plus perturbed copies of every 7th vector (ids +1,000,000). */
  private def vectorDupCorpus(emb: DataFrame): DataFrame =
    emb.select($"vec_id", expr(
        "transform(embedding, x -> CAST(x AS DOUBLE))").as("embedding"))
      .unionByName(emb.filter($"vec_id" % 7 === 0)
        .select(($"vec_id" + 1000000L).as("vec_id"),
          perturbedEmbedding.as("embedding")))

  /** A planted-query recall gate (q60, q66, q105, q107): `topK` of the
    * planted queries over the embeddings, rank 1 only. */
  private def plantedTop1(s: SparkSession, d: String)(
      topK: (DataFrame, DataFrame) => DataFrame): DataFrame = {
    val emb = t(s, d, "embeddings")
    topK(emb, plantedQueries(emb))
      .filter($"rank" === 1)
      .select($"query_id", $"neighbor_id".as("top1"))
      .orderBy($"query_id")
  }

  /** [[plantedTop1]]'s oracle: each planted query's brute-force argmax,
    * so the approximate path's rank-1 answer must be
    * quantization-invisible. */
  private def plantedTop1Sql: String =
    """WITH c AS (SELECT vec_id, embedding::DOUBLE[] v FROM embeddings),
         """ + bruteCosineSql + """
           FROM s)
         SELECT query_id, neighbor_id AS top1 FROM r WHERE rank = 1
         ORDER BY query_id"""

  /** Each `id` row's cosine argmax: the `pick` of the best row joined
    * in `from`, by the cosine of `kv` and `ov` (alias.column), ties to
    * the lower `pick`; `as` renames the picked column. */
  private def cosineArgmaxSql(id: String, pick: String, as: String,
                              kv: String, ov: String, from: String): String = {
    val (k, o) = (kv.takeWhile(_ != '.'), ov.takeWhile(_ != '.'))
    s"""SELECT $id, $pick$as FROM (
             SELECT $k.$id, $o.$pick, row_number() OVER
               (PARTITION BY $k.$id
                ORDER BY list_dot_product($kv, $ov) /
                  (sqrt(list_dot_product($kv, $kv)) *
                   sqrt(list_dot_product($ov, $ov))) DESC,
                  $o.$pick) AS rn
             FROM $from) WHERE rn = 1"""
  }
}
