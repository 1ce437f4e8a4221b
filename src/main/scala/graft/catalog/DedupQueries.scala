package graft
package catalog

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import Fixtures._

/** Exact, near-duplicate, substring, winnowing and incremental
  * deduplication gates, with their flood and rescue variants. */
object DedupQueries {

  val entries: Seq[CatalogEntry] = Seq(

    // exact dedup: keep-first representative per identical text
    CatalogEntry("q15_dedup_exact", (s, d) => {
      t(s, d, "documents")
        .groupBy($"text")
        .agg(min($"doc_id").as("doc_id"), count(lit(1)).as("n_copies"))
        .select($"doc_id", $"n_copies")
        .orderBy($"doc_id")
    }, Some(
      """SELECT min(doc_id) AS doc_id, count(*) AS n_copies
         FROM documents GROUP BY text ORDER BY doc_id""")),

    // document fingerprint (md5 of normalized text; beyond-reference)
    CatalogEntry("q17_fingerprint", (s, d) => {
      t(s, d, "documents")
        .select($"doc_id", md5(lower($"text")).as("fp"))
        .orderBy($"doc_id")
    }, Some(
      """SELECT doc_id, md5(lower(text)) AS fp FROM documents ORDER BY doc_id""")),

    // MinHash+LSH near-dup detection (word-trigram shingle → minhash
    // → band → bucket-join → exact-Jaccard verify). Corpus = documents
    // plus perturbed copies of every 7th doc; the oracle computes the
    // TRUE exhaustive jaccard pairs in SQL, so this checks 100% recall
    // of the LSH pipeline (r=4 × 32 bands ⇒ miss probability ~4e-8 at
    // j≥0.8) plus exact verification. Word trigrams, not char 5-grams:
    // this corpus's shared vocabulary puts random-pair char-gram
    // Jaccard at 0.3-0.5, which floods any banding scheme.
    CatalogEntry("q24_minhash_neardup", (s, d) => {
      operators.Dedup.minhashNearDups(dupCorpus(t(s, d, "documents")),
          "doc_id", "text", numHashes = 128, bands = 32,
          threshold = 0.8, wordGrams = 3)
        .select($"a", $"b")
        .orderBy($"a", $"b")
    }, Some(
      "WITH " + dupCorpusToksSql + """
         sh AS (SELECT DISTINCT doc_id, array_to_string(t[i:i+2], ' ') AS s
           FROM toks, LATERAL (SELECT unnest(generate_series(1,
             greatest(len(t)-2, 1))) AS i)),
         sizes AS (SELECT doc_id, count(*) sz FROM sh GROUP BY 1),
         inter AS (SELECT a.doc_id a, b.doc_id b, count(*) i FROM sh a
           JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1,2)
         SELECT a, b FROM inter
         JOIN sizes sa ON sa.doc_id = a JOIN sizes sb ON sb.doc_id = b
         WHERE i*1.0/(sa.sz+sb.sz-i) >= 0.8 ORDER BY a, b""")),

    // SimHash near-dups vs an EXHAUSTIVE oracle: the oracle recomputes
    // every doc's simhash in SQL (possible because the gate uses the
    // engine-neutral md5-derived token hash, Dedup.md5Hash60; xxhash64
    // stays the production default) and scores ALL pairs — so this
    // checks both the banding's 100% recall (pigeonhole: hamming ≤ 3
    // pairs share ≥ 1 of 4 bands) and the packed-hash values.
    CatalogEntry("q25_simhash_neardup", (s, d) => {
      operators.Dedup.simhashNearDups(dupCorpus(t(s, d, "documents")),
          "doc_id", "text", maxHamming = 3,
          tokenHash = operators.Dedup.md5Hash60)
        .select($"a", $"b", $"hamming".cast("long").as("hamming"))
        .orderBy($"a", $"b")
    }, Some(simhashOracleSql)),

    // Hot-bucket rescue gate: 100 byte-identical copies of doc 0 are
    // planted; with maxBucket = 50 every band bucket holding the copy
    // cluster is hot, and the plain guard would DROP it — losing every
    // copy pair, so dropNearDups would keep all 100 copies. With
    // rescueHot the identical-signature collapse reroutes the cluster
    // through exact-dup star pairs (Dedup.scala minhashNearDups) and
    // bands only the representatives, so near-dup recall stays 100%
    // with the guard ON. The oracle recomputes the exhaustive
    // threshold closure (recursive CTE over true word-trigram Jaccard
    // pairs) and the survivor sets must match exactly.
    CatalogEntry("q68_hot_bucket_rescue", (s, d) => {
      val docs = t(s, d, "documents").select($"doc_id", $"text")
      val boiler = docs.filter($"doc_id" === 0L)
        .select(explode(sequence(lit(0L), lit(99L))).as("i"), $"text")
        .select(($"i" + 2000000L).as("doc_id"), $"text")
      val corpus = docs.unionByName(boiler)
      val pairs = operators.Dedup.minhashNearDups(corpus, "doc_id", "text",
        numHashes = 128, bands = 32, threshold = 0.8, wordGrams = 3,
        maxBucket = 50, rescueHot = true)
      operators.Dedup.dropNearDups(corpus, pairs, "doc_id")
        .select($"doc_id").orderBy($"doc_id")
    }, Some(
      // q68 and q71 share this oracle: the survivor closure is over TRUE
      // word-trigram Jaccard pairs, independent of whether the engine's
      // candidate generator was minhash banding or gram buckets
      floodClosureOracleSql)),

    // n-gram-path rescue gate: q68's corpus and oracle (the closure is
    // over true word-trigram Jaccard either way — only the candidate
    // generator differs), driven through ngramJaccardNearDups'
    // rescueHot: identical-TEXT collapse instead of the minhash
    // signature collapse, same survivor contract.
    CatalogEntry("q71_ngram_rescue", (s, d) => {
      val docs = t(s, d, "documents").select($"doc_id", $"text")
      val boiler = docs.filter($"doc_id" === 0L)
        .select(explode(sequence(lit(0L), lit(99L))).as("i"), $"text")
        .select(($"i" + 2000000L).as("doc_id"), $"text")
      val corpus = docs.unionByName(boiler)
      val pairs = operators.Dedup.ngramJaccardNearDups(corpus, "doc_id",
        "text", n = 3, threshold = 0.8, maxBucket = 50, rescueHot = true)
      operators.Dedup.dropNearDups(corpus, pairs, "doc_id")
        .select($"doc_id").orderBy($"doc_id")
    }, Some(floodClosureOracleSql)),

    // q71's corpus, oracle and survivor contract through the
    // hashedRescueKey (100 TB) tier: the collapse keys on a 128-bit
    // double-xxhash64 of the normalized text instead of the text
    // VALUE, so the rescue's group/join shuffles carry 16-byte keys
    // (~3× text bytes in the value-keyed form) and the text moves at
    // most once, by id, into the representative set. The shared
    // exhaustive-closure oracle pins that the decisions are unchanged.
    CatalogEntry("q93_ngram_rescue_hashed", (s, d) => {
      val docs = t(s, d, "documents").select($"doc_id", $"text")
      val boiler = docs.filter($"doc_id" === 0L)
        .select(explode(sequence(lit(0L), lit(99L))).as("i"), $"text")
        .select(($"i" + 2000000L).as("doc_id"), $"text")
      val corpus = docs.unionByName(boiler)
      val pairs = operators.Dedup.ngramJaccardNearDups(corpus, "doc_id",
        "text", n = 3, threshold = 0.8, maxBucket = 50, rescueHot = true,
        hashedRescueKey = true)
      operators.Dedup.dropNearDups(corpus, pairs, "doc_id")
        .select($"doc_id").orderBy($"doc_id")
    }, Some(floodClosureOracleSql)),

    // SimHash-path rescue gate: the engine-neutral md5 token hash lets
    // the oracle recompute every sketch in SQL (q25's machinery), and
    // the rescue's full-sketch grouping is exactly lossless — the
    // survivor closure over oracle-computed hamming ≤ 3 pairs must
    // match bit-for-bit.
    CatalogEntry("q72_simhash_rescue", (s, d) => {
      val docs = t(s, d, "documents").select($"doc_id", $"text")
      val boiler = docs.filter($"doc_id" === 0L)
        .select(explode(sequence(lit(0L), lit(99L))).as("i"), $"text")
        .select(($"i" + 2000000L).as("doc_id"), $"text")
      val corpus = docs.unionByName(boiler)
      // maxBucket 200 (the operator default): measured natural
      // rep-band buckets reach 169 at sf0.1 (template-generated docs
      // share 16-bit bands), and the gate must stay drop-free for the
      // exhaustive oracle to pin 100% recall; the flood itself never
      // reaches the banding — rescueHot collapses sketch-identical
      // docs first, which is the behavior under test
      val pairs = operators.Dedup.simhashNearDups(corpus, "doc_id", "text",
        maxHamming = 3, maxBucket = 200,
        tokenHash = operators.Dedup.md5Hash60, rescueHot = true)
      operators.Dedup.dropNearDups(corpus, pairs, "doc_id")
        .select($"doc_id").orderBy($"doc_id")
    }, Some(simhashRescueOracleSql)),

    // The PRODUCTION simhash-rescue configuration (native xxhash64
    // token hash — what a user actually runs; q72's md5 token hash
    // exists only so the oracle can recompute sketches in SQL). Same
    // flood corpus and rescue semantics as q72, benched as the
    // headline timing for the path; no SQL oracle (xxhash64 is not
    // reproducible in DuckDB), so the driver records the rows-only
    // check and correctness stays pinned by q72's md5 gate plus the
    // native/aggregate bit-parity specs. The +2000000 flood-id offset
    // (shared with the q68-q72 rescue family AND their oracles, which
    // regenerate the same corpus in SQL) assumes the gate corpus stays
    // under 2M docs — true at every driver SF; both sides shift
    // together if that ever changes.
    CatalogEntry("q76_simhash_rescue_native", (s, d) => {
      val docs = t(s, d, "documents").select($"doc_id", $"text")
      val boiler = docs.filter($"doc_id" === 0L)
        .select(explode(sequence(lit(0L), lit(99L))).as("i"), $"text")
        .select(($"i" + 2000000L).as("doc_id"), $"text")
      val corpus = docs.unionByName(boiler)
      val pairs = operators.Dedup.simhashNearDups(corpus, "doc_id", "text",
        maxHamming = 3, maxBucket = 200, rescueHot = true)
      operators.Dedup.dropNearDups(corpus, pairs, "doc_id")
        .select($"doc_id").orderBy($"doc_id")
    }, None),

    // Paragraph-level exact dedup: corpus-wide keep-first at paragraph
    // granularity. The fixture plants a banner paragraph shared across
    // the %6 and %9 docs (only the lowest (doc, pos) occurrence may
    // survive), a footer shared across the %6 docs, and a whole-body
    // self-repeat in the %8 docs (the intra-doc second occurrence must
    // drop too). The oracle recomputes first occurrences with a
    // row_number window and reassembles survivors with an ordered
    // string_agg — md5 of the rebuilt text pins reassembly order and
    // separator handling, not just counts.
    CatalogEntry("q59_paragraph_dedup", (s, d) => {
      val docs = t(s, d, "documents").select($"doc_id",
        when($"doc_id" % 6 === 0,
            concat(lit("shared banner paragraph\n\n"), $"text",
              lit("\n\nshared footer paragraph")))
          .when($"doc_id" % 9 === 0,
            concat($"text", lit("\n\nshared banner paragraph")))
          .when($"doc_id" % 8 === 0,
            concat($"text", lit("\n\n"), $"text"))
          .otherwise($"text").as("text"))
      operators.Curation.dropDuplicateParagraphs(docs, "doc_id", "text")
        .select($"doc_id", $"n_paras", $"n_kept_paras",
          md5($"clean_text".cast("binary")).as("clean_md5"))
        .orderBy($"doc_id")
    }, Some(
      """WITH d AS (SELECT doc_id,
           CASE WHEN doc_id % 6 = 0
                THEN 'shared banner paragraph' || chr(10) || chr(10) || text
                     || chr(10) || chr(10) || 'shared footer paragraph'
                WHEN doc_id % 9 = 0
                THEN text || chr(10) || chr(10) || 'shared banner paragraph'
                WHEN doc_id % 8 = 0
                THEN text || chr(10) || chr(10) || text
                ELSE text END AS text
           FROM documents),
         sp AS (SELECT doc_id, string_split(text, chr(10) || chr(10)) AS ps
           FROM d),
         p AS (SELECT doc_id, unnest(ps) AS para,
             unnest(generate_series(0, len(ps) - 1)) AS pos
           FROM sp),
         k AS (SELECT doc_id, pos, para,
             row_number() OVER (PARTITION BY para ORDER BY doc_id, pos)
               AS rn
           FROM p),
         rebuilt AS (SELECT doc_id,
             string_agg(para, chr(10) || chr(10) ORDER BY pos) AS clean_text,
             count(*) AS n_kept_paras
           FROM k WHERE rn = 1 GROUP BY 1)
         SELECT d.doc_id, len(sp.ps) AS n_paras,
           coalesce(rebuilt.n_kept_paras, 0) AS n_kept_paras,
           md5(coalesce(rebuilt.clean_text, '')) AS clean_md5
         FROM d JOIN sp USING (doc_id)
           LEFT JOIN rebuilt USING (doc_id)
         ORDER BY d.doc_id""")),

    // Production-path winnowing bench (the q76/q90 pattern): native
    // GramHashes + WinnowSelect — the configuration a real run uses;
    // q88's md5 grams exist for the oracle. Rows-only driver check;
    // selection correctness is pinned by q88 + the parity specs.
    CatalogEntry("q92_winnow_native", (s, d) => {
      operators.TextAnalysis.winnowFingerprints(t(s, d, "documents"),
          "doc_id", "text", k = 4, w = 4)
        .groupBy($"doc_id").agg(count(lit(1)).as("n_fp"))
        .orderBy($"doc_id")
    }, None),

    // Winnowing fingerprints (MOSS): md5-hashed word 4-grams, window
    // 4, rightmost-minimum selection. The oracle recomputes gram
    // hashes and replays every window's rightmost minimum with SQL
    // list functions, so a wrong tie-break side, an off-by-one in the
    // window span, or a dropped short-doc window all change the
    // selected (pos, fingerprint) rows.
    CatalogEntry("q88_winnow_fingerprints", (s, d) => {
      operators.TextAnalysis.winnowFingerprints(t(s, d, "documents"),
          "doc_id", "text", k = 4, w = 4,
          tokenHash = operators.Dedup.md5Hash60)
        .orderBy($"doc_id", $"pos")
    }, Some(
      """WITH tk AS (SELECT doc_id,
           regexp_split_to_array(trim(lower(text)), '\s+') t
         FROM documents),
         hs AS (SELECT doc_id,
             [('0x' || substring(md5(array_to_string(t[p : p + 3], ' ')),
                 1, 15))::BIGINT
               for p in generate_series(1, greatest(len(t) - 3, 1))] AS h
           FROM tk),
         sel AS (SELECT DISTINCT doc_id,
             s - 1 + list_max([i for i in generate_series(1, len(sl))
               if sl[i] = list_min(sl)]) AS pos
           FROM (SELECT doc_id, h, least(4, len(h)) AS win FROM hs) x,
             LATERAL (SELECT unnest(generate_series(1, len(h) - win + 1))
               AS s),
             LATERAL (SELECT h[s : s + win - 1] AS sl))
         SELECT sel.doc_id, sel.pos, hs.h[sel.pos] AS fingerprint
         FROM sel JOIN hs USING (doc_id)
         ORDER BY doc_id, pos""")),

    // Winnow-containment screening: benchmark items are 12-word
    // interior slices of every 13th doc (the q86 fixture), so those
    // docs must score containment > 0 through the sampled-fingerprint
    // channel; the oracle replays BOTH corpora's winnowing chains and
    // the distinct-fingerprint join in SQL.
    CatalogEntry("q89_winnow_containment", (s, d) => {
      val docs = t(s, d, "documents")
      val bench = benchSliceFixture(docs)
      operators.TextAnalysis.winnowContainment(docs, bench,
          "doc_id", "text", k = 4, w = 4,
          tokenHash = operators.Dedup.md5Hash60)
        .select($"doc_id", $"n_fp", $"n_hits",
          round($"containment", 6).as("containment"))
        .orderBy($"doc_id")
    }, Some(
      ("""WITH tk AS (SELECT doc_id,
           regexp_split_to_array(trim(lower(text)), '\s+') t,
           regexp_split_to_array(trim(text), '\s+') traw
         FROM documents),
         """ + winnowSql("tk", "doc_id", "hs", "sel") + """
         tfp AS (SELECT DISTINCT s.doc_id, hs.h[s.pos] AS fp
           FROM sel s JOIN hs USING (doc_id)),
         btk AS (SELECT doc_id, [lower(x) for x in traw[3:14]] AS t
           FROM tk WHERE doc_id % 13 = 0),
         """ + winnowSql("btk", "doc_id", "bhs", "bsel") + """
         bfp AS (SELECT DISTINCT bhs.h[s.pos] AS fp
           FROM bsel s JOIN bhs USING (doc_id)),
         agg AS (SELECT t.doc_id, count(*) AS n_fp, count(b.fp) AS n_hits
           FROM tfp t LEFT JOIN bfp b ON t.fp = b.fp GROUP BY 1)
         SELECT doc_id, n_fp, n_hits,
           round(n_hits::DOUBLE / n_fp::DOUBLE, 6) AS containment
         FROM agg ORDER BY doc_id"""))),

    // Surgical span-level decontamination: the benchmark set is a
    // 12-word interior slice of every 13th document, so each such doc
    // must lose exactly that window (plus any organic cross-doc gram
    // matches) while the rest of its text survives — the case where
    // doc-level decontamination would delete the whole document. The
    // oracle recomputes benchmark grams, the semi-join hit set, span
    // coverage and reassembly in SQL.
    CatalogEntry("q86_span_decontam", (s, d) => {
      val docs = t(s, d, "documents")
      val bench = benchSliceFixture(docs)
      operators.Curation.redactContaminatedSpans(docs, bench,
          "doc_id", "text", n = 8)
        .select($"doc_id", $"n_words", $"n_kept_words", $"n_removed_words",
          md5($"clean_text".cast("binary")).as("clean_md5"))
        .orderBy($"doc_id")
    }, Some(
      """WITH tk AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+')
             AS t FROM documents),
         bg AS (SELECT DISTINCT array_to_string(bt[p : p + 7], ' ') AS g
           FROM (SELECT t[3:14] AS bt FROM tk WHERE doc_id % 13 = 0) b,
             LATERAL (SELECT unnest(generate_series(1, len(bt) - 7)) AS p)
           WHERE len(bt) >= 8),
         tg AS (SELECT doc_id, p, array_to_string(t[p : p + 7], ' ') AS g
           FROM tk, LATERAL (SELECT unnest(generate_series(1, len(t) - 7))
             AS p)
           WHERE len(t) >= 8),
         hit AS (SELECT doc_id, p FROM tg WHERE g IN (SELECT g FROM bg)),
         """ + keptWordsSql("hit") + """
         SELECT tk.doc_id, len(tk.t) AS n_words,
           coalesce(rb.n_kept_words, 0) AS n_kept_words,
           len(tk.t) - coalesce(rb.n_kept_words, 0) AS n_removed_words,
           coalesce(rb.clean_md5, md5('')) AS clean_md5
         FROM tk LEFT JOIN rb USING (doc_id) ORDER BY doc_id""")),

    // Substring-span dedup (Lee et al. exact-substring discipline at
    // word-gram resolution): the fixture plants a shared licence
    // TAIL, a shared boilerplate HEAD, and a whole-doc SELF-repeat —
    // tail/head test cross-doc spans at both ends of documents,
    // self-repeat tests intra-doc removal where every duplicated
    // gram's first occurrence lives in the same doc. The oracle
    // recomputes the whole chain (gram tiling, global first
    // occurrence, covered-word union, reassembly) in SQL, so a wrong
    // anchor stride, an off-by-one in span coverage, or a
    // keep-position picked on the wrong side all fail the md5.
    CatalogEntry("q83_substring_dedup", (s, d) => {
      val docs = spanDedupFixture(t(s, d, "documents"))
      operators.Curation.dropDuplicateSpans(docs, "doc_id", "text", n = 8)
        .select($"doc_id", $"n_words", $"n_kept_words",
          md5($"clean_text".cast("binary")).as("clean_md5"))
        .orderBy($"doc_id")
    }, Some(substringDedupOracleSql)),

    // identical DECISION contract to q83 (same oracle): the only
    // difference is the 100 TB shuffle shape — grams keyed by the
    // 128-bit double hash instead of the gram string — so this row
    // both gates the hashed path end-to-end and benches the
    // configuration a production run would use
    CatalogEntry("q87_substring_dedup_hashed", (s, d) => {
      val docs = spanDedupFixture(t(s, d, "documents"))
      operators.Curation.dropDuplicateSpans(docs, "doc_id", "text", n = 8,
          hashGrams = true)
        .select($"doc_id", $"n_words", $"n_kept_words",
          md5($"clean_text".cast("binary")).as("clean_md5"))
        .orderBy($"doc_id")
    }, Some(
      // identical DECISION contract: the Spark side keys grams by the
      // 128-bit double hash instead of the string (the scale path)
      substringDedupOracleSql)),

    // Incremental dedup: a new batch (odd docs + perturbed copies of
    // INDEX docs + perturbed copies of BATCH docs) is admitted against
    // an index built ONCE over the even docs. The oracle recomputes
    // the full decision — index hits by exhaustive cross-Jaccard,
    // within-batch components by recursive-CTE closure, tainted-
    // component drop, min-id representative — so it catches a wrong
    // threshold, a missed chain (new₂ ~ new₁ ~ indexed), and a
    // representative picked on the wrong side.
    CatalogEntry("q56_incremental_dedup", (s, d) => {
      val docs = t(s, d, "documents").select($"doc_id", $"text")
      val batch = incrementalBatch(docs)
      val idx = operators.Dedup.buildNgramIndex(
        docs.filter($"doc_id" % 2 === 0), "doc_id", "text", n = 4)
      idx.grams.persist()
      operators.Dedup.incrementalDropNearDups(idx, batch, "text",
          threshold = 0.5)
        .select($"doc_id")
        .orderBy($"doc_id")
    }, Some(incrementalDedupOracleSql)),

    // q56's decision contract over the PERSISTED index: the gram table
    // is written as a parquet table bucketed on `gram` and re-read, so
    // the batch probe aggregates the index side with no Exchange (the
    // bucket layout pre-pays the shuffle — the 100 TB
    // build-once/search-many claim, plan-pinned in PlanSpec) and the
    // oracle proves the round-trip loses nothing: the kept set must
    // equal q56's exactly. The index build + bucketed write is
    // memoized per sfDir (like the season fixtures): that IS the
    // build-once/search-many production split — the first call
    // (Verify's only one; Bench's warm pass) pays the build, and
    // timed runs measure the per-batch PROBE a daily increment
    // actually costs.
    CatalogEntry("q74_bucketed_incremental", (s, d) => {
      val docs = t(s, d, "documents").select($"doc_id", $"text")
      val batch = incrementalBatch(docs)
      // the bucketed index table, built once per sfDir; its name
      // embeds the SANITIZED dir — not a 32-bit hash, whose collisions
      // would alias two dirs onto one table and silently serve the
      // wrong corpus's index
      val table = memo(s"q74 $d") {
        val name = "graft_q74_ngram_idx_" +
          d.replaceAll("[^A-Za-z0-9]", "_").takeRight(64)
        val built = operators.Dedup.buildNgramIndex(
          docs.filter($"doc_id" % 2 === 0), "doc_id", "text", n = 4)
        operators.Dedup.writeNgramIndexBucketed(built, name,
          numBuckets = 32)
        name
      }
      val idx = operators.Dedup.readNgramIndex(s, table, "doc_id", 4)
      operators.Dedup.incrementalDropNearDups(idx, batch, "text",
          threshold = 0.5)
        .select($"doc_id")
        .orderBy($"doc_id")
    }, Some(
      // identical DECISION contract: the only difference on the Spark
      // side is that the index is round-tripped through a bucketed
      // parquet table (build-once/search-many) before probing
      incrementalDedupOracleSql)),

    // Bloom-guarded incremental EXACT dedup: q56's daily-increment
    // setting for the exact tier. The index (even docs) carries a
    // driver-held Bloom sketch over the accepted text hashes; the
    // batch (odd docs + exact copies of INDEX docs + exact copies of
    // BATCH docs) probes it as a pure projection and only
    // Bloom-positive docs take the verification anti join — the
    // accepted corpus is never scanned for novel admissions, the
    // per-batch cost a 100 TB corpus demands. Decisions are provably
    // Bloom-independent (no false negatives; positives are verified
    // on hash AND text), and the oracle recomputes the full plain
    // decision: not-in-index AND min-id within the batch's
    // identical-text group.
    CatalogEntry("q94_bloom_incremental_exact", (s, d) => {
      val docs = t(s, d, "documents").select($"doc_id", $"text")
      val batch = docs.filter($"doc_id" % 2 === 1)
        .unionByName(docs.filter($"doc_id" % 14 === 0)
          .select(($"doc_id" + 1000000L).as("doc_id"), $"text"))
        .unionByName(docs.filter($"doc_id" % 10 === 1)
          .select(($"doc_id" + 2000000L).as("doc_id"), $"text"))
      // shards = 4 runs the gate through the SHARDED sketch tier (the
      // past-2^26-bits capacity path): decisions must be identical to
      // the plain anti-join oracle regardless of which shard's sketch
      // answers each probe. Geometry sized to the fixture (q101's
      // driver-side literal-canonicalization lesson)
      val idx = operators.Dedup.buildExactIndex(
        docs.filter($"doc_id" % 2 === 0), "text",
        expectedItems = 1L << 14, numBits = 1L << 17, shards = 4)
      operators.Dedup.incrementalDropExactDups(idx, batch, "doc_id", "text")
        .select($"doc_id").orderBy($"doc_id")
    }, Some(
      // Bloom-guarded exact tier: survivors = batch docs whose text is
      // not in the accepted (even-doc) set AND that are min-id within
      // their batch identical-text group — the Bloom on the Spark side
      // is a pure admission prefilter and must not change decisions
      """WITH idx AS (SELECT DISTINCT text FROM documents WHERE doc_id % 2 = 0),
         b AS (
           SELECT doc_id, text FROM documents WHERE doc_id % 2 = 1
           UNION ALL
           SELECT doc_id + 1000000 AS doc_id, text FROM documents
             WHERE doc_id % 14 = 0
           UNION ALL
           SELECT doc_id + 2000000 AS doc_id, text FROM documents
             WHERE doc_id % 10 = 1
         )
         SELECT b.doc_id AS doc_id
         FROM b
         JOIN (SELECT text, min(doc_id) AS keep_id FROM b GROUP BY text) f
           ON b.text = f.text AND b.doc_id = f.keep_id
         WHERE NOT EXISTS (SELECT 1 FROM idx i WHERE i.text = b.text)
         ORDER BY doc_id""")),

    // The PRODUCTION index-growth loop, gated end-to-end: build →
    // admit batch 1 → append survivors → admit batch 2, where batch 2
    // plants exact copies of batch-1 SURVIVORS (they drop only if the
    // append actually entered them into the index — a broken append
    // silently re-admits them) plus copies of base docs (still
    // dropped through the grown index) plus novel docs (still
    // admitted). The oracle re-derives both generations' decisions
    // from scratch: min-id within batch per identical-text group,
    // text not in the accepted union as of that batch. Sharded (k=4)
    // so the growth path is gated through the capacity tier too.
    CatalogEntry("q101_bloom_index_growth", (s, d) => {
      val docs = t(s, d, "documents").select($"doc_id", $"text")
      val base = docs.filter($"doc_id" % 3 === 0)
      val batch1 = docs.filter($"doc_id" % 3 === 1)
        .unionByName(docs.filter($"doc_id" % 9 === 0)
          .select(($"doc_id" + 1000000L).as("doc_id"), $"text"))
      val batch2 = docs.filter($"doc_id" % 3 === 2)
        .unionByName(docs.filter($"doc_id" % 6 === 1)
          .select(($"doc_id" + 2000000L).as("doc_id"), $"text"))
        .unionByName(docs.filter($"doc_id" % 12 === 0)
          .select(($"doc_id" + 3000000L).as("doc_id"), $"text"))
      // sketch geometry sized to the fixture (16 KiB/shard), not the
      // 1 MiB default: the plan carries each shard as a binary
      // LITERAL, and driver-side expression canonicalization over
      // megabyte literals (hashCode/equals per optimizer pass) was
      // measured dominating this gate's wall time (8 of 11 s) while
      // its Spark jobs summed 3 s — decisions are Bloom-independent,
      // so geometry only moves the fpp, never the gate
      val idx0 = operators.Dedup.buildExactIndex(base, "text",
        expectedItems = 1L << 14, numBits = 1L << 17, shards = 4)
      // the survivor set feeds THREE consumers (the append's sketch +
      // hash aggregates, batch 2's verification join through idx1, and
      // the output union) — persist it as production would, or the
      // whole batch-1 admission pipeline re-executes per consumer
      val kept1 = operators.Dedup
        .incrementalDropExactDups(idx0, batch1, "doc_id", "text")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val idx1 = operators.Dedup.appendToExactIndex(idx0, kept1, "text")
      val kept2 = operators.Dedup
        .incrementalDropExactDups(idx1, batch2, "doc_id", "text")
      kept1.select($"doc_id", lit(1L).as("batch"))
        .unionByName(kept2.select($"doc_id", lit(2L).as("batch")))
        .orderBy($"doc_id", $"batch")
    }, Some(
      // both generations' decisions re-derived from scratch: a batch doc
      // survives iff it is the min-id of its identical-text group within
      // its batch AND its text is absent from the accepted union AS OF
      // that batch (base for batch 1; base + batch-1 survivors for
      // batch 2)
      """WITH base AS (SELECT doc_id, text FROM documents WHERE doc_id % 3 = 0),
         b1 AS (
           SELECT doc_id, text FROM documents WHERE doc_id % 3 = 1
           UNION ALL
           SELECT doc_id + 1000000 AS doc_id, text FROM documents
             WHERE doc_id % 9 = 0
         ),
         k1 AS (
           SELECT b1.doc_id, b1.text FROM b1
           JOIN (SELECT text, min(doc_id) AS keep_id FROM b1 GROUP BY text) f
             ON b1.text = f.text AND b1.doc_id = f.keep_id
           WHERE NOT EXISTS (SELECT 1 FROM base i WHERE i.text = b1.text)
         ),
         acc1 AS (SELECT text FROM base UNION SELECT text FROM k1),
         b2 AS (
           SELECT doc_id, text FROM documents WHERE doc_id % 3 = 2
           UNION ALL
           SELECT doc_id + 2000000 AS doc_id, text FROM documents
             WHERE doc_id % 6 = 1
           UNION ALL
           SELECT doc_id + 3000000 AS doc_id, text FROM documents
             WHERE doc_id % 12 = 0
         ),
         k2 AS (
           SELECT b2.doc_id FROM b2
           JOIN (SELECT text, min(doc_id) AS keep_id FROM b2 GROUP BY text) f
             ON b2.text = f.text AND b2.doc_id = f.keep_id
           WHERE NOT EXISTS (SELECT 1 FROM acc1 i WHERE i.text = b2.text)
         )
         SELECT doc_id, CAST(1 AS BIGINT) AS batch FROM k1
         UNION ALL
         SELECT doc_id, CAST(2 AS BIGINT) AS batch FROM k2
         ORDER BY doc_id, batch""")),

    // n-gram Jaccard near-dups: rare-gram bucket join + exact verify,
    // vs the exhaustive word-4-gram Jaccard oracle (every qualifying
    // pair shares ≥7 grams whose buckets are ≤5 docs on this corpus,
    // so the skew guard can't cost recall)
    CatalogEntry("q29_ngram_jaccard", (s, d) => {
      operators.Dedup.ngramJaccardNearDups(dupCorpus(t(s, d, "documents")),
          "doc_id", "text", n = 4, threshold = 0.5)
        .select($"a", $"b")
        .orderBy($"a", $"b")
    }, Some(
      "WITH " + dupCorpusToksSql + """
         sh AS (SELECT DISTINCT doc_id, array_to_string(t[i:i+3], ' ') AS s
           FROM toks, LATERAL (SELECT unnest(generate_series(1,
             greatest(len(t)-3, 1))) AS i)),
         sizes AS (SELECT doc_id, count(*) sz FROM sh GROUP BY 1),
         inter AS (SELECT a.doc_id a, b.doc_id b, count(*) i FROM sh a
           JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1,2)
         SELECT a, b FROM inter
         JOIN sizes sa ON sa.doc_id = a JOIN sizes sb ON sb.doc_id = b
         WHERE i*1.0/(sa.sz+sb.sz-i) >= 0.5 ORDER BY a, b""")),

    // Dedup decisions from near-dup pairs: connected components over
    // the q29 pair graph (min-label propagation, one shuffle per
    // round) — every paired doc labeled with its component's min id.
    // The oracle recomputes the same pairs exhaustively and takes the
    // transitive closure with a recursive CTE, so this pins both the
    // component structure and the representative choice.
    CatalogEntry("q34_dedup_components", (s, d) => {
      val pairs = operators.Dedup.ngramJaccardNearDups(
        dupCorpus(t(s, d, "documents")), "doc_id", "text", n = 4, threshold = 0.5)
      operators.Dedup.connectedComponents(pairs)
        .select($"node".as("doc_id"), $"comp".as("component"))
        .orderBy($"doc_id")
    }, Some(
      ("WITH " + dupCorpusToksSql + """
         sh AS (SELECT DISTINCT doc_id, array_to_string(t[i:i+3], ' ') AS s
           FROM toks, LATERAL (SELECT unnest(generate_series(1,
             greatest(len(t)-3, 1))) AS i)),
         """ + shingleClosureSql + """
         SELECT x AS doc_id, least(x, min(y)) AS component
         FROM reach GROUP BY x ORDER BY doc_id"""))),

    // Order-sensitive rolling-hash document fingerprint (Rabin-Karp
    // fold over the token stream) vs a DuckDB list_reduce oracle. The
    // engine-neutral md5-derived token hash (Dedup.md5Hash60) makes
    // the fold value-exact across engines; xxhash64 stays the
    // production default.
    CatalogEntry("q32_rolling_fingerprint", (s, d) => {
      t(s, d, "documents")
        .select($"doc_id",
          operators.TextAnalysis.rollingFingerprint($"text",
            operators.Dedup.md5Hash60).as("fingerprint"))
        .orderBy($"doc_id")
    }, Some(
      """SELECT doc_id,
         list_reduce(
           list_prepend(0::BIGINT,
             list_transform(regexp_split_to_array(lower(trim(text)), '\s+'),
               t -> ('0x' || substring(md5(t),1,15))::BIGINT
                    % 100000000000000003)),
           (acc, h) -> (acc*31 + h) % 100000000000000003) AS fingerprint
         FROM documents ORDER BY doc_id""")),

    // Eval-set decontamination: broadcast LEFT ANTI join of the corpus
    // against a blocklist of document fingerprints (every 13th doc
    // plays the "benchmark" — its rolling fingerprint must knock the
    // doc out of the training set). Uses the engine-neutral md5 token
    // hash so the oracle recomputes both sides' fingerprints.
    CatalogEntry("q38_decontaminate", (s, d) => {
      val docs = t(s, d, "documents").select($"doc_id",
        operators.TextAnalysis.rollingFingerprint($"text",
          operators.Dedup.md5Hash60).as("fingerprint"))
      val blocklist = docs.filter($"doc_id" % 13 === 0).select($"fingerprint")
      operators.TextAnalysis.decontaminate(docs, blocklist, "fingerprint")
        .select($"doc_id", $"fingerprint")
        .orderBy($"doc_id")
    }, Some(
      """WITH fp AS (SELECT doc_id,
           list_reduce(
             list_prepend(0::BIGINT,
               list_transform(regexp_split_to_array(lower(trim(text)), '\s+'),
                 t -> ('0x' || substring(md5(t),1,15))::BIGINT
                      % 100000000000000003)),
             (acc, h) -> (acc*31 + h) % 100000000000000003) AS fingerprint
           FROM documents)
         SELECT doc_id, fingerprint FROM fp d
         WHERE NOT EXISTS (SELECT 1 FROM fp b
           WHERE b.doc_id % 13 = 0 AND b.fingerprint = d.fingerprint)
         ORDER BY doc_id""")),

    // Cross-corpus fuzzy contamination pairs: training docs vs a
    // lightly-edited benchmark set (every 13th doc + appended tokens)
    // via the two-sided gram bucket join — the lightly-EDITED
    // contamination the exact fingerprint anti-join (q38) cannot see
    // (EMBEDDED passages are q51's containment mode — symmetric
    // Jaccard misses those by construction). The oracle computes the
    // exhaustive cross-Jaccard, so the gate pins full recall of the
    // bucketed path ON THIS CORPUS — a production corpus with grams
    // hotter than maxBucket trades recall, visible only through the
    // dropped_buckets observe metric (surfaced by Verify's listener).
    CatalogEntry("q49_cross_contamination", (s, d) => {
      val docs = t(s, d, "documents").select($"doc_id", $"text")
      val bench = t(s, d, "documents").filter($"doc_id" % 13 === 0)
        .select(($"doc_id" + 1000000L).as("doc_id"),
          concat($"text", lit(" extra trailing token")).as("text"))
      operators.Dedup.crossJaccardNearDups(docs, bench, "doc_id", "text",
          n = 4, threshold = 0.5)
        .select($"a", $"b")
        .orderBy($"a", $"b")
    }, Some(
      """WITH lt AS (SELECT doc_id, lower(text) tx FROM documents),
         rt AS (SELECT doc_id + 1000000 AS doc_id,
             lower(text || ' extra trailing token') tx
           FROM documents WHERE doc_id % 13 = 0),
         ltoks AS (SELECT doc_id, regexp_split_to_array(trim(tx), '\s+') t
           FROM lt),
         rtoks AS (SELECT doc_id, regexp_split_to_array(trim(tx), '\s+') t
           FROM rt),
         lsh AS (SELECT DISTINCT doc_id, array_to_string(t[i:i+3], ' ') AS s
           FROM ltoks, LATERAL (SELECT unnest(generate_series(1,
             greatest(len(t)-3, 1))) AS i)),
         rsh AS (SELECT DISTINCT doc_id, array_to_string(t[i:i+3], ' ') AS s
           FROM rtoks, LATERAL (SELECT unnest(generate_series(1,
             greatest(len(t)-3, 1))) AS i)),
         lsz AS (SELECT doc_id, count(*) sz FROM lsh GROUP BY 1),
         rsz AS (SELECT doc_id, count(*) sz FROM rsh GROUP BY 1),
         inter AS (SELECT a.doc_id a, b.doc_id b, count(*) i FROM lsh a
           JOIN rsh b ON a.s = b.s GROUP BY 1,2)
         SELECT a, b FROM inter
         JOIN lsz ON lsz.doc_id = a JOIN rsz ON rsz.doc_id = b
         WHERE i*1.0/(lsz.sz+rsz.sz-i) >= 0.5 ORDER BY a, b""")),

    // The full curate() pipeline as ONE gate: quality filter → exact
    // dedup → near-dup components → containment decontamination →
    // hash split/shard → per-shard sequence packing, against an oracle
    // that recomputes every stage in SQL (q27's quality formula, q15's
    // keep-min dedup, q34's recursive-CTE closure, q36's md5 buckets,
    // q41's window pack). A composition bug any single-stage gate
    // can't see — the split column leaking into packing keys, the anti
    // join dropping the wrong side — breaks the final
    // (doc_id, split, shard, seq_id, seq_offset) tuple.
    CatalogEntry("q50_curate", (s, d) => {
      val docs = t(s, d, "documents").select($"doc_id", $"text")
      val bench = docs.filter($"doc_id" % 23 === 0)
        .select(($"doc_id" + 3000000L).as("doc_id"),
          concat_ws(" ", slice(split(trim($"text"), "\\s+"), 2, 20)).as("text"))
      operators.Curation.curate(dupCorpus(t(s, d, "documents")), "doc_id",
          "text", benchmark = Some(bench),
          cfg = operators.Curation.CurateConfig(
            minQuality = 0.3,
            nearDupNgram = 4, nearDupThreshold = 0.5,
            decontamNgram = 4, decontamThreshold = 0.8,
            decontamContainment = true,
            splits = Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1),
            seqLen = 2048, packShards = 8,
            hashFn = operators.Dedup.md5Hash60))
        .select($"doc_id", $"split", $"shard", $"seq_id", $"seq_offset")
        .orderBy($"doc_id")
    }, Some(
      // curate() end-to-end: every stage recomposed in SQL. Stage
      // provenance: quality = q27's formula, exact dedup = q15's
      // keep-min, near-dup closure = q34's recursive CTE, containment =
      // q51's scoring, buckets = q36's md5 hash, packing = q41's window.
      ("""WITH corpus AS (
           SELECT doc_id, text FROM documents
           UNION ALL
           SELECT doc_id + 1000000, text || ' xyzzy qbf'
           FROM documents WHERE doc_id % 7 = 0),
         qual AS (SELECT doc_id, text,
           round(
             (CASE WHEN length(text)*1.0 >= 100 AND length(text)*1.0 <= 10000
                   THEN 1.0
                   WHEN length(text)*1.0 < 100 THEN length(text)/100.0
                   ELSE 10000.0/length(text) END) * 0.4 +
             (CASE WHEN (length(text)*1.0 -
                     (len(regexp_split_to_array(trim(text), '\s+'))*1.0 - 1))
                     / greatest(len(regexp_split_to_array(trim(text), '\s+'))*1.0, 1.0)
                     >= 3
                    AND (length(text)*1.0 -
                     (len(regexp_split_to_array(trim(text), '\s+'))*1.0 - 1))
                     / greatest(len(regexp_split_to_array(trim(text), '\s+'))*1.0, 1.0)
                     <= 10
                   THEN 1.0 ELSE 0.5 END) * 0.3 +
             (CASE WHEN (length(text) - length(regexp_replace(text,
                     '[.,!?;:''"()\[\]{}-]', '', 'g')))*1.0
                     / greatest(length(text)*1.0, 1.0) <= 0.1
                   THEN 1.0 ELSE greatest(0.0, 1.0 -
                     (length(text) - length(regexp_replace(text,
                       '[.,!?;:''"()\[\]{}-]', '', 'g')))*1.0
                       / greatest(length(text)*1.0, 1.0)*2)
              END) * 0.3, 6) AS quality
           FROM corpus),
         filt AS (SELECT doc_id, text FROM qual WHERE quality >= 0.3),
         ex AS (SELECT min(doc_id) AS doc_id, text FROM filt GROUP BY text),
         toks AS (SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') t
           FROM ex),
         sh AS (SELECT DISTINCT doc_id, array_to_string(t[i:i+3], ' ') s
           FROM toks, LATERAL (SELECT unnest(generate_series(1,
             greatest(len(t)-3, 1))) AS i)),
         """ + shingleClosureSql + """,
         comp AS (SELECT x AS doc_id, least(x, min(y)) AS component
           FROM reach GROUP BY x),
         kept AS (SELECT e.doc_id, e.text FROM ex e
           LEFT JOIN comp c ON e.doc_id = c.doc_id
           WHERE c.doc_id IS NULL OR c.component = e.doc_id),
         bench AS (SELECT doc_id + 3000000 AS doc_id,
             array_to_string((regexp_split_to_array(trim(text), '\s+'))[2:21], ' ')
               AS text
           FROM documents WHERE doc_id % 23 = 0),
         btoks AS (SELECT doc_id,
             regexp_split_to_array(lower(trim(text)), '\s+') t FROM bench),
         bsh AS (SELECT DISTINCT doc_id, array_to_string(t[i:i+3], ' ') s
           FROM btoks, LATERAL (SELECT unnest(generate_series(1,
             greatest(len(t)-3, 1))) AS i)),
         bsz AS (SELECT doc_id, count(*) sz FROM bsh GROUP BY 1),
         ksh AS (SELECT sh.doc_id, sh.s FROM sh JOIN kept USING (doc_id)),
         xinter AS (SELECT k.doc_id a, b.doc_id b, count(*) i FROM ksh k
           JOIN bsh b ON k.s = b.s GROUP BY 1,2),
         hits AS (SELECT DISTINCT a FROM xinter
           JOIN bsz ON bsz.doc_id = b WHERE i*1.0/bsz.sz >= 0.8),
         clean AS (SELECT doc_id, text FROM kept
           WHERE doc_id NOT IN (SELECT a FROM hits)),
         lab AS (SELECT doc_id, text,
             ('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
               % 1000000 AS bkt,
             ('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
               % 8 AS shard
           FROM clean),
         sp AS (SELECT doc_id, shard,
             CASE WHEN bkt < 800000 THEN 'train'
                  WHEN bkt < 900000 THEN 'val' ELSE 'test' END AS split,
             len(regexp_split_to_array(trim(text), '\s+')) AS n_tokens
           FROM lab),
         pk AS (SELECT doc_id, split, shard, coalesce(sum(n_tokens) OVER
             (PARTITION BY split, shard ORDER BY doc_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT
             AS prior
           FROM sp)
         SELECT doc_id, split, shard, prior // 2048 AS seq_id,
           prior % 2048 AS seq_offset
         FROM pk ORDER BY doc_id"""))),

    // Embedded-passage decontamination: benchmark items are 20-token
    // passages lifted VERBATIM from every 17th doc — symmetric Jaccard
    // scores a short passage near zero against its 100-token source
    // (q49's mode misses embedded contamination by construction), so
    // this gate pins the containment mode (|shared grams| / |benchmark
    // grams| = 1.0 for a verbatim passage) against an exhaustive
    // cross-containment oracle: the surviving doc set must match.
    CatalogEntry("q51_containment_decontam", (s, d) => {
      val docs = t(s, d, "documents").select($"doc_id", $"text")
      val bench = docs.filter($"doc_id" % 17 === 0)
        .select(($"doc_id" + 2000000L).as("doc_id"),
          concat_ws(" ", slice(split(trim($"text"), "\\s+"), 3, 20)).as("text"))
      operators.TextAnalysis.fuzzyDecontaminate(docs, bench, "doc_id",
          "text", n = 4, threshold = 0.8, containment = true)
        .select($"doc_id")
        .orderBy($"doc_id")
    }, Some(
      """WITH lt AS (SELECT doc_id, lower(trim(text)) tx FROM documents),
         bench AS (SELECT doc_id + 2000000 AS doc_id,
             lower(trim(array_to_string(
               (regexp_split_to_array(trim(text), '\s+'))[3:22], ' '))) tx
           FROM documents WHERE doc_id % 17 = 0),
         ltoks AS (SELECT doc_id, regexp_split_to_array(tx, '\s+') t FROM lt),
         rtoks AS (SELECT doc_id, regexp_split_to_array(tx, '\s+') t FROM bench),
         lsh AS (SELECT DISTINCT doc_id, array_to_string(t[i:i+3], ' ') AS s
           FROM ltoks, LATERAL (SELECT unnest(generate_series(1,
             greatest(len(t)-3, 1))) AS i)),
         rsh AS (SELECT DISTINCT doc_id, array_to_string(t[i:i+3], ' ') AS s
           FROM rtoks, LATERAL (SELECT unnest(generate_series(1,
             greatest(len(t)-3, 1))) AS i)),
         rsz AS (SELECT doc_id, count(*) sz FROM rsh GROUP BY 1),
         inter AS (SELECT a.doc_id a, b.doc_id b, count(*) i FROM lsh a
           JOIN rsh b ON a.s = b.s GROUP BY 1,2),
         hits AS (SELECT DISTINCT a FROM inter
           JOIN rsz ON rsz.doc_id = b WHERE i*1.0/rsz.sz >= 0.8)
         SELECT doc_id FROM documents
         WHERE doc_id NOT IN (SELECT a FROM hits) ORDER BY doc_id"""))
  )

  /** q83/q87 shared fixture (ONE definition, like their shared oracle
    * SQL — the two rows claim an identical decision contract, so they
    * must gate an identical corpus): planted licence TAIL, shared
    * boilerplate HEAD, whole-doc SELF-repeat. */
  private def spanDedupFixture(docs: DataFrame): DataFrame =
    docs.select($"doc_id",
      when($"doc_id" % 5 === 0,
          concat($"text", lit(" every duplicated span longer than" +
            " eight words must survive exactly once corpus wide")))
        .when($"doc_id" % 7 === 0,
          concat(lit("this shared preamble sentence has more than" +
            " eight words of pure boilerplate "), $"text"))
        .when($"doc_id" % 11 === 0,
          concat($"text", lit(" "), $"text"))
        .otherwise($"text").as("text"))

  /** documents ∪ perturbed copies of every 7th doc (ids +1,000,000) —
    * the near-dup test corpus shared by q24/q25. */
  private def dupCorpus(docs: DataFrame): DataFrame =
    docs.select($"doc_id", $"text").unionByName(
      docs.filter(expr("doc_id % 7 = 0"))
        .select(($"doc_id" + 1000000L).as("doc_id"),
          concat($"text", lit(" xyzzy qbf")).as("text")))

  /** Shingle Jaccard closure over sh: set sizes, pair intersections,
    * pairs at Jaccard >= 0.5, and their transitive closure (reach). */
  private def shingleClosureSql: String =
    """sizes AS (SELECT doc_id, count(*) sz FROM sh GROUP BY 1),
         inter AS (SELECT a.doc_id a, b.doc_id b, count(*) i FROM sh a
           JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1,2),
         pairs AS (SELECT a, b FROM inter
           JOIN sizes sa ON sa.doc_id = a JOIN sizes sb ON sb.doc_id = b
           WHERE i*1.0/(sa.sz+sb.sz-i) >= 0.5),
         edges AS (SELECT a x, b y FROM pairs UNION SELECT b, a FROM pairs),
         reach AS (
           WITH RECURSIVE r(x, y) AS (
             SELECT x, y FROM edges
             UNION
             SELECT r.x, e.y FROM r JOIN edges e ON r.y = e.x)
           SELECT x, y FROM r)"""

  private def substringDedupOracleSql: String =
    """WITH d AS (SELECT doc_id,
           CASE WHEN doc_id % 5 = 0
                THEN text || ' every duplicated span longer than eight words must survive exactly once corpus wide'
                WHEN doc_id % 7 = 0
                THEN 'this shared preamble sentence has more than eight words of pure boilerplate ' || text
                WHEN doc_id % 11 = 0
                THEN text || ' ' || text
                ELSE text END AS text
           FROM documents),
         tk AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+')
             AS t FROM d),
         g AS (SELECT doc_id, p, array_to_string(t[p : p + 7], ' ') AS k
           FROM tk, LATERAL (SELECT unnest(generate_series(1, len(t) - 7))
             AS p)
           WHERE len(t) >= 8),
         m AS (SELECT doc_id, p,
             count(*) OVER (PARTITION BY k) AS c,
             row_number() OVER (PARTITION BY k ORDER BY doc_id, p) AS rn
           FROM g),
         del AS (SELECT doc_id, p FROM m WHERE c > 1 AND rn > 1),
         """ + keptWordsSql("del") + """
         SELECT tk.doc_id, len(tk.t) AS n_words,
           coalesce(rb.n_kept_words, 0) AS n_kept_words,
           coalesce(rb.clean_md5, md5('')) AS clean_md5
         FROM tk LEFT JOIN rb USING (doc_id) ORDER BY doc_id"""

  /** Shared q56/q74 oracle: exhaustive batch-vs-index 4-gram Jaccard
    * hits + within-batch recursive closure; survivors are untainted
    * min-id representatives. q74 runs the SAME decision over an index
    * round-tripped through a bucketed parquet table. */
  private def incrementalDedupOracleSql: String =
    """WITH olds AS (SELECT doc_id, lower(trim(text)) tx
           FROM documents WHERE doc_id % 2 = 0),
         """ + decontamBatchSql + """
         """ + shingleOverlapSql + """
         hits AS (SELECT DISTINCT hx.bid AS doc_id FROM hx
           JOIN bsz ON bsz.doc_id = hx.bid
           JOIN osz ON osz.doc_id = hx.oid
           WHERE hx.i*1.0/(bsz.sz + osz.sz - hx.i) >= 0.5),
         """ + batchComponentsSql + """
         labeled AS (SELECT b.doc_id, coalesce(comp.comp, b.doc_id) AS comp
           FROM batch b LEFT JOIN comp USING (doc_id)),
         tainted AS (SELECT DISTINCT l.comp FROM labeled l
           JOIN hits h ON l.doc_id = h.doc_id)
         SELECT l.doc_id FROM labeled l
         WHERE l.comp NOT IN (SELECT comp FROM tainted)
           AND l.comp = l.doc_id
         ORDER BY l.doc_id"""

  /** Shared q68/q71/q93 oracle: 100 planted copies of doc 0, exhaustive
    * word-trigram Jaccard pairs at 0.8, recursive closure, min-id
    * survivors. */
  private def floodClosureOracleSql: String =
    """WITH corpus AS (
         SELECT doc_id, lower(text) tx FROM documents
         UNION ALL
         SELECT 2000000 + r.range AS doc_id,
           (SELECT lower(text) FROM documents WHERE doc_id = 0) AS tx
         FROM range(0, 100) r),
       toks AS (SELECT doc_id, regexp_split_to_array(trim(tx), '\s+') t
         FROM corpus),
       sh AS (SELECT DISTINCT doc_id, array_to_string(t[i:i+2], ' ') AS s
         FROM toks, LATERAL (SELECT unnest(generate_series(1,
           greatest(len(t)-2, 1))) AS i)),
       sizes AS (SELECT doc_id, count(*) sz FROM sh GROUP BY 1),
       inter AS (SELECT a.doc_id a, b.doc_id b, count(*) i FROM sh a
         JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1,2),
       pairs AS (SELECT a, b FROM inter
         JOIN sizes sa ON sa.doc_id = a JOIN sizes sb ON sb.doc_id = b
         WHERE i*1.0/(sa.sz+sb.sz-i) >= 0.8),
       edges AS (SELECT a x, b y FROM pairs UNION SELECT b, a FROM pairs),
       reach AS (
         WITH RECURSIVE r(x, y) AS (
           SELECT x, y FROM edges
           UNION
           SELECT r.x, e.y FROM r JOIN edges e ON r.y = e.x)
         SELECT x, y FROM r),
       comp AS (SELECT x, least(x, min(y)) c FROM reach GROUP BY x)
       SELECT c.doc_id FROM corpus c
       LEFT JOIN comp ON comp.x = c.doc_id
       WHERE comp.x IS NULL OR comp.c = c.doc_id
       ORDER BY doc_id"""

  /** q72 oracle: the q25 md5-hash simhash recomputation over the
    * flood corpus, hamming ≤ 3 pairs, closure, min-id survivors. */
  private def simhashRescueOracleSql: String = {
    val votes = (0 until 64).map(b =>
      s"sum(CASE WHEN (h >> $b) & 1 = 1 THEN 1 ELSE -1 END) AS b$b")
      .mkString(", ")
    val pack = (0 until 60).map(b =>
      s"CASE WHEN b$b > 0 THEN ${1L << b} ELSE 0 END").mkString(" + ")
    s"""WITH corpus AS (
         SELECT doc_id, lower(text) tx FROM documents
         UNION ALL
         SELECT 2000000 + r.range AS doc_id,
           (SELECT lower(text) FROM documents WHERE doc_id = 0) AS tx
         FROM range(0, 100) r),
       toks AS (SELECT doc_id, unnest(regexp_split_to_array(tx, '\\s+')) AS tok
         FROM corpus),
       hs AS (SELECT doc_id, ('0x' || substring(md5(tok), 1, 15))::BIGINT AS h
         FROM toks),
       votes AS (SELECT doc_id, $votes FROM hs GROUP BY 1),
       sh AS (SELECT doc_id, $pack AS simhash FROM votes),
       pairs AS (SELECT a.doc_id a, b.doc_id b
         FROM sh a JOIN sh b ON a.doc_id < b.doc_id
         WHERE bit_count(xor(a.simhash, b.simhash)) <= 3),
       edges AS (SELECT a x, b y FROM pairs UNION SELECT b, a FROM pairs),
       reach AS (
         WITH RECURSIVE r(x, y) AS (
           SELECT x, y FROM edges
           UNION
           SELECT r.x, e.y FROM r JOIN edges e ON r.y = e.x)
         SELECT x, y FROM r),
       comp AS (SELECT x, least(x, min(y)) cm FROM reach GROUP BY x)
       SELECT c.doc_id FROM corpus c
       LEFT JOIN comp ON comp.x = c.doc_id
       WHERE comp.x IS NULL OR comp.cm = c.doc_id
       ORDER BY doc_id"""
  }

  /** q25's exhaustive DuckDB oracle, generated (64 per-bit vote sums +
    * the 60-bit packing Dedup.md5Hash60 can set). Recomputes every
    * doc's simhash from scratch and scores ALL O(n²) pairs — the gate
    * therefore asserts the banding misses nothing. */
  private def simhashOracleSql: String = {
    val votes = (0 until 64).map(b =>
      s"sum(CASE WHEN (h >> $b) & 1 = 1 THEN 1 ELSE -1 END) AS b$b")
      .mkString(", ")
    val pack = (0 until 60).map(b =>
      s"CASE WHEN b$b > 0 THEN ${1L << b} ELSE 0 END").mkString(" + ")
    s"""WITH corpus AS (
         SELECT doc_id, lower(text) tx FROM documents
         UNION ALL
         SELECT doc_id + 1000000, lower(text || ' xyzzy qbf')
         FROM documents WHERE doc_id % 7 = 0),
       toks AS (SELECT doc_id, unnest(regexp_split_to_array(tx, '\\s+')) AS tok
         FROM corpus),
       hs AS (SELECT doc_id, ('0x' || substring(md5(tok), 1, 15))::BIGINT AS h
         FROM toks),
       votes AS (SELECT doc_id, $votes FROM hs GROUP BY 1),
       sh AS (SELECT doc_id, $pack AS simhash FROM votes)
       SELECT a.doc_id AS a, b.doc_id AS b,
         CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
       FROM sh a JOIN sh b ON a.doc_id < b.doc_id
       WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
       ORDER BY a, b"""
  }

  /** The span-dedup oracles' rebuilt documents: every word covered by
    * an 8-word span of `spans` (doc_id, p) is removed, and rb holds
    * each doc's kept-word count and the md5 of its kept words. */
  private def keptWordsSql(spans: String): String =
    s"""cov AS (SELECT DISTINCT doc_id, w FROM $spans,
           LATERAL (SELECT unnest(generate_series(p, p + 7)) AS w)),
         w AS (SELECT doc_id, unnest(t) AS word,
             unnest(generate_series(1, len(t))) AS wp FROM tk),
         kept AS (SELECT w.doc_id, w.wp, w.word FROM w
           LEFT JOIN cov ON w.doc_id = cov.doc_id AND w.wp = cov.w
           WHERE cov.w IS NULL),
         rb AS (SELECT doc_id, count(*) AS n_kept_words,
             md5(string_agg(word, ' ' ORDER BY wp)) AS clean_md5
           FROM kept GROUP BY doc_id)"""

  /** [[dupCorpus]] in SQL, lowercased, and its whitespace tokens. */
  private def dupCorpusToksSql: String =
    """corpus AS (
           SELECT doc_id, lower(text) tx FROM documents
           UNION ALL
           SELECT doc_id + 1000000, lower(text || ' xyzzy qbf')
           FROM documents WHERE doc_id % 7 = 0),
         toks AS (SELECT doc_id, regexp_split_to_array(trim(tx), '\s+') t
           FROM corpus),"""
}
