package graft
package catalog

import org.apache.spark.sql.functions._

import Fixtures._

/** Text curation gates: profiles, quality rules and classifiers,
  * language models, BPE, release diffs and the text admission
  * streams. */
object TextQueries {

  val entries: Seq[CatalogEntry] = Seq(

    // text-quality stats (token/vowel counts; beyond-reference)
    CatalogEntry("q16_text_stats", (s, d) => {
      t(s, d, "documents")
        .select($"doc_id",
          length($"text").as("len"),
          (length($"text") - length(regexp_replace($"text", " ", "")) + 1).as("n_tokens"),
          (length($"text") - length(regexp_replace($"text", "[aeiou]", ""))).as("n_vowels"))
        .orderBy($"doc_id")
    }, Some(
      """SELECT doc_id, length(text) AS len,
         length(text) - length(regexp_replace(text, ' ', '', 'g')) + 1 AS n_tokens,
         length(text) - length(regexp_replace(text, '[aeiou]', '', 'g')) AS n_vowels
         FROM documents ORDER BY doc_id""")),

    // Gopher quality rules: every flag column is an int/int division
    // or regex count both engines compute identically, so the gate
    // pins RAW doubles — no rounding anywhere. The fixture doctors
    // every 5th doc into a bullet list and every 7th into an
    // ellipsis-heavy fragment so each rule actually fires somewhere.
    CatalogEntry("q57_gopher_rules", (s, d) => {
      val docs = t(s, d, "documents").select($"doc_id",
        when($"doc_id" % 5 === 0,
            concat(lit("- item one\n- item two\n- "), $"text"))
          .when($"doc_id" % 7 === 0,
            concat($"text", lit(" trailing...\nshort line...\n# # # #")))
          .when($"doc_id" % 3 === 0,
            concat(lit("the point of that note have to be read with care "),
              $"text"))
          .otherwise($"text").as("text"))
      operators.TextAnalysis.gopherQualityFlags(docs, "text", minWords = 20)
        .select($"doc_id", $"n_words", $"mean_word_len",
          $"symbol_word_ratio", $"bullet_line_ratio",
          $"ellipsis_line_ratio", $"alpha_word_ratio",
          $"req_stopword_hits", $"gopher_pass")
        .orderBy($"doc_id")
    }, Some(
      """WITH d AS (SELECT doc_id,
           CASE WHEN doc_id % 5 = 0
                THEN '- item one' || chr(10) || '- item two' || chr(10)
                     || '- ' || text
                WHEN doc_id % 7 = 0
                THEN text || ' trailing...' || chr(10) || 'short line...'
                     || chr(10) || '# # # #'
                WHEN doc_id % 3 = 0
                THEN 'the point of that note have to be read with care '
                     || text
                ELSE text END AS text
           FROM documents),
         m AS (SELECT doc_id, text,
           len(regexp_split_to_array(trim(text), '\s+')) AS n_words,
           greatest(len(regexp_split_to_array(trim(text), '\s+')), 1)::DOUBLE
             AS wd,
           len(string_split(text, chr(10)))::DOUBLE AS lines
           FROM d),
         f AS (SELECT doc_id, n_words,
           length(regexp_replace(text, '\s', '', 'g'))::DOUBLE / wd
             AS mean_word_len,
           len(regexp_extract_all(text, '#|\.\.\.|\x{2026}'))::DOUBLE / wd
             AS symbol_word_ratio,
           len(regexp_extract_all(chr(10) || text,
             '\n\s*[-*\x{2022}]'))::DOUBLE / lines AS bullet_line_ratio,
           len(regexp_extract_all(text || chr(10),
             '(\.\.\.|\x{2026})\n'))::DOUBLE / lines AS ellipsis_line_ratio,
           len(regexp_extract_all(' ' || text, '\s\S*[A-Za-z]'))::DOUBLE / wd
             AS alpha_word_ratio,
           (regexp_matches(lower(text), '\bthe\b')::INT +
            regexp_matches(lower(text), '\bbe\b')::INT +
            regexp_matches(lower(text), '\bto\b')::INT +
            regexp_matches(lower(text), '\bof\b')::INT +
            regexp_matches(lower(text), '\band\b')::INT +
            regexp_matches(lower(text), '\bthat\b')::INT +
            regexp_matches(lower(text), '\bhave\b')::INT +
            regexp_matches(lower(text), '\bwith\b')::INT)
             AS req_stopword_hits
           FROM m)
         SELECT doc_id, n_words, mean_word_len, symbol_word_ratio,
           bullet_line_ratio, ellipsis_line_ratio, alpha_word_ratio,
           req_stopword_hits,
           (n_words BETWEEN 20 AND 100000
            AND mean_word_len BETWEEN 3.0 AND 10.0
            AND symbol_word_ratio <= 0.1
            AND bullet_line_ratio <= 0.9
            AND ellipsis_line_ratio <= 0.3
            AND alpha_word_ratio >= 0.8
            AND req_stopword_hits >= 2) AS gopher_pass
         FROM f ORDER BY doc_id""")),

    // Gopher repetition rules: every fraction is a ratio of exact
    // integer counts (occurrences × lengths), so the gate pins RAW
    // doubles like q57. The fixture plants every repetition kind the
    // rules measure: every 7th doc gets duplicate lines AND duplicate
    // paragraphs (the %7 branch wins ties, same CASE order as the
    // oracle), every 5th doc a 3×-repeated 60-char prefix (hot
    // duplicate n-grams at every n); untouched docs exercise the
    // near-zero path on the natural corpus.
    CatalogEntry("q58_gopher_repetition", (s, d) => {
      val docs = t(s, d, "documents").select($"doc_id",
        when($"doc_id" % 7 === 0,
            concat(lit("alpha beta gamma\ndelta line two\nalpha beta gamma\n\n"),
              $"text", lit("\n\nalpha beta gamma\n\nalpha beta gamma")))
          .when($"doc_id" % 5 === 0,
            concat_ws(" ", substring($"text", 1, 60),
              substring($"text", 1, 60), substring($"text", 1, 60), $"text"))
          .otherwise($"text").as("text"))
      operators.TextAnalysis.gopherRepetitionFlags(docs, "doc_id", "text")
        .select($"doc_id", $"dup_line_frac", $"dup_line_char_frac",
          $"dup_para_frac", $"dup_para_char_frac",
          $"top_2gram_char_frac", $"top_3gram_char_frac",
          $"top_4gram_char_frac", $"dup_5gram_char_frac",
          $"dup_6gram_char_frac", $"dup_7gram_char_frac",
          $"dup_8gram_char_frac", $"dup_9gram_char_frac",
          $"dup_10gram_char_frac", $"repetition_pass")
        .orderBy($"doc_id")
    }, Some(
      """WITH d AS (SELECT doc_id,
           CASE WHEN doc_id % 7 = 0
                THEN 'alpha beta gamma' || chr(10) || 'delta line two'
                     || chr(10) || 'alpha beta gamma' || chr(10) || chr(10)
                     || text || chr(10) || chr(10) || 'alpha beta gamma'
                     || chr(10) || chr(10) || 'alpha beta gamma'
                WHEN doc_id % 5 = 0
                THEN substr(text,1,60) || ' ' || substr(text,1,60) || ' '
                     || substr(text,1,60) || ' ' || text
                ELSE text END AS text
           FROM documents),
         lu AS (SELECT doc_id, unnest(string_split(text, chr(10))) AS unit
           FROM d),
         pu AS (SELECT doc_id,
             unnest(string_split(text, chr(10) || chr(10))) AS unit
           FROM d),
         lcnt AS (SELECT doc_id, unit, count(*) cnt FROM lu GROUP BY 1,2),
         pcnt AS (SELECT doc_id, unit, count(*) cnt FROM pu GROUP BY 1,2),
         lstat AS (SELECT doc_id,
             (sum(cnt)-count(*))*1.0/greatest(sum(cnt),1) AS dlf,
             sum((cnt-1)*length(unit))*1.0
               /greatest(sum(cnt*length(unit)),1) AS dlcf
           FROM lcnt GROUP BY 1),
         pstat AS (SELECT doc_id,
             (sum(cnt)-count(*))*1.0/greatest(sum(cnt),1) AS dpf,
             sum((cnt-1)*length(unit))*1.0
               /greatest(sum(cnt*length(unit)),1) AS dpcf
           FROM pcnt GROUP BY 1),
         toks AS (SELECT doc_id,
             regexp_split_to_array(trim(lower(text)), '\s+') tk,
             greatest(length(text),1) AS L FROM d),
         grams AS (SELECT doc_id, n, array_to_string(tk[i:i+n-1], ' ')
               AS gram, L
           FROM (SELECT doc_id, tk, L, n,
                   unnest(generate_series(1, len(tk)-n+1)) AS i
                 FROM toks,
                   (VALUES (2),(3),(4),(5),(6),(7),(8),(9),(10)) ns(n))),
         gcnt AS (SELECT doc_id, n, gram, count(*) cnt, max(L) L
           FROM grams GROUP BY 1,2,3),
         gstat AS (SELECT doc_id, n,
             max(cnt*length(gram))*1.0/max(L) AS topf,
             sum(CASE WHEN cnt>1 THEN cnt*length(gram) ELSE 0 END)*1.0/max(L)
               AS dupf
           FROM gcnt GROUP BY 1,2),
         gp AS (SELECT doc_id,
             coalesce(max(CASE WHEN n=2 THEN topf END),0) t2,
             coalesce(max(CASE WHEN n=3 THEN topf END),0) t3,
             coalesce(max(CASE WHEN n=4 THEN topf END),0) t4,
             coalesce(max(CASE WHEN n=5 THEN dupf END),0) d5,
             coalesce(max(CASE WHEN n=6 THEN dupf END),0) d6,
             coalesce(max(CASE WHEN n=7 THEN dupf END),0) d7,
             coalesce(max(CASE WHEN n=8 THEN dupf END),0) d8,
             coalesce(max(CASE WHEN n=9 THEN dupf END),0) d9,
             coalesce(max(CASE WHEN n=10 THEN dupf END),0) d10
           FROM gstat GROUP BY 1)
         SELECT d.doc_id,
           lstat.dlf AS dup_line_frac, lstat.dlcf AS dup_line_char_frac,
           pstat.dpf AS dup_para_frac, pstat.dpcf AS dup_para_char_frac,
           gp.t2 AS top_2gram_char_frac, gp.t3 AS top_3gram_char_frac,
           gp.t4 AS top_4gram_char_frac, gp.d5 AS dup_5gram_char_frac,
           gp.d6 AS dup_6gram_char_frac, gp.d7 AS dup_7gram_char_frac,
           gp.d8 AS dup_8gram_char_frac, gp.d9 AS dup_9gram_char_frac,
           gp.d10 AS dup_10gram_char_frac,
           (lstat.dlf <= 0.30 AND pstat.dpf <= 0.30
            AND lstat.dlcf <= 0.20 AND pstat.dpcf <= 0.20
            AND gp.t2 <= 0.20 AND gp.t3 <= 0.18 AND gp.t4 <= 0.16
            AND gp.d5 <= 0.15 AND gp.d6 <= 0.14 AND gp.d7 <= 0.13
            AND gp.d8 <= 0.12 AND gp.d9 <= 0.11 AND gp.d10 <= 0.10)
             AS repetition_pass
         FROM d JOIN lstat USING (doc_id) JOIN pstat USING (doc_id)
           JOIN gp USING (doc_id)
         ORDER BY doc_id""")),

    // DSIR importance resampling (Xie et al. 2023): hashed
    // unigram+bigram log-likelihood-ratio weights vs a target corpus,
    // Gumbel-top-k selection. The fixture appends a marker phrase to
    // the target docs AND to every 31st source doc — the planted
    // source docs share target-only bigrams and must rank high — and
    // the oracle recomputes the whole chain (feature hash, smoothed
    // ratios, bucket-sorted fold, deterministic Gumbel keys) in SQL.
    // Engine-neutral md5 hash; 512 buckets keep the oracle tractable.
    CatalogEntry("q64_dsir_select", (s, d) => {
      val docs = t(s, d, "documents").select($"doc_id", $"text")
      val source = docs.select($"doc_id",
        when($"doc_id" % 31 === 0, concat($"text", lit(" zz qq zz qq")))
          .otherwise($"text").as("text"))
      val target = docs.filter($"doc_id" % 17 === 0)
        .select($"doc_id", concat($"text", lit(" zz qq zz qq")).as("text"))
      operators.Curation.dsirSelect(source, target, "doc_id", "text",
          k = 100, buckets = 512, hashFn = operators.Dedup.md5Hash60)
        .orderBy($"sel_key".desc, $"doc_id")
    }, Some(
      """WITH src AS (SELECT doc_id,
           CASE WHEN doc_id % 31 = 0 THEN text || ' zz qq zz qq'
                ELSE text END AS text
         FROM documents),
         tgt AS (SELECT doc_id, text || ' zz qq zz qq' AS text
           FROM documents WHERE doc_id % 17 = 0),
         stoks AS (SELECT doc_id,
             regexp_split_to_array(trim(lower(text)), '\s+') t FROM src),
         ttoks AS (SELECT doc_id,
             regexp_split_to_array(trim(lower(text)), '\s+') t FROM tgt),
         """ + featSql("sfeat", "stoks") + """,
         """ + featSql("tfeat", "ttoks") + """,
         sbk AS (SELECT doc_id,
             ('0x' || substring(md5(feat), 1, 15))::BIGINT % 512 AS bucket
           FROM sfeat WHERE feat <> ''),
         tbk AS (SELECT
             ('0x' || substring(md5(feat), 1, 15))::BIGINT % 512 AS bucket
           FROM tfeat WHERE feat <> ''),
         srcdoc AS (SELECT doc_id, bucket, count(*) c FROM sbk GROUP BY 1, 2),
         srcb AS (SELECT bucket, CAST(sum(c) AS BIGINT) cs
           FROM srcdoc GROUP BY 1),
         tgtb AS (SELECT bucket, count(*) ct FROM tbk GROUP BY 1),
         tot AS (SELECT (SELECT CAST(sum(cs) AS BIGINT) FROM srcb) ns,
                        (SELECT CAST(sum(ct) AS BIGINT) FROM tgtb) nt),
         ratio AS (SELECT bucket,
             ln((coalesce(ct, 0)::DOUBLE + 1.0) / (nt::DOUBLE + 512.0)) -
             ln((cs::DOUBLE + 1.0) / (ns::DOUBLE + 512.0)) AS lr
           FROM srcb LEFT JOIN tgtb USING (bucket) CROSS JOIN tot),
         terms AS (SELECT doc_id, bucket, c, c::DOUBLE * lr AS term
           FROM srcdoc JOIN ratio USING (bucket)),
         wts AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_feats,
             round(list_reduce(list(term ORDER BY bucket), (a, b) -> a + b),
               6) AS logw
           FROM terms GROUP BY 1),
         keyed AS (SELECT doc_id, n_feats, logw,
             round(logw - ln(-ln(
               ((('0x' || substring(md5(doc_id::VARCHAR || ':dsir'), 1, 15))
                  ::BIGINT % 1048576)::DOUBLE + 0.5) / 1048576.0)),
               6) AS sel_key
           FROM wts)
         SELECT doc_id, n_feats, logw, sel_key FROM keyed
         ORDER BY sel_key DESC, doc_id LIMIT 100""")),

    // Fitted-DSIR scorer gate: fit a dense ratio table on source and
    // target corpora, then score NEW documents disjoint from both —
    // including a marker-only doc hitting TARGET-ONLY buckets (the
    // full-outer ratio domain that dsirWeights' source-led join never
    // exercises) and a gibberish doc landing in NEVER-SEEN buckets
    // (the smoothed default fill), plus an empty doc that must score
    // null. The oracle rebuilds the dense table (full-outer bucket
    // domain + default lr) and refolds each new doc's bucket-sorted
    // feature list in SQL. Engine-neutral md5 hash, 512 buckets.
    CatalogEntry("q67_dsir_fitted_score", (s, d) => {
      val docs = t(s, d, "documents").select($"doc_id", $"text")
      val source = docs.filter($"doc_id" % 3 === 0)
      val target = docs.filter($"doc_id" % 17 === 0)
        .select($"doc_id", concat($"text", lit(" zz qq zz qq")).as("text"))
      def one(id: Long, text: String) =
        s.range(1).select(lit(id).as("doc_id"), lit(text).as("text"))
      val fresh = docs.filter($"doc_id" % 3 === 1 && $"doc_id" % 17 =!= 0)
        .unionByName(one(9000001L, "zz qq zz qq"))
        .unionByName(one(9000002L, "kxqv wzzyx vvqk jjxw qqzv"))
        .unionByName(one(9000003L, ""))
      val model = operators.Curation.fitDsir(source, target, "text",
        buckets = 512, hashFn = operators.Dedup.md5Hash60)
      fresh.select($"doc_id",
          operators.Curation.dsirScoreCol($"text", model,
            operators.Dedup.md5Hash60).as("raw"))
        .select($"doc_id", round($"raw", 6).as("dsir_score"))
        .orderBy($"doc_id")
    }, Some(
      """WITH src AS (SELECT doc_id, text FROM documents WHERE doc_id % 3 = 0),
         tgt AS (SELECT doc_id, text || ' zz qq zz qq' AS text
           FROM documents WHERE doc_id % 17 = 0),
         fresh AS (SELECT doc_id, text FROM documents
             WHERE doc_id % 3 = 1 AND doc_id % 17 <> 0
           UNION ALL SELECT 9000001, 'zz qq zz qq'
           UNION ALL SELECT 9000002, 'kxqv wzzyx vvqk jjxw qqzv'
           UNION ALL SELECT 9000003, ''),
         stoks AS (SELECT doc_id,
             regexp_split_to_array(trim(lower(text)), '\s+') t FROM src),
         ttoks AS (SELECT doc_id,
             regexp_split_to_array(trim(lower(text)), '\s+') t FROM tgt),
         ftoks AS (SELECT doc_id,
             regexp_split_to_array(trim(lower(text)), '\s+') t FROM fresh),
         """ + featSql("sfeat", "stoks") + """,
         """ + featSql("tfeat", "ttoks") + """,
         """ + featSql("ffeat", "ftoks") + """,
         sbk AS (SELECT
             ('0x' || substring(md5(feat), 1, 15))::BIGINT % 512 AS bucket,
             count(*) cs
           FROM sfeat WHERE feat <> '' GROUP BY 1),
         tbk AS (SELECT
             ('0x' || substring(md5(feat), 1, 15))::BIGINT % 512 AS bucket,
             count(*) ct
           FROM tfeat WHERE feat <> '' GROUP BY 1),
         tot AS (SELECT (SELECT CAST(sum(cs) AS BIGINT) FROM sbk) ns,
                        (SELECT CAST(sum(ct) AS BIGINT) FROM tbk) nt),
         ratio AS (SELECT coalesce(s.bucket, tb.bucket) AS bucket,
             ln((coalesce(tb.ct, 0)::DOUBLE + 1.0) / (nt::DOUBLE + 512.0)) -
             ln((coalesce(s.cs, 0)::DOUBLE + 1.0) / (ns::DOUBLE + 512.0)) AS lr
           FROM sbk s FULL OUTER JOIN tbk tb ON s.bucket = tb.bucket
           CROSS JOIN tot),
         fbk AS (SELECT doc_id,
             ('0x' || substring(md5(feat), 1, 15))::BIGINT % 512 AS bucket
           FROM ffeat WHERE feat <> ''),
         terms AS (SELECT doc_id, f.bucket,
             coalesce(lr, ln(1.0 / (nt::DOUBLE + 512.0)) -
                          ln(1.0 / (ns::DOUBLE + 512.0))) AS lr
           FROM fbk f LEFT JOIN ratio r ON f.bucket = r.bucket
           CROSS JOIN tot),
         scored AS (SELECT doc_id,
             round(list_reduce(list(lr ORDER BY bucket), (a, b) -> a + b),
               6) AS dsir_score
           FROM terms GROUP BY doc_id)
         SELECT f.doc_id, s.dsir_score
         FROM fresh f LEFT JOIN scored s ON f.doc_id = s.doc_id
         ORDER BY f.doc_id""")),

    // Streaming CCNet ingestion admission END-TO-END: the accepted
    // corpus (%3==0 docs) builds a SHARDED Bloom exact index over its
    // normalize→ccnetHashKey keys; the stream carries the rest, with
    // every %3==1 doc a disguised re-crawl of an accepted doc (case,
    // digits, punctuation, padding — the variation the key collapses)
    // and %3==2 docs novel. Streamed admissions across micro-batches
    // must equal the batch normalize→key→anti-join: the oracle
    // replays the full normalization chain, the key fold and the
    // membership decision. A drift anywhere — normalize stage order,
    // key classes, shard routing, Bloom verification — changes the
    // admitted set.
    CatalogEntry("q114_stream_ccnet_admission", (s, d) => {
      val fix = streamFixtures(s, d)
      val docs = t(s, d, "documents").select($"doc_id", $"text")
      val keyedAcc = operators.Curation
        .normalizeText(docs.filter($"doc_id" % 3 === 0), "text", "__norm")
        .select(operators.Curation.ccnetHashKey($"__norm").as("ccnet_key"))
      // sketch geometry sized to the fixture (the q101 lesson: plan
      // literals re-canonicalize per micro-batch trigger, ~1 s of
      // driver time per MiB) — 4 × 16 KiB covers the ≤ a-few-thousand
      // accepted keys at vanishing fpp
      val index = operators.Dedup.buildExactIndex(keyedAcc, "ccnet_key",
        expectedItems = 1L << 13, numBits = 1L << 17, shards = 4)
      // the stream-static contract re-plans the static side per
      // micro-batch — materialize the verification table once instead
      // of re-deriving normalize+distinct every trigger (the
      // bloomDedupStream scaladoc's own instruction)
      index.hashes.persist(org.apache.spark.storage.StorageLevel
        .MEMORY_AND_DISK).count()
      val sch = s.read.parquet(s"$fix/documents").schema
      val stream = s.readStream.schema(sch)
        .option("maxFilesPerTrigger", 1).parquet(s"$fix/documents")
      val admitted = streaming.StreamingParse
        .ccnetAdmissionStream(stream, "text", index)
      runStreamToTable(s, admitted, "append", "ccnet_admission")
        .select($"doc_id", md5($"ccnet_key").as("key_md5"))
        .orderBy($"doc_id")
    }, Some(
      // the stream fixture regenerated in SQL (the disguised-re-crawl
      // CASE), then the full normalize chain + CCNet key fold on BOTH
      // sides and the anti-join membership decision the stream must
      // reproduce across micro-batches
      ("""WITH src AS (
           SELECT d.doc_id,
             CASE WHEN d.doc_id % 3 = 1 AND b.text IS NOT NULL
                  THEN '  ' || upper(translate(b.text, '0123456789', '5555555555'))
                       || ' !!! '
                  ELSE d.text END AS t,
             'stream' AS side
           FROM documents d LEFT JOIN documents b ON b.doc_id = d.doc_id - 1
           WHERE d.doc_id % 3 <> 0
           UNION ALL
           SELECT doc_id, text AS t, 'acc' AS side
           FROM documents WHERE doc_id % 3 = 0),
         k AS (SELECT doc_id, side,
           trim(regexp_replace(regexp_replace(regexp_replace(lower(
             """ + normalizeTextSql + """
             ' ?\n ?', chr(10), 'g'), '^\n+|\n+$', '', 'g'))),
             '[0-9]', '0', 'g'),
             '[^\p{L}\p{N} \t\n\f\r]', '', 'g'),
             '[ \t\n\f\r]+', ' ', 'g')) AS k
           FROM src),
         akey AS (SELECT DISTINCT k FROM k WHERE side = 'acc'),
         skey AS (SELECT doc_id, k FROM k WHERE side = 'stream')
         SELECT doc_id, md5(k) AS key_md5
         FROM skey ANTI JOIN akey USING (k)
         ORDER BY doc_id"""))),

    // Streaming CCNet LM-perplexity tiering: a pruned unigram LM
    // (top-64 vocabulary — the corpus has more, so the OOV floor is
    // exercised on real tokens) and per-language score thresholds are
    // fitted BATCH-side on the calibration corpus, then every doc
    // streams through the frozen model + thresholds. The oracle
    // refits everything in SQL: the (count DESC, token) top-K vocab,
    // the unpruned total, the token-sorted per-doc fold with the
    // floor-1 OOV term, per-language quantile_cont thresholds over
    // the batch-scored corpus, and the ties-down labeling.
    CatalogEntry("q115_stream_lm_buckets", (s, d) => {
      val fix = streamFixtures(s, d)
      val docs = t(s, d, "documents").select($"doc_id", $"lang", $"text")
      val model = operators.TextAnalysis.fitUnigramLm(docs, "text",
        maxVocab = 64)
      val scored = docs.withColumn("lm_score",
        operators.TextAnalysis.unigramLmScoreCol($"text", model))
      val th = operators.TextAnalysis.scoreThresholds(scored, "lm_score",
        Seq("lang"))
      val sch = s.read.parquet(s"$fix/documents_plain").schema
      val stream = s.readStream.schema(sch)
        .option("maxFilesPerTrigger", 1).parquet(s"$fix/documents_plain")
      val labeled = streaming.StreamingParse.lmBucketStream(stream, "text",
        Seq("lang"), model, th)
      runStreamToTable(s, labeled, "append", "lm_buckets")
        .select($"doc_id", $"lang", $"lm_score", $"bucket")
        .orderBy($"doc_id")
    }, Some(
      // the pruned-LM replay: top-K vocab by (count DESC, token), the
      // UNPRUNED total, per-position floor-1 OOV terms folded
      // token-sorted, then q100's threshold + labeling machinery over
      // the batch-scored corpus
      """WITH toks AS (SELECT doc_id,
             unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS tok
           FROM documents),
         nz AS (SELECT doc_id, tok FROM toks WHERE tok <> ''),
         c AS (SELECT tok, count(*) c FROM nz GROUP BY 1),
         t AS (SELECT CAST(sum(c) AS BIGINT) T FROM c),
         vocab AS (SELECT tok, c FROM c ORDER BY c DESC, tok LIMIT 64),
         terms AS (SELECT nz.doc_id, nz.tok,
             ln(CAST(COALESCE(v.c, 1) AS DOUBLE) / (T::DOUBLE)) AS term
           FROM nz LEFT JOIN vocab v USING (tok) CROSS JOIN t),
         s AS (SELECT doc_id,
             round(list_reduce(list(term ORDER BY tok), (a, b) -> a + b)
               / CAST(count(*) AS DOUBLE), 6) AS lm_score
           FROM terms GROUP BY 1),
         sl AS (SELECT d.doc_id, d.lang, s.lm_score
           FROM documents d LEFT JOIN s USING (doc_id)),
         th AS (SELECT lang,
             quantile_cont(lm_score, CAST(1 AS DOUBLE)/3) AS q0,
             quantile_cont(lm_score, CAST(2 AS DOUBLE)/3) AS q1
           FROM sl GROUP BY 1)
         SELECT sl.doc_id, sl.lang, sl.lm_score,
           CASE WHEN sl.lm_score IS NULL THEN NULL
                WHEN sl.lm_score <= th.q0 THEN 'tail'
                WHEN sl.lm_score <= th.q1 THEN 'middle'
                ELSE 'head' END AS bucket
         FROM sl JOIN th ON sl.lang IS NOT DISTINCT FROM th.lang
         ORDER BY sl.doc_id""")),

    // Streaming CCNet tiering at the TRIGRAM rung (the production
    // model shape: table-backed counts through broadcast stream-
    // static joins, not a map literal): the trigram LM and the
    // per-language thresholds are fitted batch-side on the
    // calibration corpus, then every doc streams through the frozen
    // model — gram joins before the one aggregation, thresholds as a
    // literal projection after it (joins after a streaming
    // aggregation are forbidden). The oracle refits EVERYTHING in
    // SQL: pruned trigram counts over unpruned contexts (q113's
    // discipline), the per-position (w1,w2,w3)-sorted fold,
    // per-language quantile_cont thresholds over the batch-scored
    // corpus, and the ties-down labeling.
    CatalogEntry("q117_stream_trigram_buckets", (s, d) => {
      val fix = streamFixtures(s, d)
      val docs = t(s, d, "documents").select($"doc_id", $"lang", $"text")
      // fit once per (corpus, JVM), serve from durable tables after:
      // the gate times the SCORER, not a per-run corpus refit (the
      // r12 cold-start attribution — the fit's trigram aggregates
      // were 2× the steady-state gate). The prefix keys on the sf
      // dir so a stale model can never score another scale's corpus.
      val lmPrefix = "q117_lm_" + java.security.MessageDigest
        .getInstance("MD5").digest(d.getBytes("UTF-8"))
        .take(4).map(b => f"$b%02x").mkString
      if (!s.catalog.tableExists(s"${lmPrefix}_meta"))
        operators.TextAnalysis.writeTrigramLm(
          operators.TextAnalysis.fitTrigramLm(docs, "text"), lmPrefix)
      val model = operators.TextAnalysis.readTrigramLm(s, lmPrefix)
      val scoredBatch = operators.TextAnalysis.trigramLmScore(docs,
        "doc_id", "text", model, carryCols = Seq("lang"))
      val th = operators.TextAnalysis.scoreThresholds(scoredBatch,
        "lm3_score", Seq("lang"))
      val sch = s.read.parquet(s"$fix/documents_plain").schema
      val stream = s.readStream.schema(sch)
        .option("maxFilesPerTrigger", 1).parquet(s"$fix/documents_plain")
      val labeled = streaming.StreamingParse.trigramBucketStream(stream,
        "doc_id", "text", Seq("lang"), model, th)
      runStreamToTable(s, labeled, "complete", "trigram_buckets")
        .select($"doc_id", $"lang", $"lm3_score", $"bucket")
        .orderBy($"doc_id")
    }, Some(
      // the full trigram refit (q113's count structure) at per-POSITION
      // fold granularity, then the q115 bucket shape on top: per-lang
      // quantile_cont thresholds over the batch-scored corpus and the
      // ties-down labeling the stream must reproduce
      (trigramTokensSql + """
         c3all AS (SELECT w1, w2, w3, count(*) c3 FROM tg GROUP BY 1, 2, 3),
         """ + trigramBackoffCountsSql + """
         terms AS (SELECT doc_id, w1, w2, w3,
             ln(0.75::DOUBLE * (COALESCE(c3, 0)::DOUBLE / (c12::DOUBLE)) +
                0.25::DOUBLE * (0.75::DOUBLE * ((cb::DOUBLE) / (cw::DOUBLE)) +
                                0.25::DOUBLE * ((cu::DOUBLE) / (T::DOUBLE))))
               AS term
           FROM tg JOIN c12 USING (w1, w2)
             LEFT JOIN c3 USING (w1, w2, w3)
             JOIN cb USING (w2, w3) JOIN cw USING (w2)
             JOIN uni USING (w3) CROSS JOIN tot),
         s AS (SELECT doc_id,
             round(list_reduce(list(term ORDER BY w1, w2, w3),
               (a, b) -> a + b) / CAST(count(*) AS DOUBLE), 6) AS lm3_score
           FROM terms GROUP BY 1),
         sl AS (SELECT d.doc_id, d.lang, s.lm3_score
           FROM documents d JOIN s USING (doc_id)),
         th AS (SELECT lang,
             quantile_cont(lm3_score, CAST(1 AS DOUBLE)/3) AS q0,
             quantile_cont(lm3_score, CAST(2 AS DOUBLE)/3) AS q1
           FROM sl GROUP BY 1)
         SELECT sl.doc_id, sl.lang, sl.lm3_score,
           CASE WHEN sl.lm3_score IS NULL THEN NULL
                WHEN sl.lm3_score <= th.q0 THEN 'tail'
                WHEN sl.lm3_score <= th.q1 THEN 'middle'
                ELSE 'head' END AS bucket
         FROM sl JOIN th ON sl.lang IS NOT DISTINCT FROM th.lang
         ORDER BY sl.doc_id"""))),

    // Split-leakage audit: the corpus carries its own split labels;
    // planted val-side near-copies of train docs must surface as
    // leaking pairs, the disjoint test-side docs must not. The oracle
    // recomputes the exhaustive cross-partition Jaccard.
    CatalogEntry("q63_split_leakage", (s, d) => {
      val base = t(s, d, "documents")
        .select($"doc_id", $"text", lit("train").as("split"))
      val leaks = t(s, d, "documents").filter($"doc_id" % 11 === 0)
        .select(($"doc_id" + 3000000L).as("doc_id"),
          concat($"text", lit(" shifted tail words")).as("text"),
          lit("val").as("split"))
      val clean = t(s, d, "documents").filter($"doc_id" < 8)
        .select(($"doc_id" + 4000000L).as("doc_id"),
          concat(lit("qq"), $"doc_id".cast("string"),
            lit(" ww ee rr tt yy uu")).as("text"),
          lit("test").as("split"))
      val df = base.unionByName(leaks).unionByName(clean)
      operators.TextAnalysis.auditSplitLeakage(df, "doc_id", "text",
          "split", n = 4, threshold = 0.5)
        .orderBy($"eval_id", $"train_id")
    }, Some(
      """WITH train AS (SELECT doc_id, lower(trim(text)) tx FROM documents),
         ev AS (SELECT doc_id + 3000000 AS doc_id, 'val' AS sp,
             lower(trim(text || ' shifted tail words')) tx
           FROM documents WHERE doc_id % 11 = 0
           UNION ALL
           SELECT doc_id + 4000000, 'test',
             lower('qq' || doc_id || ' ww ee rr tt yy uu')
           FROM documents WHERE doc_id < 8),
         tl AS (SELECT doc_id, regexp_split_to_array(trim(tx), '\s+') t
           FROM train),
         tr AS (SELECT doc_id, sp, regexp_split_to_array(trim(tx), '\s+') t
           FROM ev),
         shl AS (SELECT DISTINCT doc_id, array_to_string(t[i:i+3], ' ') s
           FROM tl, LATERAL (SELECT unnest(generate_series(1,
             greatest(len(t)-3, 1))) AS i)),
         shr AS (SELECT DISTINCT doc_id, array_to_string(t[i:i+3], ' ') s
           FROM tr, LATERAL (SELECT unnest(generate_series(1,
             greatest(len(t)-3, 1))) AS i)),
         szl AS (SELECT doc_id, count(*) sz FROM shl GROUP BY 1),
         szr AS (SELECT doc_id, count(*) sz FROM shr GROUP BY 1),
         inter AS (SELECT l.doc_id a, r.doc_id b, count(*) i
           FROM shl l JOIN shr r ON l.s = r.s GROUP BY 1, 2),
         sc AS (SELECT a, b, i*1.0/(szl.sz + szr.sz - i) AS score
           FROM inter JOIN szl ON szl.doc_id = a JOIN szr ON szr.doc_id = b)
         SELECT b AS eval_id, ev.sp AS eval_split, a AS train_id,
           round(score, 6) AS score
         FROM sc JOIN ev ON ev.doc_id = b
         WHERE score >= 0.5 ORDER BY eval_id, train_id""")),

    // Contamination report: per benchmark doc, worst-case containment
    // against the corpus + hit counts. The fixture mixes truly
    // contaminated benchmark items (every 13th doc + trailing tokens,
    // containment ≈ 1) with synthetic zero-overlap items that share no
    // 4-gram with the corpus — the report must carry those as explicit
    // (0.0, null, 0, 0) rows, not drop them. The oracle recomputes the
    // exhaustive pair scores and the (score DESC, id DESC) argmax.
    CatalogEntry("q62_contamination_report", (s, d) => {
      val docs = t(s, d, "documents").select($"doc_id", $"text")
      val bench = docs.filter($"doc_id" % 13 === 0)
        .select(($"doc_id" + 1000000L).as("doc_id"),
          concat($"text", lit(" extra trailing token")).as("text"))
        .unionByName(docs.filter($"doc_id" < 5)
          .select(($"doc_id" + 2000000L).as("doc_id"),
            concat(lit("zz"), $"doc_id".cast("string"),
              lit(" yy qq ww ee rr tt")).as("text")))
      operators.TextAnalysis.contaminationReport(docs, bench, "doc_id",
          "text", n = 4, threshold = 0.5)
        .orderBy($"bench_id")
    }, Some(
      """WITH corpus AS (SELECT doc_id, lower(trim(text)) tx FROM documents),
         bench AS (SELECT doc_id + 1000000 AS doc_id,
             lower(trim(text || ' extra trailing token')) tx
           FROM documents WHERE doc_id % 13 = 0
           UNION ALL
           SELECT doc_id + 2000000,
             lower('zz' || doc_id || ' yy qq ww ee rr tt')
           FROM documents WHERE doc_id < 5),
         tl AS (SELECT doc_id, regexp_split_to_array(trim(tx), '\s+') t
           FROM corpus),
         tr AS (SELECT doc_id, regexp_split_to_array(trim(tx), '\s+') t
           FROM bench),
         shl AS (SELECT DISTINCT doc_id, array_to_string(t[i:i+3], ' ') s
           FROM tl, LATERAL (SELECT unnest(generate_series(1,
             greatest(len(t)-3, 1))) AS i)),
         shr AS (SELECT DISTINCT doc_id, array_to_string(t[i:i+3], ' ') s
           FROM tr, LATERAL (SELECT unnest(generate_series(1,
             greatest(len(t)-3, 1))) AS i)),
         szr AS (SELECT doc_id, count(*) sz FROM shr GROUP BY 1),
         inter AS (SELECT l.doc_id a, r.doc_id b, count(*) i
           FROM shl l JOIN shr r ON l.s = r.s GROUP BY 1, 2),
         sc AS (SELECT a, b, i*1.0/sz AS score FROM inter
           JOIN szr ON szr.doc_id = b),
         rep AS (SELECT b, max(score) ms, count(*) nc,
             sum(CASE WHEN score >= 0.5 THEN 1 ELSE 0 END) nh
           FROM sc GROUP BY 1),
         top AS (SELECT b, a FROM (SELECT b, a, row_number() OVER
             (PARTITION BY b ORDER BY score DESC, a DESC) rn FROM sc)
           WHERE rn = 1)
         SELECT bench.doc_id AS bench_id,
           round(coalesce(rep.ms, 0), 6) AS max_score,
           top.a AS top_match,
           CAST(coalesce(rep.nh, 0) AS BIGINT) AS n_hits,
           CAST(coalesce(rep.nc, 0) AS BIGINT) AS n_candidates
         FROM bench LEFT JOIN rep ON rep.b = bench.doc_id
           LEFT JOIN top ON top.b = bench.doc_id
         ORDER BY bench_id""")),

    // Unigram LM score: the per-doc fold runs over the token-SORTED
    // term list on both sides (floating-point addition is order-
    // sensitive; an unordered SUM would be engine-dependent in the
    // last ulps), ln is correctly rounded in both engines, so the
    // mean log-probability matches to the rounded 6 decimals.
    CatalogEntry("q61_unigram_logprob", (s, d) => {
      val docs = t(s, d, "documents").select($"doc_id", $"text")
      operators.TextAnalysis.unigramLogProb(docs, "doc_id", "text")
        .orderBy($"doc_id")
    }, Some(
      unigramTermsSql + """
         SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n_tokens,
           round(list_reduce(list(term ORDER BY tok), (a, b) -> a + b)
             / CAST(sum(tf) AS DOUBLE), 6) AS logprob_per_token
         FROM terms GROUP BY 1 ORDER BY doc_id""")),

    // BPE application (Sennrich et al. 2016 inference rule): a fixed
    // three-merge list replays over every distinct corpus word —
    // char split + </w> marker, then e+</w>, t+h, th+e</w> in order,
    // so "the" collapses to ONE piece while "theme"/"thee" show the
    // left-to-right non-overlapping fold at every boundary case. The
    // oracle unrolls the same three folds as list_reduce stages;
    // md5 of the chr(1)-joined pieces pins every piece BOUNDARY, not
    // just the counts. (Merge LEARNING is data-derived state a SQL
    // oracle cannot replay — the fit loop is spec-pinned on the
    // Sennrich corpus and benched rows-only by q111.)
    CatalogEntry("q110_bpe_encode", (s, d) => {
      val docs = t(s, d, "documents").select($"text")
      val words = docs.select(
          explode(split(lower(trim($"text")), "\\s+")).as("w"))
        .filter($"w" =!= "").distinct()
      val merges = Seq(("e", "</w>"), ("t", "h"), ("th", "e</w>"))
      operators.Bpe.encodeWords(words, "w", merges)
        .select($"w", size($"pieces").cast("long").as("n_pieces"),
          md5(concat_ws("\u0001", $"pieces")).as("pieces_md5"))
        .orderBy($"w")
    }, Some(
      // char split + </w>, then the three merge folds unrolled as
      // list_reduce stages (seed = first symbol's singleton list, each
      // further element either glues onto the accumulator tail or
      // appends — the left-to-right non-overlapping BPE rule)
      """WITH words AS (SELECT DISTINCT w FROM (
           SELECT unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS w
           FROM documents) WHERE w <> ''),
         s0 AS (SELECT w,
           [[c] for c in
            [substring(w, i, 1) for i in generate_series(1, length(w))]
            || ['</w>']] AS s
         FROM words),
         m1 AS (SELECT w, list_reduce(s, (acc, x) ->
           CASE WHEN acc[len(acc)] = 'e' AND x[1] = '</w>'
                THEN list_slice(acc, 1, len(acc) - 1) || ['e</w>']
                ELSE acc || x END) AS p FROM s0),
         m2 AS (SELECT w, list_reduce([[c] for c in p], (acc, x) ->
           CASE WHEN acc[len(acc)] = 't' AND x[1] = 'h'
                THEN list_slice(acc, 1, len(acc) - 1) || ['th']
                ELSE acc || x END) AS p FROM m1),
         m3 AS (SELECT w, list_reduce([[c] for c in p], (acc, x) ->
           CASE WHEN acc[len(acc)] = 'th' AND x[1] = 'e</w>'
                THEN list_slice(acc, 1, len(acc) - 1) || ['the</w>']
                ELSE acc || x END) AS p FROM m2)
         SELECT w, len(p) AS n_pieces,
           md5(array_to_string(p, chr(1))) AS pieces_md5
         FROM m3 ORDER BY w""")),

    // BPE vocabulary induction end-to-end (rows-only production
    // bench, the q76/q90/q92 discipline): fit 16 merges on the
    // corpus's distinct-word table through the BATCHED production
    // tier (provably identical merges to the sequential fit —
    // equivalence spec-pinned AND value-gated at q112), then count
    // per-doc BPE pieces through the fitted word join.
    CatalogEntry("q111_bpe_fit_tokens", (s, d) => {
      val docs = t(s, d, "documents").select($"doc_id", $"text")
      val vocab = operators.Bpe.fitBatched(docs, "text", numMerges = 16)
      val out = operators.Bpe.tokenCount(docs, "doc_id", "text", vocab)
        .orderBy($"doc_id")
      out
    }, None),

    // BPE merge LEARNING value-gated (upgrades q111's rows-only
    // check): three batched-fit merges on the corpus, and the oracle
    // REDISCOVERS each argmax pair itself — per round it recounts
    // weighted pair frequencies over the word table, takes the
    // (count DESC, a, b) argmax with the ≥2 floor, and replays the
    // fold — then md5-pins every piece boundary of the final word
    // table. A wrong pair count, tie-break, min-count floor, batch
    // trim, or fold order all change the learned merges and break
    // the hash. (Runs the batched tier, whose ≡-to-sequential claim
    // is additionally spec-pinned on adversarial corpora.)
    CatalogEntry("q112_bpe_fit_replay", (s, d) => {
      val docs = t(s, d, "documents").select($"text")
      val vocab = operators.Bpe.fitBatched(docs, "text", numMerges = 3)
      vocab.wordPieces
        .select($"w", $"n", size($"s").cast("long").as("n_pieces"),
          md5(concat_ws("\u0001", $"s")).as("pieces_md5"))
        .orderBy($"w")
    }, Some(
      // the fit LOOP replayed from scratch: per round the oracle
      // recounts weighted pair frequencies (weight = word count,
      // overlapping positions per occurrence), takes the
      // (count DESC, a, b) argmax with the ≥2 floor itself, and folds
      // that data-derived pair through the word table — three rounds,
      // then md5 of every word's final piece boundaries
      """WITH words AS (SELECT w, count(*) AS n FROM (
           SELECT unnest(regexp_split_to_array(trim(lower(text)), '\s+'))
             AS w
           FROM documents) WHERE w <> '' GROUP BY w),
         s0 AS (SELECT w, n,
           [substring(w, i, 1) for i in generate_series(1, length(w))]
             || ['</w>'] AS p
         FROM words),
         c1 AS (SELECT pr.a AS a, pr.b AS b, sum(n) AS c FROM (
             SELECT n, unnest([{'a': p[i], 'b': p[i + 1]}
               for i in generate_series(1, len(p) - 1)]) AS pr
             FROM s0 WHERE len(p) >= 2) GROUP BY 1, 2 HAVING sum(n) >= 2),
         t1 AS (SELECT a, b FROM c1 ORDER BY c DESC, a, b LIMIT 1),
         m1 AS (SELECT w, n, list_reduce([[c] for c in p], (acc, x) ->
             CASE WHEN acc[len(acc)] = t1.a AND x[1] = t1.b
                  THEN list_slice(acc, 1, len(acc) - 1) || [t1.a || t1.b]
                  ELSE acc || x END) AS p
           FROM s0 CROSS JOIN t1),
         c2 AS (SELECT pr.a AS a, pr.b AS b, sum(n) AS c FROM (
             SELECT n, unnest([{'a': p[i], 'b': p[i + 1]}
               for i in generate_series(1, len(p) - 1)]) AS pr
             FROM m1 WHERE len(p) >= 2) GROUP BY 1, 2 HAVING sum(n) >= 2),
         t2 AS (SELECT a, b FROM c2 ORDER BY c DESC, a, b LIMIT 1),
         m2 AS (SELECT w, n, list_reduce([[c] for c in p], (acc, x) ->
             CASE WHEN acc[len(acc)] = t2.a AND x[1] = t2.b
                  THEN list_slice(acc, 1, len(acc) - 1) || [t2.a || t2.b]
                  ELSE acc || x END) AS p
           FROM m1 CROSS JOIN t2),
         c3 AS (SELECT pr.a AS a, pr.b AS b, sum(n) AS c FROM (
             SELECT n, unnest([{'a': p[i], 'b': p[i + 1]}
               for i in generate_series(1, len(p) - 1)]) AS pr
             FROM m2 WHERE len(p) >= 2) GROUP BY 1, 2 HAVING sum(n) >= 2),
         t3 AS (SELECT a, b FROM c3 ORDER BY c DESC, a, b LIMIT 1),
         m3 AS (SELECT w, n, list_reduce([[c] for c in p], (acc, x) ->
             CASE WHEN acc[len(acc)] = t3.a AND x[1] = t3.b
                  THEN list_slice(acc, 1, len(acc) - 1) || [t3.a || t3.b]
                  ELSE acc || x END) AS p
           FROM m2 CROSS JOIN t3)
         SELECT w, n, len(p) AS n_pieces,
           md5(array_to_string(p, chr(1))) AS pieces_md5
         FROM m3 ORDER BY w""")),

    // Bigram LM score with Jelinek-Mercer unigram backoff — q61's
    // fold discipline one n-gram up (order-sensitive fluency signal,
    // the step toward CCNet's KenLM perplexity): terms fold
    // bigram-sorted on both sides, the smoothing expression shares
    // one operation order, λ = 0.75 keeps both mixture weights exact
    // binary so the oracle's literals are bit-identical.
    CatalogEntry("q109_bigram_logprob", (s, d) => {
      val docs = t(s, d, "documents").select($"doc_id", $"text")
      operators.TextAnalysis.bigramLogProb(docs, "doc_id", "text")
        .orderBy($"doc_id")
    }, Some(
      // the full bigram chain: pair extraction, corpus counts, context
      // totals, unigram backoff, the exact-binary 0.75/0.25 mixture,
      // and the bigram-sorted fold
      """WITH toks AS (SELECT doc_id,
           [t for t in regexp_split_to_array(trim(lower(text)), '\s+')
            if t <> ''] AS tk
         FROM documents),
         bg0 AS (SELECT doc_id,
           unnest([{'w1': tk[i], 'w2': tk[i + 1]}
                   for i in generate_series(1, len(tk) - 1)]) AS b
           FROM toks WHERE len(tk) >= 2),
         bg AS (SELECT doc_id, b.w1 AS w1, b.w2 AS w2 FROM bg0),
         tf AS (SELECT doc_id, w1, w2, count(*) tf FROM bg GROUP BY 1, 2, 3),
         cb AS (SELECT w1, w2, CAST(sum(tf) AS BIGINT) cb FROM tf GROUP BY 1, 2),
         cw AS (SELECT w1, CAST(sum(cb) AS BIGINT) cw FROM cb GROUP BY 1),
         uni AS (SELECT t AS w2, count(*) cu
           FROM (SELECT unnest(tk) AS t FROM toks) GROUP BY 1),
         tot AS (SELECT CAST(sum(cu) AS BIGINT) T FROM uni),
         terms AS (SELECT doc_id, w1, w2, tf,
             tf * ln(0.75::DOUBLE * ((cb::DOUBLE) / (cw::DOUBLE)) +
                     0.25::DOUBLE * ((cu::DOUBLE) / (T::DOUBLE))) AS term
           FROM tf JOIN cb USING (w1, w2) JOIN cw USING (w1)
             JOIN uni USING (w2) CROSS JOIN tot)
         SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n_bigrams,
           round(list_reduce(list(term ORDER BY w1, w2), (a, b) -> a + b)
             / CAST(sum(tf) AS DOUBLE), 6) AS logprob_per_bigram
         FROM terms GROUP BY 1 ORDER BY doc_id""")),

    // Trigram LM with recursive JM backoff and SINGLETON-PRUNED
    // trigram counts (the Stupid-Backoff/KenLM table trick) — q109
    // one n-gram up. The oracle recomputes every tier: pruned c3
    // (≥2 floor) against UNPRUNED c12 contexts, the full bigram
    // backoff, unigram floor, the exact-binary nested 0.75/0.25
    // mixture in the same operation order, and the trigram-sorted
    // fold — a wrong pruning side (contexts pruned too → silent
    // renormalization), a dropped backoff tier, or a fold-order
    // drift all break the hash.
    CatalogEntry("q113_trigram_logprob", (s, d) => {
      val docs = t(s, d, "documents").select($"doc_id", $"text")
      operators.TextAnalysis.trigramLogProb(docs, "doc_id", "text")
        .orderBy($"doc_id")
    }, Some(
      // the trigram chain: position extraction, pruned c3 vs unpruned
      // c12 contexts, the full bigram backoff tier, unigram floor, the
      // nested exact-binary mixture and the trigram-sorted fold
      (trigramTokensSql + """
         tf AS (SELECT doc_id, w1, w2, w3, count(*) tf FROM tg
           GROUP BY 1, 2, 3, 4),
         c3all AS (SELECT w1, w2, w3, CAST(sum(tf) AS BIGINT) c3 FROM tf
           GROUP BY 1, 2, 3),
         """ + trigramBackoffCountsSql + """
         terms AS (SELECT doc_id, w1, w2, w3, tf,
             tf * ln(0.75::DOUBLE * (COALESCE(c3, 0)::DOUBLE / (c12::DOUBLE)) +
                     0.25::DOUBLE * (0.75::DOUBLE * ((cb::DOUBLE) / (cw::DOUBLE)) +
                                     0.25::DOUBLE * ((cu::DOUBLE) / (T::DOUBLE))))
               AS term
           FROM tf JOIN c12 USING (w1, w2)
             LEFT JOIN c3 USING (w1, w2, w3)
             JOIN cb USING (w2, w3) JOIN cw USING (w2)
             JOIN uni USING (w3) CROSS JOIN tot)
         SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n_trigrams,
           round(list_reduce(list(term ORDER BY w1, w2, w3), (a, b) -> a + b)
             / CAST(sum(tf) AS DOUBLE), 6) AS logprob_per_trigram
         FROM terms GROUP BY 1 ORDER BY doc_id"""))),

    // Corpus datasheet: corpus-level release metrics as one long-form
    // table. The fixture plants exact duplicates (every 10th doc is
    // replaced by one shared literal text) and empties (every 41st) so
    // the dup/empty fractions are live numbers, not zeros.
    CatalogEntry("q91_corpus_datasheet", (s, d) => {
      val docs = t(s, d, "documents").select($"doc_id",
        when($"doc_id" % 41 === 0, lit(""))
          .when($"doc_id" % 10 === 0, lit("the repeated corpus text"))
          .otherwise($"text").as("text"),
        $"lang")
      operators.TextAnalysis.corpusDatasheet(docs, "doc_id", "text",
        langCol = Some("lang"))
    }, Some(
      """WITH d AS (SELECT doc_id,
           CASE WHEN doc_id % 41 = 0 THEN ''
                WHEN doc_id % 10 = 0 THEN 'the repeated corpus text'
                ELSE text END AS text, lang
           FROM documents),
         b AS (SELECT text,
             len(regexp_split_to_array(trim(text), '\s+'))::DOUBLE AS n
           FROM d),
         g AS (SELECT count(*)::DOUBLE AS n_docs,
             sum(n) AS n_tokens_total,
             quantile_cont(n, 0.5) AS tokens_p50,
             avg(n) AS tokens_mean,
             1.0 - count(DISTINCT lower(trim(text)))::DOUBLE
               / count(*)::DOUBLE AS exact_dup_frac,
             avg(CASE WHEN trim(text) = '' THEN 1.0 ELSE 0.0 END)
               AS empty_frac
           FROM b),
         long AS (
           SELECT 'n_docs' AS metric, n_docs AS value FROM g
           UNION ALL SELECT 'n_tokens_total', n_tokens_total FROM g
           UNION ALL SELECT 'tokens_p50', tokens_p50 FROM g
           UNION ALL SELECT 'tokens_mean', tokens_mean FROM g
           UNION ALL SELECT 'exact_dup_frac', exact_dup_frac FROM g
           UNION ALL SELECT 'empty_frac', empty_frac FROM g
           UNION ALL
           SELECT 'lang_frac:' || lang,
             count(*)::DOUBLE / (SELECT n_docs FROM g)
           FROM d GROUP BY lang)
         SELECT metric, round(value, 6) AS value FROM long
         ORDER BY metric""")),

    // Hashed-feature logistic-regression quality classifier, fitted
    // by full-batch GD from a zero model (round 1's predictions are
    // exactly 0.5, which lets the oracle unroll BOTH fit rounds in
    // closed form — a wrong gradient sign, a mis-ordered fold, a
    // bias/weight update mixed up, or a drifted feature hash all
    // land in the final per-doc probabilities). Labels: lang = 'en'.
    CatalogEntry("q84_quality_lr", (s, d) => {
      val labeled = t(s, d, "documents")
        .select($"doc_id", $"text", ($"lang" === "en").cast("int").as("is_en"))
      val model = operators.Curation.fitQualityLr(labeled,
        "doc_id", "text", "is_en", buckets = 512, iters = 2,
        stepSize = 0.5, hashFn = operators.Dedup.md5Hash60)
      operators.Curation.lrScore(labeled, "doc_id", "text", model,
          hashFn = operators.Dedup.md5Hash60)
        .select($"doc_id", $"n_feats", round($"score", 6).as("score"))
        .orderBy($"doc_id")
    }, Some(
      """WITH d AS (SELECT doc_id,
           (CASE WHEN lang = 'en' THEN 1.0 ELSE 0.0 END)::DOUBLE AS y,
           regexp_split_to_array(trim(lower(text)), '\s+') t
         FROM documents),
         """ + featSql("feat", "d") + """,
         xb0 AS (SELECT doc_id,
             ('0x' || substring(md5(feat), 1, 15))::BIGINT % 512 AS bucket,
             count(*)::DOUBLE AS c
           FROM feat WHERE feat <> '' GROUP BY 1, 2),
         tot AS (SELECT doc_id, sqrt(sum(c)) AS sc FROM xb0 GROUP BY 1),
         xb AS (SELECT doc_id, bucket, c, c / sc AS x
           FROM xb0 JOIN tot USING (doc_id)),
         n AS (SELECT count(DISTINCT doc_id)::DOUBLE AS n FROM xb),
         e0 AS (SELECT doc_id, 0.5 - y AS e FROM d
           WHERE doc_id IN (SELECT doc_id FROM xb)),
         w1 AS (SELECT bucket,
             -0.5 * list_reduce(list(e * x ORDER BY doc_id),
               (a, b) -> a + b) / (SELECT n FROM n) AS w
           FROM xb JOIN e0 USING (doc_id) GROUP BY bucket),
         b1 AS (SELECT -0.5 * list_reduce(list(e ORDER BY doc_id),
             (a, b) -> a + b) / (SELECT n FROM n) AS b FROM e0),
         z1 AS (SELECT xb.doc_id,
             list_reduce(list(xb.x * w1.w ORDER BY xb.bucket),
               (a, b) -> a + b) AS z
           FROM xb JOIN w1 USING (bucket) GROUP BY xb.doc_id),
         e1 AS (SELECT z1.doc_id,
             1.0 / (1.0 + exp(-(b1.b + z1.z))) - d.y AS e
           FROM z1 JOIN d USING (doc_id) CROSS JOIN b1),
         w2 AS (SELECT bucket, w1w - 0.5 *
             list_reduce(list(gt ORDER BY doc_id), (a, b) -> a + b)
               / (SELECT n FROM n) AS w
           FROM (SELECT xb.bucket, w1.w AS w1w, xb.doc_id,
                   e1.e * xb.x AS gt
                 FROM xb JOIN e1 USING (doc_id) JOIN w1 USING (bucket)) s
           GROUP BY bucket, w1w),
         b2 AS (SELECT b1.b - 0.5 * list_reduce(list(e ORDER BY doc_id),
             (a, b) -> a + b) / (SELECT n FROM n) AS b
           FROM e1 CROSS JOIN b1 GROUP BY b1.b),
         sc AS (SELECT xb.doc_id, CAST(sum(xb.c) AS BIGINT) AS n_feats,
             list_reduce(list(xb.x * w2.w ORDER BY xb.bucket),
               (a, b) -> a + b) AS z
           FROM xb JOIN w2 USING (bucket) GROUP BY xb.doc_id)
         SELECT doc_id, n_feats,
           round(1.0 / (1.0 + exp(-(b2.b + sc.z))), 6) AS score
         FROM sc CROSS JOIN b2 ORDER BY doc_id""")),

    // Production-path LR benchmark entry (the q76 pattern): the fit a
    // real run would use — native xxhash64 features, 2^16 buckets,
    // partial-aggregated plain-sum folds — timed by Bench; the
    // decision arithmetic itself is oracle-pinned by q84 (md5/exact
    // folds) and the fold-mode parity spec, so this row carries the
    // driver's rows-only check. The corpus's lang/source labels carry
    // NO textual signal (the synthetic texts share one token pool),
    // so the label is a PLANTED vocabulary marker — the per-class
    // average scores in the output visibly demonstrate the fit
    // learned it.
    CatalogEntry("q90_quality_lr_native", (s, d) => {
      val labeled = t(s, d, "documents")
        .select($"doc_id",
          when($"doc_id" % 3 === 0,
            concat($"text", lit(" lowvalue boiler plate marker")))
            .otherwise(concat($"text", lit(" curated highvalue marker")))
            .as("text"),
          ($"doc_id" % 3 =!= 0).cast("int").as("y"))
      val model = operators.Curation.fitQualityLr(labeled,
        "doc_id", "text", "y", iters = 4, stepSize = 8.0,
        exactFold = false)
      operators.Curation.lrScore(labeled, "doc_id", "text", model,
          exactFold = false)
        .join(labeled.select($"doc_id", $"y"), Seq("doc_id"))
        .groupBy($"y")
        .agg(count(lit(1)).as("n"), round(avg($"score"), 3).as("avg_score"))
        .orderBy($"y")
    }, None),

    // Corpus version diff: v2 removes every 9th doc, edits every 7th
    // surviving doc's text, and adds a copy of every 11th under a new
    // id — per-doc added/removed/changed/unchanged status must match a
    // full-outer-join oracle that compares the TEXT values (the Spark
    // side compares 128-bit text hashes — the documented scale shape —
    // so the gate also pins that the hash comparison reaches the same
    // statuses).
    CatalogEntry("q98_corpus_diff", (s, d) => {
      val docs = t(s, d, "documents").select($"doc_id", $"text")
      val next = docs.filter($"doc_id" % 9 =!= 0)
        .select($"doc_id",
          when($"doc_id" % 7 === 0, concat($"text", lit(" v2 edit")))
            .otherwise($"text").as("text"))
        .unionByName(docs.filter($"doc_id" % 11 === 0)
          .select(($"doc_id" + 3000000L).as("doc_id"), $"text"))
      operators.Curation.corpusDiff(docs, next, "doc_id", "text")
        .orderBy($"doc_id")
    }, Some(
      """WITH p AS (SELECT doc_id, text FROM documents),
         n AS (
           SELECT doc_id,
             CASE WHEN doc_id % 7 = 0 THEN text || ' v2 edit'
                  ELSE text END AS text
           FROM documents WHERE doc_id % 9 <> 0
           UNION ALL
           SELECT doc_id + 3000000 AS doc_id, text FROM documents
             WHERE doc_id % 11 = 0
         )
         SELECT COALESCE(p.doc_id, n.doc_id) AS doc_id,
           CASE WHEN p.doc_id IS NULL THEN 'added'
                WHEN n.doc_id IS NULL THEN 'removed'
                WHEN p.text IS NOT DISTINCT FROM n.text THEN 'unchanged'
                ELSE 'changed' END AS status
         FROM p FULL OUTER JOIN n ON p.doc_id = n.doc_id
         ORDER BY doc_id""")),

    // The CI release gate over q98's version diff: churn counts,
    // fractions and a pass/fail verdict in the datasheet's long
    // (metric, value) shape. Thresholds straddle the planted churn
    // (changed_frac ≈ (8/9)·(1/7) ≈ 0.127 of prev > 0.10; added and
    // removed under theirs), so the oracle pins the full arithmetic
    // INCLUDING a failing verdict — a wrong denominator, a dropped
    // status, or a boundary-side error all flip a metric or the pass
    // bit.
    CatalogEntry("q102_release_gate", (s, d) => {
      val docs = t(s, d, "documents").select($"doc_id", $"text")
      val next = docs.filter($"doc_id" % 9 =!= 0)
        .select($"doc_id",
          when($"doc_id" % 7 === 0, concat($"text", lit(" v2 edit")))
            .otherwise($"text").as("text"))
        .unionByName(docs.filter($"doc_id" % 11 === 0)
          .select(($"doc_id" + 3000000L).as("doc_id"), $"text"))
      operators.Curation.corpusReleaseGate(docs, next, "doc_id", "text",
        maxAddedFrac = 0.15, maxRemovedFrac = 0.15, maxChangedFrac = 0.10)
    }, Some(
      ("""WITH p AS (SELECT doc_id, text FROM documents),
         n AS (
           SELECT doc_id,
             CASE WHEN doc_id % 7 = 0 THEN text || ' v2 edit'
                  ELSE text END AS text
           FROM documents WHERE doc_id % 9 <> 0
           UNION ALL
           SELECT doc_id + 3000000 AS doc_id, text FROM documents
             WHERE doc_id % 11 = 0
         ),
         """ + releaseDiffSql + """
         f AS (SELECT *,
           CASE WHEN nn > 0 THEN na / nn ELSE 0 END AS af,
           CASE WHEN np > 0 THEN nr / np ELSE 0 END AS rf,
           CASE WHEN np > 0 THEN nc / np ELSE 0 END AS cf FROM w)
         SELECT metric, round(value, 6) AS value FROM (
           """ + releaseGateRowsSql + """
         ) ORDER BY metric"""))),

    // The COMPLETE release artifact (q102's gate unioned with the new
    // version's q91-style datasheet, metrics prefixed `next:`): one
    // (metric, value) table per corpus release. The oracle recomputes
    // both halves over the same version fixture — churn arithmetic
    // with the failing verdict AND the datasheet aggregates including
    // per-language composition of the NEW corpus.
    CatalogEntry("q103_release_report", (s, d) => {
      val docs = t(s, d, "documents").select($"doc_id", $"text", $"lang")
      val next = docs.filter($"doc_id" % 9 =!= 0)
        .select($"doc_id",
          when($"doc_id" % 7 === 0, concat($"text", lit(" v2 edit")))
            .otherwise($"text").as("text"), $"lang")
        .unionByName(docs.filter($"doc_id" % 11 === 0)
          .select(($"doc_id" + 3000000L).as("doc_id"), $"text", $"lang"))
      operators.Curation.corpusReleaseReport(docs, next, "doc_id", "text",
        langCol = Some("lang"),
        maxAddedFrac = 0.15, maxRemovedFrac = 0.15, maxChangedFrac = 0.10)
    }, Some(
      ("""WITH p AS (SELECT doc_id, text FROM documents),
         n AS (
           SELECT doc_id,
             CASE WHEN doc_id % 7 = 0 THEN text || ' v2 edit'
                  ELSE text END AS text, lang
           FROM documents WHERE doc_id % 9 <> 0
           UNION ALL
           SELECT doc_id + 3000000 AS doc_id, text, lang FROM documents
             WHERE doc_id % 11 = 0
         ),
         """ + releaseDiffSql + """
         f AS (SELECT *,
           CASE WHEN nn > 0 THEN na / nn ELSE 0 END AS af,
           CASE WHEN np > 0 THEN nr / np ELSE 0 END AS rf,
           CASE WHEN np > 0 THEN nc / np ELSE 0 END AS cf FROM w),
         b AS (SELECT text,
             len(regexp_split_to_array(trim(text), '\s+'))::DOUBLE AS tn
           FROM n),
         g AS (SELECT count(*)::DOUBLE AS n_docs,
             sum(tn) AS n_tokens_total,
             quantile_cont(tn, 0.5) AS tokens_p50,
             avg(tn) AS tokens_mean,
             1.0 - count(DISTINCT lower(trim(text)))::DOUBLE
               / count(*)::DOUBLE AS exact_dup_frac,
             avg(CASE WHEN trim(text) = '' THEN 1.0 ELSE 0.0 END)
               AS empty_frac
           FROM b)
         SELECT metric, round(value, 6) AS value FROM (
           """ + releaseGateRowsSql + """
           UNION ALL SELECT 'next:n_docs', n_docs FROM g
           UNION ALL SELECT 'next:n_tokens_total', n_tokens_total FROM g
           UNION ALL SELECT 'next:tokens_p50', tokens_p50 FROM g
           UNION ALL SELECT 'next:tokens_mean', tokens_mean FROM g
           UNION ALL SELECT 'next:exact_dup_frac', exact_dup_frac FROM g
           UNION ALL SELECT 'next:empty_frac', empty_frac FROM g
           UNION ALL SELECT 'next:lang_frac:' || lang,
             count(*)::DOUBLE / (SELECT n_docs FROM g)
             FROM n GROUP BY lang
         ) ORDER BY metric"""))),

    // Text cleanup normalization + CCNet hash key: the fixture is
    // doctored three ways (curly quotes/dashes/ellipsis/NBSP + a
    // zero-width char and a BEL; tab runs + CRLF and a lone CR;
    // em-dash + BOM) so every fold in the chain fires somewhere, and
    // the oracle replays the ENTIRE translate+regexp chain in SQL —
    // md5 of the normalized text pins every byte, md5 of the CCNet
    // key pins the lowercase/digit-fold/punct-strip key the dedup
    // tier hashes. Pattern discipline: RE2-portable source strings
    // shared verbatim with the oracle (explicit whitespace classes —
    // Java's \s and RE2's \s disagree on \x0B).
    CatalogEntry("q106_normalize_text", (s, d) => {
      val docs = t(s, d, "documents").select($"doc_id", $"text")
      val messy = docs.select($"doc_id",
        when($"doc_id" % 3 === 0,
          concat(lit("\u201CQ\u201D \u2013 x\u2026 \u00A0 "), $"text",
            lit("\u200Bz\u0007w  ")))
        .when($"doc_id" % 3 === 1,
          concat(lit("l1  \t l2\r\nl3 \r"), $"text", lit("\t\t 123 ")))
        .otherwise(concat($"text", lit(" \u2014 fin\uFEFF"))).as("text"))
      operators.Curation.normalizeText(messy, "text", "norm")
        .select($"doc_id", md5($"norm").as("norm_md5"),
          length($"norm").cast("long").as("norm_len"),
          md5(operators.Curation.ccnetHashKey($"norm")).as("key_md5"))
        .orderBy($"doc_id")
    }, Some(
      // the engine's entire translate+regexp normalization chain,
      // replayed stage-for-stage (chr() codes stand in for the planted
      // typographic/control characters); the trailing key_md5 replays
      // the CCNet lowercase/digit-fold/punct-strip key on top
      ("""WITH m AS (SELECT doc_id,
           CASE WHEN doc_id % 3 = 0 THEN
               chr(8220) || 'Q' || chr(8221) || ' ' || chr(8211) || ' x' ||
               chr(8230) || ' ' || chr(160) || ' ' || text ||
               chr(8203) || 'z' || chr(7) || 'w  '
             WHEN doc_id % 3 = 1 THEN
               'l1  ' || chr(9) || ' l2' || chr(13) || chr(10) || 'l3 ' ||
               chr(13) || text || chr(9) || chr(9) || ' 123 '
             ELSE text || ' ' || chr(8212) || ' fin' || chr(65279)
           END AS t
         FROM documents),
         n AS (SELECT doc_id,
           """ + normalizeTextSql + """
           ' ?\n ?', chr(10), 'g'), '^\n+|\n+$', '', 'g')) AS norm
         FROM m)
         SELECT doc_id, md5(norm) AS norm_md5,
           length(norm) AS norm_len,
           md5(trim(regexp_replace(regexp_replace(regexp_replace(lower(norm),
             '[0-9]', '0', 'g'),
             '[^\p{L}\p{N} \t\n\f\r]', '', 'g'),
             '[ \t\n\f\r]+', ' ', 'g'))) AS key_md5
         FROM n ORDER BY doc_id"""))),

    // CCNet-style per-language score bucketing (Wenzek et al. 2019):
    // head/middle/tail tiers by per-LANGUAGE percentile thresholds.
    // Score = char length (deterministic, oracle-compact; the CCNet
    // setting plugs q61's LM logprob into the same operator). The
    // oracle recomputes quantile_cont thresholds per language and the
    // <=-with-ties-down labeling — a wrong interpolation formula, a
    // per-group/global mixup, or a boundary-side error all break it.
    // a planted NULL-lang stratum (doc_id % 7) gates the null-key
    // contract for real: scoreBuckets keys its threshold join with
    // null-safe <=> so langid-abstained docs form their own bucket
    // group, and the oracle must mirror it with IS NOT DISTINCT FROM
    // (a plain equi/USING join silently drops the whole stratum)
    CatalogEntry("q99_perplexity_buckets", (s, d) => {
      val docs = t(s, d, "documents").select($"doc_id",
        when($"doc_id" % 7 === 0, lit(null)).otherwise($"lang").as("lang"),
        length($"text").cast("double").as("score"))
      operators.TextAnalysis.scoreBuckets(docs, "score", Seq("lang"))
        .select($"doc_id", $"lang", $"score", $"bucket")
        .orderBy($"doc_id")
    }, Some(
      """WITH s AS (SELECT doc_id,
           CASE WHEN doc_id % 7 = 0 THEN NULL ELSE lang END AS lang,
           CAST(length(text) AS DOUBLE) AS score FROM documents),
         th AS (SELECT lang,
             quantile_cont(score, CAST(1 AS DOUBLE)/3) AS q0,
             quantile_cont(score, CAST(2 AS DOUBLE)/3) AS q1
           FROM s GROUP BY 1)
         SELECT s.doc_id, s.lang, s.score,
           CASE WHEN s.score IS NULL THEN NULL
                WHEN s.score <= th.q0 THEN 'tail'
                WHEN s.score <= th.q1 THEN 'middle'
                ELSE 'head' END AS bucket
         FROM s JOIN th ON s.lang IS NOT DISTINCT FROM th.lang
         ORDER BY s.doc_id""")),

    // The CCNet composition end-to-end (Wenzek et al. 2019): the
    // fitted corpus unigram-LM logprob (q61's operator, values
    // bit-pinned there) bucketed into per-LANGUAGE head/middle/tail
    // thirds (q99's operator). The oracle recomposes BOTH stages —
    // the LM fit, the order-stable per-doc fold, per-language
    // quantile_cont thresholds and the ties-down labeling — so a
    // drift anywhere in the composition (score rounding, threshold
    // group, boundary side) breaks the hash.
    CatalogEntry("q100_ccnet_buckets", (s, d) => {
      val docs = t(s, d, "documents").select($"doc_id", $"lang", $"text")
      val scored = operators.TextAnalysis
        .unigramLogProb(docs, "doc_id", "text")
        .select($"doc_id", $"logprob_per_token".as("score"))
        .join(docs.select($"doc_id", $"lang"), Seq("doc_id"))
      operators.TextAnalysis.scoreBuckets(scored, "score", Seq("lang"))
        .select($"doc_id", $"lang", $"score", $"bucket")
        .orderBy($"doc_id")
    }, Some(
      unigramTermsSql + """,
         s AS (SELECT doc_id,
             round(list_reduce(list(term ORDER BY tok), (a, b) -> a + b)
               / CAST(sum(tf) AS DOUBLE), 6) AS score
           FROM terms GROUP BY 1),
         sl AS (SELECT s.doc_id, d.lang, s.score
           FROM s JOIN documents d USING (doc_id)),
         th AS (SELECT lang,
             quantile_cont(score, CAST(1 AS DOUBLE)/3) AS q0,
             quantile_cont(score, CAST(2 AS DOUBLE)/3) AS q1
           FROM sl GROUP BY 1)
         SELECT sl.doc_id, sl.lang, sl.score,
           CASE WHEN sl.score IS NULL THEN NULL
                WHEN sl.score <= th.q0 THEN 'tail'
                WHEN sl.score <= th.q1 THEN 'middle'
                ELSE 'head' END AS bucket
         FROM sl JOIN th ON sl.lang IS NOT DISTINCT FROM th.lang
         ORDER BY sl.doc_id""")),

    // Cross-document boilerplate removal: a banner line injected into
    // EVERY doc (doc frequency 1.0 > 0.5) must drop; a notice line in
    // ~⅓ of docs and each doc's own text stay. The gate pins per-doc
    // line counts and the md5 of the reassembled text, so it catches
    // both wrong threshold arithmetic and order-scrambled reassembly.
    CatalogEntry("q54_boilerplate_lines", (s, d) => {
      val docs = t(s, d, "documents").select($"doc_id",
        concat_ws("\n", lit("subscribe to our newsletter"), $"text",
          when($"doc_id" % 3 === 0, lit("cookie policy applies")))
          .as("text"))
      operators.Curation.dropBoilerplateLines(docs, "doc_id", "text",
          maxDocFrac = 0.5)
        .select($"doc_id", $"n_lines", $"n_kept_lines",
          md5($"clean_text").as("clean_md5"))
        .orderBy($"doc_id")
    }, Some(
      """WITH d0 AS (SELECT doc_id,
           'subscribe to our newsletter' || chr(10) || text ||
             CASE WHEN doc_id % 3 = 0
                  THEN chr(10) || 'cookie policy applies' ELSE '' END AS text
           FROM documents),
         d AS (SELECT doc_id, string_split(text, chr(10)) AS t FROM d0),
         l AS (SELECT doc_id, t[i] AS line, i AS pos, len(t) AS n_lines
           FROM d, LATERAL (SELECT unnest(generate_series(1, len(t))) AS i)),
         nd AS (SELECT count(DISTINCT doc_id) AS n FROM d0),
         bo AS (SELECT line FROM l, nd GROUP BY line, nd.n
           HAVING count(DISTINCT doc_id) > 0.5 * nd.n),
         rb AS (SELECT doc_id, count(*) AS n_kept_lines,
             md5(string_agg(line, chr(10) ORDER BY pos)) AS clean_md5
           FROM l WHERE line NOT IN (SELECT line FROM bo)
           GROUP BY doc_id)
         SELECT d.doc_id, len(d.t) AS n_lines,
           coalesce(rb.n_kept_lines, 0) AS n_kept_lines,
           coalesce(rb.clean_md5, md5('')) AS clean_md5
         FROM d LEFT JOIN rb USING (doc_id) ORDER BY doc_id""")),

    // Text curation profile: token counts, punctuation, case ratio,
    // language-ID heuristic, composite quality score
    CatalogEntry("q27_text_profile", (s, d) => {
      operators.TextAnalysis.profile(t(s, d, "documents"), "text")
        .select($"doc_id", $"n_tokens", $"n_tokens_bpeish", $"n_punct",
          $"upper_ratio", $"pred_lang", $"quality")
        .orderBy($"doc_id")
    }, Some(
      """WITH p AS (SELECT doc_id, text,
           len(regexp_split_to_array(trim(text), '\s+')) AS n_tokens,
           len(regexp_extract_all(text, '[A-Za-z]{1,4}|[0-9]|[^A-Za-z0-9\s]'))
             AS n_tokens_bpeish,
           length(text) - length(regexp_replace(text,
             '[.,!?;:''"()\[\]{}-]', '', 'g')) AS n_punct,
           (length(text) - length(regexp_replace(text, '[A-Z]', '', 'g')))*1.0
             / greatest(length(text), 1) AS upper_ratio,
           len(regexp_extract_all(lower(text), '\bthe\b|\band\b|\bof\b|\bto\b|\bis\b')) AS s_en,
           len(regexp_extract_all(lower(text), '\bder\b|\bdie\b|\bund\b|\bist\b|\bnicht\b')) AS s_de,
           len(regexp_extract_all(lower(text), '\ble\b|\bla\b|\bet\b|\best\b|\bles\b')) AS s_fr,
           len(regexp_extract_all(lower(text), '\bel\b|\bla\b|\by\b|\bes\b|\blos\b')) AS s_es,
           length(regexp_replace(text, '[^一-鿿]', '', 'g')) AS cjk
         FROM documents),
         q AS (SELECT *, greatest(s_en, s_de, s_fr, s_es) AS best,
           length(text)*1.0 AS l,
           len(regexp_split_to_array(trim(text), '\s+'))*1.0 AS tk
         FROM p)
         SELECT doc_id, n_tokens, n_tokens_bpeish, n_punct,
           round(upper_ratio, 6) AS upper_ratio,
           CASE WHEN cjk > 0 THEN 'zh' WHEN best = 0 THEN 'und'
                WHEN s_en = best THEN 'en' WHEN s_de = best THEN 'de'
                WHEN s_fr = best THEN 'fr' ELSE 'es' END AS pred_lang,
           round(
             (CASE WHEN l >= 100 AND l <= 10000 THEN 1.0
                   WHEN l < 100 THEN l/100.0 ELSE 10000.0/l END) * 0.4 +
             (CASE WHEN (l-(tk-1))/greatest(tk,1.0) >= 3
                    AND (l-(tk-1))/greatest(tk,1.0) <= 10
                   THEN 1.0 ELSE 0.5 END) * 0.3 +
             (CASE WHEN (length(text) - length(regexp_replace(text,
                     '[.,!?;:''"()\[\]{}-]', '', 'g')))*1.0/greatest(l,1.0) <= 0.1
                   THEN 1.0 ELSE greatest(0.0, 1.0 -
                     (length(text) - length(regexp_replace(text,
                       '[.,!?;:''"()\[\]{}-]', '', 'g')))*1.0/greatest(l,1.0)*2)
              END) * 0.3, 6) AS quality
         FROM q ORDER BY doc_id""")),

    // Corpus vocabulary heavy-hitters: token frequency top-k with a
    // deterministic tie-break — partial-aggregated token counts, one
    // shuffle, TakeOrdered(k)
    CatalogEntry("q37_vocab_topk", (s, d) => {
      operators.TextAnalysis.topTokens(t(s, d, "documents"), "text", 50)
    }, Some(
      """WITH toks AS (SELECT unnest(regexp_split_to_array(
             lower(trim(text)), '\s+')) AS token FROM documents)
         SELECT token, count(*) AS cnt FROM toks WHERE token != ''
         GROUP BY token ORDER BY cnt DESC, token LIMIT 50""")),

    // Sequence packing (concat-and-chunk): docs laid end-to-end in id
    // order within a shard, cut every 2048 tokens — each doc tagged
    // with the sequence it starts in and its offset. The shard key is
    // the parallelism unit (real pipelines pack per output shard);
    // the oracle recomputes the running token count as a window sum.
    CatalogEntry("q41_sequence_pack", (s, d) => {
      val docs = t(s, d, "documents").select($"doc_id",
        ($"doc_id" % 8).as("shard"),
        operators.TextAnalysis.tokenCount($"text").as("n_tokens"))
      operators.Curation.packSequences(docs, "doc_id", "n_tokens", 2048,
          keys = Seq("shard"))
        .select($"doc_id", $"shard", $"seq_id", $"seq_offset")
        .orderBy($"doc_id")
    }, Some(
      """WITH d AS (SELECT doc_id, doc_id % 8 AS shard,
           len(regexp_split_to_array(trim(text), '\s+')) AS n_tokens
         FROM documents),
         p AS (SELECT doc_id, shard, coalesce(sum(n_tokens) OVER
             (PARTITION BY shard ORDER BY doc_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT
             AS prior
           FROM d)
         SELECT doc_id, shard, prior // 2048 AS seq_id,
           prior % 2048 AS seq_offset
         FROM p ORDER BY doc_id""")),

    // PII redaction: deterministic synthetic emails/IPs appended to
    // every doc, redacted by the shared RE2-portable patterns; the
    // gate pins match counts AND the md5 of the redacted text.
    CatalogEntry("q42_pii_redact", (s, d) => {
      val docs = t(s, d, "documents").select($"doc_id",
        concat($"text", lit(" contact user"), $"doc_id".cast("string"),
          lit("@example.com from 10.0."),
          pmod($"doc_id", lit(256)).cast("string"), lit(".7")).as("text"))
      operators.Curation.redactPii(docs, "text")
        .select($"doc_id", $"n_emails", $"n_ips",
          md5($"redacted").as("red_md5"))
        .orderBy($"doc_id")
    }, Some(
      """WITH d AS (SELECT doc_id,
           text || ' contact user' || CAST(doc_id AS VARCHAR)
                || '@example.com from 10.0.'
                || CAST(doc_id % 256 AS VARCHAR) || '.7' AS text
         FROM documents)
         SELECT doc_id,
           len(regexp_extract_all(text,
             '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS n_emails,
           len(regexp_extract_all(text,
             '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b')) AS n_ips,
           md5(regexp_replace(regexp_replace(text,
             '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
             '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b', '<IP>', 'g'))
             AS red_md5
         FROM d ORDER BY doc_id""")),

    // Intra-document repetition removal: repeated lines dropped
    // keep-first in original order (the boilerplate filter). Corpus =
    // each doc tripled around a unique tail line, so ground truth is
    // exactly (text, tail); the oracle still recomputes the full
    // split→first-occurrence→reassemble pipeline in SQL.
    CatalogEntry("q44_repeat_lines", (s, d) => {
      val docs = t(s, d, "documents").select($"doc_id",
        concat_ws("\n", $"text", $"text",
          concat(lit("tail "), $"doc_id".cast("string")), $"text").as("text"))
      operators.Curation.dropRepeatedLines(docs, "doc_id", "text")
        .select($"doc_id", $"n_lines", $"n_unique_lines",
          md5($"dedup_text").as("dedup_md5"))
        .orderBy($"doc_id")
    }, Some(
      """WITH d AS (SELECT doc_id, string_split(
           text || chr(10) || text || chr(10) || 'tail '
                || CAST(doc_id AS VARCHAR) || chr(10) || text,
           chr(10)) AS t FROM documents),
         l AS (SELECT doc_id, t[i] AS line, i AS pos, len(t) AS n_lines
           FROM d, LATERAL (SELECT unnest(generate_series(1, len(t))) AS i)),
         f AS (SELECT doc_id, any_value(n_lines) AS n_lines, line,
             min(pos) AS pos
           FROM l GROUP BY doc_id, line)
         SELECT doc_id, any_value(n_lines) AS n_lines,
           count(*) AS n_unique_lines,
           md5(string_agg(line, chr(10) ORDER BY pos)) AS dedup_md5
         FROM f GROUP BY doc_id ORDER BY doc_id""")),

    // TF-IDF top terms per document: corpus-level statistical term
    // weighting — two hash aggregates + vocabulary join + per-doc
    // top-k window; ranking on the ROUNDED score so both engines
    // agree on ties (then token breaks them).
    CatalogEntry("q46_tfidf", (s, d) => {
      operators.TextAnalysis.tfidfTopTerms(t(s, d, "documents"),
          "doc_id", "text", 3)
        .orderBy($"doc_id", $"rank")
    }, Some(
      """WITH tok AS (SELECT doc_id, unnest(regexp_split_to_array(
             lower(trim(text)), '\s+')) AS token FROM documents),
         tf AS (SELECT doc_id, token, count(*) AS tf FROM tok
           WHERE token != '' GROUP BY 1, 2),
         dfq AS (SELECT token, count(*) AS df FROM tf GROUP BY 1),
         n AS (SELECT count(DISTINCT doc_id) AS n FROM documents),
         s AS (SELECT doc_id, token,
             round(tf * ln((SELECT n FROM n) * 1.0 / df), 6) AS tfidf
           FROM tf JOIN dfq USING (token)),
         r AS (SELECT doc_id, token, tfidf, row_number() OVER
             (PARTITION BY doc_id ORDER BY tfidf DESC, token) AS rank
           FROM s)
         SELECT doc_id, rank, token, tfidf FROM r WHERE rank <= 3
         ORDER BY doc_id, rank""")),

    // Sliding-window token chunking (50-token windows, 10-token
    // overlap): the RAG/long-doc context splitter as a pure per-row
    // generator. The gate pins chunk counts, per-chunk token counts
    // and the md5 of every chunk's text.
    CatalogEntry("q47_chunk_overlap", (s, d) => {
      operators.Curation.chunkByTokens(t(s, d, "documents"),
          "doc_id", "text", 50, 10)
        .select($"doc_id", $"chunk_id", $"chunk_tokens",
          md5($"chunk_text").as("chunk_md5"))
        .orderBy($"doc_id", $"chunk_id")
    }, Some(
      """WITH d AS (SELECT doc_id, regexp_split_to_array(
             lower(trim(text)), '\s+') AS t FROM documents),
         e AS (SELECT doc_id, t,
             greatest(0, (len(t) - 50 + 40 - 1) // 40) AS extra FROM d),
         c AS (SELECT doc_id, t,
             unnest(generate_series(0, extra)) AS chunk_id FROM e)
         SELECT doc_id, chunk_id,
           len(t[chunk_id*40 + 1 : chunk_id*40 + 50]) AS chunk_tokens,
           md5(array_to_string(t[chunk_id*40 + 1 : chunk_id*40 + 50], ' '))
             AS chunk_md5
         FROM c ORDER BY doc_id, chunk_id"""))
  )

  /** The trigram LM oracles' backoff counts over toks' token lists:
    * bigram context totals (c12), kept trigrams (c3 >= 2), bigram
    * counts and their contexts (cb, cw), unigram counts and the token
    * total. */
  private def trigramBackoffCountsSql: String =
    """c12 AS (SELECT w1, w2, CAST(sum(c3) AS BIGINT) c12 FROM c3all
           GROUP BY 1, 2),
         c3 AS (SELECT * FROM c3all WHERE c3 >= 2),
         bg0 AS (SELECT unnest([{'u': tk[i], 'v': tk[i + 1]}
               for i in generate_series(1, len(tk) - 1)]) AS b
           FROM toks WHERE len(tk) >= 2),
         cb AS (SELECT b.u AS w2, b.v AS w3, count(*) cb FROM bg0
           GROUP BY 1, 2),
         cw AS (SELECT w2, CAST(sum(cb) AS BIGINT) cw FROM cb GROUP BY 1),
         uni AS (SELECT t AS w3, count(*) cu
           FROM (SELECT unnest(tk) AS t FROM toks) GROUP BY 1),
         tot AS (SELECT CAST(sum(cu) AS BIGINT) T FROM uni),"""

  /** The engine's text normalization chain over column t (q106 and its
    * reuse): typographic quotes, dashes and spaces folded, ellipses
    * expanded, line endings unified, control and zero-width characters
    * dropped, blank runs squeezed, and edge newlines trimmed. */
  private def normalizeTextSql: String =
    """trim(regexp_replace(regexp_replace(
           regexp_replace(
             regexp_replace(
               regexp_replace(
                 regexp_replace(
                   translate(t,
                     chr(8216) || chr(8217) || chr(8218) || chr(8220) ||
                     chr(8221) || chr(8222) || chr(8211) || chr(8212) ||
                     chr(8722) || chr(160),
                     chr(39) || chr(39) || chr(39) || chr(34) ||
                     chr(34) || chr(34) || '--- '),
                 chr(8230), '...', 'g'),
               '\r\n?', chr(10), 'g'),
             '[\x00-\x08\x0B\x0C\x0E-\x1F\x7F\x{200B}\x{200C}\x{200D}\x{FEFF}]',
             '', 'g'),
           '[ \t]+', ' ', 'g'),"""

  /** The release gate's metric rows (q102, q103): the diff counts and
    * fractions of f, the three max-fraction thresholds and the pass
    * decision. */
  private def releaseGateRowsSql: String =
    """SELECT 'diff:n_prev' AS metric, np AS value FROM f
           UNION ALL SELECT 'diff:n_next', nn FROM f
           UNION ALL SELECT 'diff:n_added', na FROM f
           UNION ALL SELECT 'diff:n_removed', nr FROM f
           UNION ALL SELECT 'diff:n_changed', nc FROM f
           UNION ALL SELECT 'diff:n_unchanged', nu FROM f
           UNION ALL SELECT 'diff:added_frac', af FROM f
           UNION ALL SELECT 'diff:removed_frac', rf FROM f
           UNION ALL SELECT 'diff:changed_frac', cf FROM f
           UNION ALL SELECT 'gate:max_added_frac', 0.15 FROM f
           UNION ALL SELECT 'gate:max_removed_frac', 0.15 FROM f
           UNION ALL SELECT 'gate:max_changed_frac', 0.10 FROM f
           UNION ALL SELECT 'gate:pass',
             CASE WHEN af <= 0.15 AND rf <= 0.15 AND cf <= 0.10
                  THEN 1.0 ELSE 0.0 END FROM f"""

  /** The release-diff counts of q102/q103: each doc's
    * added/removed/changed/unchanged status of the next corpus n
    * against the previous one p, and the status totals. */
  private def releaseDiffSql: String =
    """d AS (
           SELECT CASE WHEN p.doc_id IS NULL THEN 'added'
                       WHEN n.doc_id IS NULL THEN 'removed'
                       WHEN p.text IS NOT DISTINCT FROM n.text THEN 'unchanged'
                       ELSE 'changed' END AS status
           FROM p FULL OUTER JOIN n ON p.doc_id = n.doc_id
         ),
         c AS (SELECT
           CAST(sum(CASE WHEN status = 'added' THEN 1 ELSE 0 END) AS DOUBLE) AS na,
           CAST(sum(CASE WHEN status = 'removed' THEN 1 ELSE 0 END) AS DOUBLE) AS nr,
           CAST(sum(CASE WHEN status = 'changed' THEN 1 ELSE 0 END) AS DOUBLE) AS nc,
           CAST(sum(CASE WHEN status = 'unchanged' THEN 1 ELSE 0 END) AS DOUBLE) AS nu
           FROM d),
         w AS (SELECT na, nr, nc, nu,
           nr + nc + nu AS np, na + nc + nu AS nn FROM c),"""

  /** The unigram LM oracles' per-document terms: lowercased
    * whitespace tokens, per-doc term frequencies, corpus counts
    * and total, and each (doc, token) log-probability term. */
  private def unigramTermsSql: String =
    """WITH toks AS (SELECT doc_id,
          unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS tok
        FROM documents),
      tf AS (SELECT doc_id, tok, count(*) tf FROM toks
        WHERE tok <> '' GROUP BY 1, 2),
      c AS (SELECT tok, CAST(sum(tf) AS BIGINT) c FROM tf GROUP BY 1),
      t AS (SELECT CAST(sum(c) AS BIGINT) T FROM c),
      terms AS (SELECT doc_id, tok, tf,
          tf * ln((c::DOUBLE) / (T::DOUBLE)) AS term
        FROM tf JOIN c USING (tok) CROSS JOIN t)"""

  /** The trigram LM oracles' token lists (toks) and every
    * position's trigram (tg). */
  private def trigramTokensSql: String =
    """WITH toks AS (SELECT doc_id,
        [t for t in regexp_split_to_array(trim(lower(text)), '\s+')
         if t <> ''] AS tk
      FROM documents),
      tg0 AS (SELECT doc_id,
          unnest([{'w1': tk[i], 'w2': tk[i + 1], 'w3': tk[i + 2]}
                  for i in generate_series(1, len(tk) - 2)]) AS g
        FROM toks WHERE len(tk) >= 3),
      tg AS (SELECT doc_id, g.w1 AS w1, g.w2 AS w2, g.w3 AS w3 FROM tg0),"""

  /** A unigram+bigram feature CTE (q84's feature construction): every
    * token of `toks`' lists, then every adjacent token pair. */
  private def featSql(feat: String, toks: String): String =
    s"""$feat AS (
           SELECT doc_id, unnest(t) AS feat FROM $toks
           UNION ALL
           SELECT doc_id, array_to_string(t[i:i+1], ' ') FROM $toks,
             LATERAL (SELECT unnest(generate_series(1, len(t)-1)) AS i))"""
}
