package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.sources.{Generations, Sinks}

/** Corpus-curation operators beyond per-document analysis: sequence
  * packing, PII redaction, stratified sampling, intra-document
  * repetition removal, and weighted domain mixing. Like
  * [[TextAnalysis]], everything is Column expressions or
  * partition-parallel window work — no UDFs, no driver loops.
  */
object Curation {

  /** One-call corpus curation configuration: thresholds for the
    * [[curate]] pipeline. Defaults mirror common web-corpus practice.
    * Decontamination has its OWN gram size and threshold: it is the
    * safety-relevant stage, conventionally looser than near-dup
    * dropping (0.8 Jaccard dedups aggressively-similar docs; a 0.8
    * containment of benchmark grams is already heavy contamination),
    * and it defaults to containment scoring so benchmark items
    * embedded inside longer training docs are caught (symmetric
    * Jaccard misses them by construction). */
  final case class CurateConfig(
      /** when true, [[normalizeText]] rewrites the text column before
        * ANY other stage — typographic folds, control/zero-width
        * strip, whitespace collapse — so boilerplate variants that
        * differ only in curly quotes or NBSP runs collapse to one
        * form BEFORE line/paragraph/span dedup hash their content
        * (the idempotence spec makes unconditional use safe) */
      normalize: Boolean = false,
      minQuality: Double = 0.3,
      /** when set, [[dropRepeatedLines]]' cross-corpus sibling
        * [[dropBoilerplateLines]] runs FIRST at this doc-frequency
        * threshold, so banner lines don't distort quality scores,
        * gram tables or token counts downstream */
      dropBoilerplate: Option[Double] = None,
      /** when true, [[dropDuplicateParagraphs]] runs after the
        * boilerplate strip: corpus-wide keep-first paragraph dedup
        * BEFORE any scoring/shingling, so a paragraph shared by many
        * docs is counted (and token-budgeted, gram-bucketed) once */
      paragraphDedup: Boolean = false,
      /** when set, [[dropDuplicateSpans]] runs after the paragraph
        * stage at this word-gram size: corpus-wide keep-first removal
        * of any repeated run of ≥ n words — finer than the paragraph
        * tier (catches quoted passages and licence blocks that don't
        * align to paragraph boundaries). NOTE: span reassembly
        * whitespace-normalises the surviving text */
      spanDedup: Option[Int] = None,
      /** additionally require [[TextAnalysis.gopherQualityFlags]]'
        * composite `gopher_pass` (flag columns are dropped after the
        * filter — the output schema stays the same) */
      gopherRules: Boolean = false,
      /** when set, a FITTED quality tier rides the same lean scoring
        * projection: documents must score ≥ `minLrScore` under the
        * [[LrModel]] (pure-projection [[lrScoreCol]] — no join, no
        * shuffle; featureless docs score null and drop). The
        * heuristic `minQuality` gate stays first — it needs no
        * training data and catches punctuation junk the classifier
        * never saw */
      lrModel: Option[LrModel] = None,
      minLrScore: Double = 0.5,
      /** additionally require [[TextAnalysis.gopherRepetitionFlags]]'
        * composite `repetition_pass` at the paper thresholds (flag
        * columns dropped after the filter) */
      repetitionRules: Boolean = false,
      nearDupNgram: Int = 8,
      nearDupThreshold: Double = 0.8,
      decontamNgram: Int = 8,
      decontamThreshold: Double = 0.5,
      decontamContainment: Boolean = true,
      splits: Seq[(String, Double)] =
        Seq("train" -> 0.98, "val" -> 0.01, "test" -> 0.01),
      seqLen: Long = 2048,
      packShards: Int = 64,
      /** hash for split/shard assignment: xxhash64 (fastest) by
        * default; [[Dedup.md5Hash60]] for cross-engine parity (the
        * q50 gate pins the whole pipeline against a DuckDB oracle
        * that way) */
      hashFn: Column => Column = xxhash64(_))

  /** The full curation pipeline in one call: (optional cleanup
    * normalization → optional cross-corpus
    * boilerplate strip → optional corpus-wide paragraph dedup →
    * optional substring-span dedup) → quality filter (optionally + Gopher quality and repetition
    * rules) → exact dedup → near-dup drop (n-gram Jaccard + connected
    * components) → optional fuzzy benchmark decontamination
    * (containment scoring by default, see [[CurateConfig]]) →
    * deterministic split → per-shard sequence packing. Returns the
    * surviving docs with profile columns plus `split`, `shard`,
    * `seq_id`, `seq_offset`.
    *
    * Composition of the individually-gated operators — each stage's
    * scale shape (bucketed candidates, anti joins, per-shard windows)
    * is documented and tested on its own; this entry point exists so a
    * caller gets the canonical order without re-deriving it.
    *
    * Cache lifecycle: this call OWNS its intermediates. The gram
    * tables are persisted for the duration of the decision they feed,
    * the (small) component-label and contaminated-id sets are eagerly
    * materialized via `localCheckpoint` — which also surfaces the
    * skew-guard observe metrics of the candidate stages to any
    * registered QueryExecutionListener — and every persisted
    * intermediate is unpersisted before returning, so nothing leaks
    * cache pressure into the caller's session. */
  def curate(docs: DataFrame, idCol: String, textCol: String,
             benchmark: Option[DataFrame] = None,
             cfg: CurateConfig = CurateConfig()): DataFrame = {
    // optional cleanup normalization rewrites the text before ANY
    // stage hashes, scores or shingles it — typographic variants of
    // the same boilerplate must collapse to one form first
    val docs0 = if (cfg.normalize)
        normalizeText(docs, textCol, "__norm")
          .drop(textCol).withColumnRenamed("__norm", textCol)
      else docs
    // optional cross-corpus boilerplate strip BEFORE anything scores
    // or shingles the text (a banner line in every doc would otherwise
    // leak into quality ratios and gram buckets)
    val pre0 = cfg.dropBoilerplate match {
      case Some(frac) =>
        dropBoilerplateLines(docs0, idCol, textCol, frac)
          .drop(textCol, "n_kept_lines", "n_lines")
          .withColumnRenamed("clean_text", textCol)
      case None => docs0
    }
    // paragraph-level exact dedup rides the same pre-scoring slot:
    // a paragraph shared across docs survives once corpus-wide, so
    // downstream quality ratios, gram tables and token budgets never
    // count it twice
    val pre1 = if (cfg.paragraphDedup)
        dropDuplicateParagraphs(pre0, idCol, textCol)
          .drop(textCol, "n_kept_paras", "n_paras")
          .withColumnRenamed("clean_text", textCol)
      else pre0
    // span-level exact dedup is the finest pre-scoring tier: repeated
    // runs that cross paragraph boundaries survive once corpus-wide
    val pre = cfg.spanDedup match {
      case Some(n) =>
        dropDuplicateSpans(pre1, idCol, textCol, n)
          .drop(textCol, "n_kept_words", "n_words")
          .withColumnRenamed("clean_text", textCol)
      case None => pre1
    }
    // quality gate on a LEAN projection: the full profile includes the
    // rolling-fingerprint fold (a higher-order `aggregate` — its
    // interpreted lambda disables whole-stage codegen for whatever
    // projection hosts it), so only `quality` is computed here —
    // codegen'd — and dropped docs never pay for language regexes or
    // the fingerprint; the full profile is attached to SURVIVORS below.
    // The optional Gopher rules ride the same codegen'd projection.
    val scored0 = pre
      .withColumn("quality", TextAnalysis.qualityScore(col(textCol)))
      .filter(col("quality") >= cfg.minQuality)
    // optional fitted-classifier tier: same codegen'd projection slot
    val scored = cfg.lrModel match {
      case Some(m) => scored0
        .withColumn("__lr", lrScoreCol(col(textCol), m))
        .filter(col("__lr") >= cfg.minLrScore)
        .drop("__lr")
      case None => scored0
    }
    val filtered0 = if (cfg.gopherRules)
        TextAnalysis.gopherQualityFlags(scored, textCol)
          .filter(col("gopher_pass"))
          .drop("n_words", "mean_word_len", "symbol_word_ratio",
            "bullet_line_ratio", "ellipsis_line_ratio", "alpha_word_ratio",
            "req_stopword_hits", "gopher_pass")
      else scored
    val filtered = if (cfg.repetitionRules) {
        val repCols = Seq("dup_line_frac", "dup_line_char_frac",
          "dup_para_frac", "dup_para_char_frac") ++
          Seq(2, 3, 4).map(n => s"top_${n}gram_char_frac") ++
          (5 to 10).map(n => s"dup_${n}gram_char_frac") :+ "repetition_pass"
        TextAnalysis.gopherRepetitionFlags(filtered0, idCol, textCol)
          .filter(col("repetition_pass"))
          .drop(repCols: _*)
      } else filtered0
    val exact = Dedup.exact(filtered, Seq(textCol), idCol)
    // near-dup drop, owning the persisted gram table: the component
    // labels come back already flat and block-backed
    // (connectedComponents checkpoints its labels every round), so
    // their lineage is severed from the gram table and the gram cache
    // is dead weight after the labels materialize — freed here rather
    // than left for the caller's clearCache()
    val grams = Dedup.gramTable(exact, idCol, textCol, cfg.nearDupNgram)
      .persist()
    val pairs = Dedup.ngramJaccardFromGrams(grams, idCol,
      cfg.nearDupThreshold, maxBucket = 50)
    val comps = Dedup.connectedComponents(pairs)
    val deduped = Dedup.keepRepresentatives(exact, comps, idCol)
    val clean = benchmark match {
      case Some(b) =>
        // decontam gram table: when the gram size matches the dedup
        // stage (the default), the survivors' grams come from the
        // cached gram table by anti-joining the DROPPED ids — the
        // (small, checkpointed) non-representative set — rather than
        // semi-joining `deduped`, which would re-derive the whole
        // quality-filter + dedup-window chain a second time
        val gl = (if (cfg.decontamNgram == cfg.nearDupNgram)
            grams.join(
              comps.filter(col("comp") =!= col("node"))
                .select(col("node").as(idCol)),
              Seq(idCol), "left_anti")
          else Dedup.gramTable(deduped, idCol, textCol, cfg.decontamNgram))
          .persist()
        // the benchmark side shingles under the SAME normalization as
        // the training docs — with the normalize tier on, a raw
        // benchmark would tokenize typographic variants differently
        // and silently lose decontamination recall
        val bNorm = if (cfg.normalize)
            normalizeText(b, textCol, "__norm")
              .drop(textCol).withColumnRenamed("__norm", textCol)
          else b
        val gr = Dedup.gramTable(bNorm, idCol, textCol, cfg.decontamNgram)
          .persist()
        // contaminated TRAINING ids — bounded by |docs|, not
        // |benchmark|: no broadcast hint (AQE decides by measured size)
        val hits = Dedup.crossJaccardFromGrams(gl, gr, idCol,
            cfg.decontamThreshold, maxBucket = 50,
            containment = cfg.decontamContainment)
          .select(col("a").as(idCol)).distinct()
          .localCheckpoint()
        gl.unpersist(); gr.unpersist()
        deduped.join(hits, Seq(idCol), "left_anti")
      case None => deduped
    }
    grams.unpersist()
    // survivors get the documented full profile (quality recomputed
    // into the same column — identical values, codegen'd, cheap next
    // to the fingerprint fold this stage hosts)
    val profiled = TextAnalysis.profile(clean.drop("quality"), textCol)
    val split = TextAnalysis.hashSplit(profiled, idCol, cfg.splits,
        hashFn = cfg.hashFn)
      .withColumn("shard",
        TextAnalysis.hashBucket(col(idCol), cfg.packShards, cfg.hashFn))
    packSequences(split.withColumn("__nt",
        TextAnalysis.tokenCount(col(textCol))),
      idCol, "__nt", cfg.seqLen, keys = Seq("split", "shard"))
      .drop("__nt")
  }

  /** Sequence packing — the concat-and-chunk discipline LLM
    * pretraining uses: documents are laid end-to-end in `idCol` order
    * and the stream is cut every `seqLen` tokens. Each doc gets the
    * training sequence it STARTS in (`seq_id`) and its token offset
    * within that sequence (`seq_offset`); a doc may spill into the
    * following sequence(s) — that's the discipline's point (no padding
    * waste, deterministic layout).
    *
    * Scale shape: the running token count is a window over `keys` —
    * the packing shard. Real pipelines pack per output shard, never
    * globally, so `keys` (e.g. a hash-derived shard id) is the
    * parallelism unit; with `keys = Nil` the whole corpus is one
    * sequential stream (single-partition window — fine for tests,
    * wrong at scale, hence the require note in the scaladoc).
    */
  def packSequences(df: DataFrame, idCol: String, tokensCol: String,
                    seqLen: Long, keys: Seq[String] = Nil): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*).orderBy(col(idCol))
      .rowsBetween(Window.unboundedPreceding, -1)
    val prior = coalesce(sum(col(tokensCol)).over(w), lit(0L))
    // `div`, not `/`: the Column `/` is double division, which loses
    // exactness past 2^53 tokens per shard
    df.withColumn("__prior", prior)
      .withColumn("seq_id", expr(s"__prior div ${seqLen}L"))
      .withColumn("seq_offset", pmod(col("__prior"), lit(seqLen)))
      .drop("__prior")
  }

  /** Portable PII patterns (same RE2-compatible source strings the
    * DuckDB oracle uses — no lookarounds, no Java-only syntax). */
  val EmailPattern = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val Ipv4Pattern = "\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b"

  /** PII redaction: emails → `<EMAIL>`, IPv4 literals → `<IP>`.
    * Pure regexp_replace chain (codegen'd, no shuffle). Returns the
    * redacted text plus per-kind match counts — curation pipelines
    * track redaction rates as a data-quality signal. */
  def redactPii(df: DataFrame, textCol: String): DataFrame = {
    val t = col(textCol)
    df.withColumn("n_emails",
        size(regexp_extract_all(t, lit(EmailPattern), lit(0))))
      .withColumn("n_ips",
        size(regexp_extract_all(t, lit(Ipv4Pattern), lit(0))))
      .withColumn("redacted",
        regexp_replace(regexp_replace(t, EmailPattern, "<EMAIL>"),
          Ipv4Pattern, "<IP>"))
  }

  /** Portable normalization patterns (RE2-compatible, same source
    * strings the DuckDB oracle uses — `\x{...}` escapes and explicit
    * whitespace classes, no Java-only syntax; Java's default `\s`
    * includes `\x0B` where RE2's does not, so `\s` never appears
    * here). Control chars except tab/newline, plus the zero-width
    * troika and the BOM/ZWNBSP. */
  val ControlZeroWidthPattern =
    "[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F\\x7F\\x{200B}\\x{200C}\\x{200D}\\x{FEFF}]"

  /** One-to-one typographic folds for `translate`: curly single
    * quotes + low-9 → `'`, curly double quotes + low-9 → `"`,
    * en/em-dash + minus-sign → `-`, NBSP → space. (The ellipsis
    * `…` is one-to-THREE and goes through regexp_replace instead.) */
  val TypographicFrom =
    "\u2018\u2019\u201A\u201C\u201D\u201E\u2013\u2014\u2212\u00A0"
  val TypographicTo = "'''\"\"\"--- "

  /** Text cleanup normalization — the display-preserving tier every
    * web-corpus pipeline runs before tokenization: fold typographic
    * quotes/dashes/NBSP to ASCII, expand `…` to `...`, normalize
    * CRLF and lone CR to `\n`, strip control and zero-width
    * characters, collapse horizontal whitespace runs, trim line
    * edges and the document ends. A pure codegen'd
    * translate+regexp_replace chain — no shuffle, no UDF — and
    * IDEMPOTENT (spec-pinned): re-normalizing a normalized corpus is
    * a no-op, so incremental pipelines can apply it unconditionally.
    * Deliberately NOT included: accent folding and unicode NFC —
    * locale/normalization tables differ across engines and library
    * versions, which would break cross-engine reproducibility of
    * downstream hash keys (the property [[ccnetHashKey]] exists to
    * protect). */
  def normalizeText(df: DataFrame, textCol: String,
                    outCol: String = "normalized"): DataFrame = {
    val folded = translate(col(textCol), TypographicFrom, TypographicTo)
    val dots = regexp_replace(folded, "\u2026", "...")
    val newlines = regexp_replace(dots, "\\r\\n?", "\n")
    val stripped = regexp_replace(newlines, ControlZeroWidthPattern, "")
    val collapsed = regexp_replace(stripped, "[ \\t]+", " ")
    val lineTrim = regexp_replace(collapsed, " ?\\n ?", "\n")
    // document-end newlines: `trim` strips only spaces (both engines),
    // so a trailing-newline variant would otherwise survive every fold
    // and defeat the dedup collapse this operator feeds
    val docTrim = regexp_replace(lineTrim, "^\\n+|\\n+$", "")
    df.withColumn(outCol, trim(docTrim))
  }

  /** CCNet-style hash-normalization key (Wenzek et al. 2019 §4.1:
    * "lowercase, replace numbers, remove punctuation"): lowercase →
    * every digit folded to `0` → everything that is not a unicode
    * letter/number/whitespace removed → whitespace collapsed →
    * trimmed. NOT a replacement text — a canonical KEY for exact
    * dedup, so near-identical boilerplate differing only in case,
    * serial numbers or punctuation collapses to one hash. Feed it to
    * [[Dedup.exact]]/[[Dedup.buildExactIndex]] as the key column.
    * Explicit `[ \t\n\f\r]` whitespace class, `\p{L}\p{N}` unicode
    * categories — both portable between Java regex and RE2. */
  def ccnetHashKey(text: Column): Column =
    trim(regexp_replace(regexp_replace(regexp_replace(lower(text),
      "[0-9]", "0"),
      "[^\\p{L}\\p{N} \\t\\n\\f\\r]", ""),
      "[ \\t\\n\\f\\r]+", " "))

  /** Stratified deterministic sampling — `sampleBy` without RNG state:
    * each stratum keeps rows whose hash bucket falls under its own
    * rate, so membership is a pure function of (key, stratum rate) and
    * survives re-runs, repartitioning and engine changes. Strata
    * missing from `rates` get `defaultRate`. One codegen'd filter; no
    * shuffle, no per-stratum jobs. */
  def stratifiedHashSample(df: DataFrame, keyCol: String, strataCol: String,
                           rates: Map[String, Double],
                           defaultRate: Double = 0.0,
                           buckets: Int = 1000000,
                           hashFn: Column => Column = xxhash64(_)): DataFrame = {
    val b = TextAnalysis.hashBucket(col(keyCol), buckets, hashFn)
    // round like hashSplit: 0.3 × 1e6 is 299999.99… in binary
    val cut = rates.toSeq.sortBy(_._1)
      .foldLeft(lit(math.round(defaultRate * buckets))) { case (acc, (s, r)) =>
        when(col(strataCol) === s, lit(math.round(r * buckets))).otherwise(acc)
      }
    df.filter(b < cut)
  }

  /** Intra-document repetition removal: drop repeated lines (split on
    * `sep`), keeping each line's FIRST occurrence and the original
    * order — the boilerplate/chorus filter every web-corpus pipeline
    * runs. One explode + one (doc, line) aggregate + one per-doc
    * re-assembly aggregate; group keys carry the doc id, so the work
    * hash-partitions across the cluster (no windows, no driver text).
    * Empty lines are preserved-once like any other repeated line. */
  def dropRepeatedLines(df: DataFrame, idCol: String, textCol: String,
                        sep: String = "\n"): DataFrame = {
    val lines = df.select(col(idCol),
      posexplode(split(col(textCol), java.util.regex.Pattern.quote(sep)))
        .as(Seq("pos", "line")))
    val firsts = lines.groupBy(col(idCol), col("line"))
      .agg(min(col("pos")).as("pos"))
    val rebuilt = firsts.groupBy(col(idCol))
      .agg(array_sort(collect_list(struct(col("pos"), col("line"))))
        .as("parts"))
      .select(col(idCol),
        concat_ws(sep, expr("transform(parts, p -> p.line)")).as("dedup_text"),
        size(col("parts")).as("n_unique_lines"))
    df.join(rebuilt, Seq(idCol))
      .withColumn("n_lines",
        size(split(col(textCol), java.util.regex.Pattern.quote(sep))))
  }

  /** Cross-document boilerplate removal: drop every line whose
    * DOCUMENT frequency exceeds `maxDocFrac` of the corpus — the
    * cross-corpus complement of [[dropRepeatedLines]] (which dedups
    * within one document): navigation chrome, cookie banners and
    * subscription prompts repeat across a site's pages, not within one
    * page, so no per-doc filter can see them.
    *
    * Scale shape: one explode + one (line → distinct-doc count) hash
    * aggregate; the 1-row corpus count broadcasts; the boilerplate set
    * joins back as a hash anti join on `line` — NOT broadcast-hinted
    * (a template-heavy corpus can push the above-threshold line set
    * past driver memory; AQE broadcasts when it measures small).
    * Reassembly keeps every surviving line occurrence in original
    * order; a doc whose every line is boilerplate survives with empty
    * text (`n_kept_lines` 0) rather than vanishing. */
  def dropBoilerplateLines(df: DataFrame, idCol: String, textCol: String,
                           maxDocFrac: Double, sep: String = "\n"): DataFrame = {
    val sepQ = java.util.regex.Pattern.quote(sep)
    val lines = df.select(col(idCol),
      posexplode(split(col(textCol), sepQ)).as(Seq("pos", "line")))
    val nDocs = df.select(countDistinct(col(idCol)).as("__nd"))
    val boiler = lines.groupBy(col("line"))
      .agg(countDistinct(col(idCol)).as("__df"))
      .crossJoin(broadcast(nDocs))
      .filter(col("__df").cast("double") >
        lit(maxDocFrac) * col("__nd").cast("double"))
      .select("line")
    val rebuilt = lines.join(boiler, Seq("line"), "left_anti")
      .groupBy(col(idCol))
      .agg(array_sort(collect_list(struct(col("pos"), col("line"))))
        .as("parts"))
      .select(col(idCol),
        concat_ws(sep, expr("transform(parts, p -> p.line)")).as("clean_text"),
        size(col("parts")).as("n_kept_lines"))
    df.join(rebuilt, Seq(idCol), "left")
      .withColumn("clean_text", coalesce(col("clean_text"), lit("")))
      .withColumn("n_kept_lines", coalesce(col("n_kept_lines"), lit(0)))
      .withColumn("n_lines", size(split(col(textCol), sepQ)))
  }

  /** Cross-corpus paragraph-level exact deduplication, in the
    * Lee et al. 2022 ("Deduplicating Training Data Makes Language
    * Models Better") paragraph-granularity discipline: every
    * paragraph occurrence after the corpus-wide FIRST (lowest
    * (`idCol`, position)) is removed, including repeats within one
    * document — finer-grained than document dedup (which misses a
    * duplicated paragraph inside otherwise-distinct docs) and
    * stricter than [[dropBoilerplateLines]] (which only drops units
    * above a frequency threshold and keeps every occurrence of rare
    * ones — here even the second occurrence drops).
    *
    * Scale shape: one explode + one hash aggregate keyed by the
    * paragraph (min-struct first-occurrence — partial-aggregatable,
    * no window over the corpus), one join back on the paragraph key
    * (self-shaped, hash-partitioned — NOT broadcast: the distinct
    * paragraph set is corpus-sized), one per-doc reassembly
    * aggregate. A doc whose every paragraph drops survives with empty
    * text (`n_kept_paras` 0) rather than vanishing. */
  def dropDuplicateParagraphs(df: DataFrame, idCol: String, textCol: String,
                              sep: String = "\n\n"): DataFrame = {
    val sepQ = java.util.regex.Pattern.quote(sep)
    val paras = df.select(col(idCol),
      posexplode(split(col(textCol), sepQ)).as(Seq("pos", "para")))
    val firsts = paras.groupBy(col("para"))
      .agg(min(struct(col(idCol).as("fid"), col("pos").as("fpos"))).as("f"))
    val kept = paras.join(firsts, Seq("para"))
      .filter(col(idCol) === col("f.fid") && col("pos") === col("f.fpos"))
    val rebuilt = kept.groupBy(col(idCol))
      .agg(array_sort(collect_list(struct(col("pos"), col("para"))))
        .as("parts"))
      .select(col(idCol),
        concat_ws(sep, expr("transform(parts, p -> p.para)")).as("clean_text"),
        size(col("parts")).as("n_kept_paras"))
    df.join(rebuilt, Seq(idCol), "left")
      .withColumn("clean_text", coalesce(col("clean_text"), lit("")))
      .withColumn("n_kept_paras", coalesce(col("n_kept_paras"), lit(0)))
      .withColumn("n_paras", size(split(col(textCol), sepQ)))
  }

  /** Corpus-wide exact substring-span deduplication — the
    * finest-grained member of the exact-dedup family (document →
    * paragraph → SPAN), in the Lee et al. 2022 ("Deduplicating
    * Training Data Makes Language Models Better") exact-substring
    * discipline, word-anchored: every word `n`-gram occurrence after
    * the corpus-wide FIRST (lowest (`idCol`, position)) marks its `n`
    * covered words for removal, so any repeated run of ≥ `n` words —
    * licence blocks, quoted passages, templated sentences — survives
    * exactly once, at arbitrary positions inside otherwise-distinct
    * documents (including repeats within ONE document). Unlike the
    * suffix-array construction of the paper this needs no global
    * order: overlapping duplicated grams tile a duplicated run of
    * length L ≥ n and mark all of it; runs shorter than `n` words are
    * below the anchor resolution and are kept (the paper's `min
    * match` serves the same role). The globally-first occurrence of a
    * duplicated gram keeps its words UNLESS an overlapping different
    * gram (first seen elsewhere) removes them — deterministic, if not
    * order-independent in the keep-position sense; decisions are a
    * pure function of the corpus.
    *
    * Output text is rebuilt from the surviving words joined by single
    * spaces (whitespace-normalised — same contract as
    * [[dropBoilerplateLines]]' line reassembly), plus
    * `n_kept_words`/`n_words` so callers can filter gutted docs.
    *
    * Scale shape: one gram explode (each word enters `n` gram rows),
    * one partial-aggregatable min-struct/count aggregate keyed by the
    * gram, one big-big hash join of occurrences against the
    * DUPLICATED grams only (a semi-join-shaped fraction of the gram
    * table), a distinct on covered (doc, wordpos) pairs bounded by
    * corpus word count, one anti join and one per-doc reassembly
    * aggregate. Nothing is quadratic and nothing is a window over the
    * corpus. By default grams are keyed on the gram STRING — exact,
    * no collision channel, the gate-able configuration — at the cost
    * of shuffling ~`n`× the text bytes through the aggregate;
    * `hashGrams = true` keys on a 128-bit double xxhash64 instead
    * (16-byte fixed-width shuffle rows — the 100 TB path), which can
    * wrongly delete a span only on a 128-bit collision
    * (~`grams²/2^129`: negligible even at 10^13 grams, and the blast
    * radius is one n-word span, not a document). */
  def dropDuplicateSpans(df: DataFrame, idCol: String, textCol: String,
                         n: Int = 10,
                         hashGrams: Boolean = false): DataFrame = {
    val toks = df.select(col(idCol),
      split(trim(col(textCol)), "\\s+").as("__tk"))
      .withColumn("__W", size(col("__tk")))
    // grams at every word position (1-based): docs shorter than n
    // words contribute none (sequence() would count DOWN for a
    // negative span, so the filter is load-bearing)
    val occ = toks.filter(col("__W") >= n)
      .select(col(idCol), explode(expr(
        s"transform(sequence(1, __W - ${n - 1}), " +
          s"p -> named_struct('p', p, 'g', concat_ws(' ', slice(__tk, p, $n))))"))
        .as("e"))
      .select(col(idCol), col("e.p").as("p"), col("e.g").as("g"))
    val keyed =
      (if (hashGrams)
        occ.select(col(idCol), col("p"), Dedup.hash128(col("g")).as("k"))
      else occ.withColumnRenamed("g", "k"))
        // consumed twice (dupFirsts aggregate + join probe); without a
        // persist the ~n× text explode and its shuffle run twice at scale
        .persist()
    val dupFirsts = keyed.groupBy(col("k"))
      .agg(count(lit(1)).as("__c"),
        min(struct(col(idCol).as("fid"), col("p").as("fp"))).as("f"))
      .filter(col("__c") > 1)
      .select(col("k"), col("f"))
    val del = keyed.join(dupFirsts, Seq("k"))
      .filter(!(col(idCol) === col("f.fid") && col("p") === col("f.fp")))
    // eagerly materialize the (small) covered-word set into a PERSIST,
    // not a localCheckpoint: the one job it runs scans the persisted
    // `keyed` once for the aggregate and once for the probe (cache
    // hit), after which the ~n× gram block is released immediately.
    // persist keeps the LINEAGE, so an executor loss after keyed is
    // gone recomputes covered (slower — keyed rebuilds uncached — but
    // correct), where a localCheckpoint's non-reliable blocks would
    // fail every downstream job. `covered` then lives as
    // session-lifecycle cache like the gram tables (MEMORY_AND_DISK,
    // LRU-evictable; drivers clearCache between queries) — the
    // returned frame is lazy, so this function cannot know when its
    // consumers finish. The finally keeps `keyed` from staying pinned
    // if the materialization job throws.
    val covered = del
      .select(col(idCol), explode(expr(s"sequence(p, p + ${n - 1})")).as("w"))
      .distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try covered.count()
    finally keyed.unpersist()
    removeCoveredWords(df, covered, idCol, textCol)
  }

  /** Shared removal/reassembly tail of the span operators
    * ([[dropDuplicateSpans]], [[redactContaminatedSpans]]): drop the
    * 1-based word positions listed in `covered` (columns `idCol`,
    * `w`) from each document and rebuild the text from the survivors
    * joined by single spaces. Returns `df` plus `clean_text`,
    * `n_kept_words`, `n_words`; a fully-covered doc survives with
    * empty text. One anti join + one per-doc reassembly aggregate. */
  private def removeCoveredWords(df: DataFrame, covered: DataFrame,
                                 idCol: String, textCol: String)
      : DataFrame = {
    val words = df
      .select(col(idCol), split(trim(col(textCol)), "\\s+").as("__tk"))
      .select(col(idCol), posexplode(col("__tk")).as(Seq("w0", "word")))
      .select(col(idCol), (col("w0") + 1).as("w"), col("word"))
    val rebuilt = words.join(covered, Seq(idCol, "w"), "left_anti")
      .groupBy(col(idCol))
      .agg(array_sort(collect_list(struct(col("w"), col("word"))))
        .as("parts"))
      .select(col(idCol),
        concat_ws(" ", expr("transform(parts, x -> x.word)")).as("clean_text"),
        size(col("parts")).as("n_kept_words"))
    df.join(rebuilt, Seq(idCol), "left")
      .withColumn("clean_text", coalesce(col("clean_text"), lit("")))
      .withColumn("n_kept_words", coalesce(col("n_kept_words"), lit(0)))
      .withColumn("n_words", size(split(trim(col(textCol)), "\\s+")))
  }

  /** Surgical span-level decontamination — the cross-corpus sibling
    * of [[dropDuplicateSpans]] and the span-granular complement of
    * [[TextAnalysis.fuzzyDecontaminate]]: instead of DROPPING a
    * training document that contains benchmark text, REMOVE exactly
    * the contaminated spans (every word `n`-gram of the training doc
    * that appears anywhere in the benchmark corpus marks its `n`
    * covered words) and keep the rest. The right tool when a long,
    * otherwise-clean document quotes one benchmark item — doc-level
    * decontamination deletes real signal there, and threshold scoring
    * can miss a short quote inside a long doc entirely (the
    * containment score dilutes with doc length; a planted span's
    * grams match at 100% regardless).
    *
    * Overlapping benchmark grams tile any shared run of ≥ n words, so
    * a quoted passage is excised whole; runs shorter than `n` words
    * are below the anchor resolution (same contract as
    * [[dropDuplicateSpans]]). Reassembly whitespace-normalises.
    * Output keeps every training doc (possibly with empty
    * `clean_text`) plus `n_removed_words` so callers can drop gutted
    * docs.
    *
    * Scale shape: the benchmark gram set is DISTINCT (bounded by
    * benchmark size — typically the small side, but the join is a
    * hash semi-join either way, never broadcast-assumed), the
    * training gram table is one explode, and removal is the same
    * covered-word anti join + per-doc reassembly as
    * [[dropDuplicateSpans]]. Grams are string-keyed: exact, no
    * collision channel — for decontamination a false-positive
    * deletion is tolerable but a false NEGATIVE (collision-free
    * hashing admits nothing extra; only non-matching spans survive)
    * must not happen, and strings make both directions exact. */
  def redactContaminatedSpans(train: DataFrame, benchmark: DataFrame,
                              idCol: String, textCol: String,
                              n: Int = 8): DataFrame = {
    def grams(df: DataFrame, withId: Boolean): DataFrame = {
      val base = df.select(
        (if (withId) col(idCol) else lit(0L).as(idCol)),
        split(trim(col(textCol)), "\\s+").as("__tk"))
        .withColumn("__W", size(col("__tk")))
        .filter(col("__W") >= n)
        .select(col(idCol), explode(expr(
          s"transform(sequence(1, __W - ${n - 1}), " +
            s"p -> named_struct('p', p, 'g', concat_ws(' ', slice(__tk, p, $n))))"))
          .as("e"))
      if (withId) base.select(col(idCol), col("e.p").as("p"), col("e.g").as("g"))
      else base.select(col("e.g").as("g"))
    }
    val benchGrams = grams(benchmark, withId = false).distinct()
    val hits = grams(train, withId = true)
      .join(benchGrams, Seq("g"), "left_semi")
    val covered = hits
      .select(col(idCol), explode(expr(s"sequence(p, p + ${n - 1})")).as("w"))
      .distinct()
    removeCoveredWords(train, covered, idCol, textCol)
      .withColumn("n_removed_words", col("n_words") - col("n_kept_words"))
  }

  /** Per-key document cap — the "at most N documents per domain"
    * primitive of web-corpus pipelines (RefinedWeb-style source
    * balancing): each key keeps its first `maxPerKey` documents in
    * id-hash order, so membership is a pure function of (id, key) —
    * re-runs, engines, input order and partitioning all agree — and
    * no single domain (a crawler trap, a mirror farm, one
    * over-represented site) can dominate the mix. The deterministic
    * sibling of a per-group random sample, keyed the same way as
    * [[stratifiedHashSample]] but with an absolute COUNT bound
    * instead of a rate: a rate keeps a mega-domain mega-sized.
    *
    * Scale shape: one window partitioned by the key — and the rank
    * filter is what makes it skew-proof, not just skew-tolerant:
    * Catalyst rewrites `row_number() ≤ k` into a WindowGroupLimit
    * whose PARTIAL mode runs below the exchange (each map task keeps
    * only its local top `maxPerKey` per key before shuffling), so
    * even a pathological single-key flood (half the corpus one
    * domain) lands at most `maxPerKey × map partitions` rows on the
    * flood key's reducer — the two-phase pre-cap one would hand-roll,
    * built into the engine with no extra shuffle. This is exactly why
    * the filter is expressed as a literal bound on `row_number()`
    * rather than anything the rewrite can't see; the plan shape and
    * the bounded reducer are both flood-spec'd in PlanSpec. */
  def capPerKey(df: DataFrame, keyCol: String, idCol: String,
                maxPerKey: Int,
                hashFn: Column => Column = xxhash64(_)): DataFrame = {
    require(maxPerKey > 0, "need maxPerKey > 0")
    val w = Window.partitionBy(col(keyCol))
      .orderBy(hashFn(col(idCol).cast("string")), col(idCol))
    df.withColumn("__r", row_number().over(w))
      .filter(col("__r") <= maxPerKey).drop("__r")
  }

  /** Deterministic token-budget sampling — the mixing primitive for
    * "take N tokens of domain X": documents are taken in hash order
    * until the running token total reaches the budget, so membership
    * is a pure function of the corpus (re-runs, engines, input order
    * and partitioning all agree on the kept set). Unlike the
    * rate-based [[TextAnalysis.hashSample]], membership is NOT stable
    * under corpus growth: a new id can hash-sort ahead of old ones and
    * push them past the budget — budget sampling fixes the token
    * TOTAL, so growth must displace someone.
    *
    * The budget splits evenly over `shards` hash shards and the
    * running total is a per-shard window — the same parallelism
    * discipline as [[packSequences]]; a global ordered cumsum would be
    * a single-partition window. A doc is kept iff the tokens BEFORE it
    * in its shard are under the shard budget, so each shard overshoots
    * by at most one document (and a doc larger than the whole shard
    * budget can only be taken first). */
  def sampleToTokenBudget(df: DataFrame, idCol: String, tokensCol: String,
                          budgetTokens: Long, shards: Int = 64,
                          hashFn: Column => Column = xxhash64(_)): DataFrame = {
    require(shards > 0 && budgetTokens >= 0, "need shards > 0, budget >= 0")
    val h = hashFn(col(idCol).cast("string"))
    val w = Window.partitionBy(col("__shard")).orderBy(col("__h"), col(idCol))
      .rowsBetween(Window.unboundedPreceding, -1)
    df.withColumn("__h", h)
      .withColumn("__shard", pmod(col("__h"), lit(shards.toLong)))
      .withColumn("__prior", coalesce(sum(col(tokensCol)).over(w), lit(0L)))
      .filter(col("__prior") < lit(budgetTokens / shards))
      .drop("__h", "__shard", "__prior")
  }

  /** Corpus VERSION diff — the release-engineering step between two
    * dataset versions: per-doc status `added` (id only in `next`),
    * `removed` (id only in `prev`), `changed` (both, text differs) or
    * `unchanged`. A training-data release ships this next to the
    * datasheet ([[TextAnalysis.corpusDatasheet]]) so consumers see
    * exactly what moved under them; feed the summary to CI to refuse
    * surprise churn.
    *
    * Scale shape: each side is projected to (id, 128-bit text hash)
    * BEFORE the join — the one full-outer hash join on the id shuffles
    * 16-byte rows, never text (bucket both versions on `idCol` at
    * write time and it is co-located shuffle-free). `changed` compares
    * the [[Dedup.hash128]] struct (the q87 discipline): a false
    * `unchanged` needs a 128-bit collision between two versions of
    * the SAME document (~2^-128 per doc — and the blast radius is one
    * report row, not a deletion); a doc null in BOTH versions is
    * `unchanged` (null-safe struct equality). Returns (idCol,
    * status); `groupBy("status").count()` for the summary. */
  def corpusDiff(prev: DataFrame, next: DataFrame,
                 idCol: String, textCol: String): DataFrame = {
    def slim(df: DataFrame, h: String) = df.select(col(idCol),
      Dedup.hash128(col(textCol)).as(h))
    // a NULL text still hashes (Spark hash exprs skip null inputs, so
    // the struct is the seeds' hash — non-null): __hp/__hn are null
    // ONLY for a full-outer miss, and two null-text versions compare
    // equal → `unchanged`, the null-safe semantics the oracle mirrors
    // with IS NOT DISTINCT FROM
    slim(prev, "__hp").join(slim(next, "__hn"), Seq(idCol), "full_outer")
      .select(col(idCol),
        when(col("__hp").isNull, lit("added"))
          .when(col("__hn").isNull, lit("removed"))
          .when(col("__hp") === col("__hn"), lit("unchanged"))
          .otherwise(lit("changed")).as("status"))
  }

  /** The CI-facing release gate [[corpusDiff]]'s docstring promises:
    * per-status churn counts and fractions with a pass/fail verdict
    * against caller thresholds, in the same long (metric, value)
    * shape as [[TextAnalysis.corpusDatasheet]] so the two ship as one
    * release artifact — feed it to CI and refuse surprise churn.
    *
    * Metrics: `diff:n_prev/n_next/n_added/n_removed/n_changed/
    * n_unchanged` (sizes derived from ONE aggregate over the diff —
    * prev = removed + changed + unchanged, next = added + changed +
    * unchanged, so neither corpus is re-counted), `diff:added_frac`
    * (share of the NEW corpus that is new docs), `diff:removed_frac`
    * / `diff:changed_frac` (shares of the PREVIOUS corpus that
    * vanished / moved — the consumer-facing denominators: "X% of what
    * you trained on is gone/different"), the echoed `gate:max_*`
    * thresholds (so the CI log is self-describing), and `gate:pass`
    * (1.0/0.0 — every fraction at or under its threshold; empty
    * corpora score 0 churn, and an empty→empty diff passes).
    *
    * Scale shape: [[corpusDiff]] already projects both sides to
    * (id, 128-bit hash) before its one full-outer join; this adds one
    * global aggregate over that join's output (partial-combining,
    * six counters) and a constant-width projection — nothing here
    * grows with corpus size except the diff itself. */
  def corpusReleaseGate(prev: DataFrame, next: DataFrame,
                        idCol: String, textCol: String,
                        maxAddedFrac: Double = 1.0,
                        maxRemovedFrac: Double = 1.0,
                        maxChangedFrac: Double = 1.0): DataFrame = {
    // coalesce: an empty diff (both corpora empty) sums to NULL, and
    // the gate must report zero churn + pass, not a null row
    def n(s: String): Column =
      coalesce(sum(when(col("status") === s, 1L).otherwise(0L)), lit(0L))
        .cast("double")
    val agg = corpusDiff(prev, next, idCol, textCol).agg(
      n("added").as("n_added"), n("removed").as("n_removed"),
      n("changed").as("n_changed"), n("unchanged").as("n_unchanged"))
    val frac = (num: Column, den: Column) =>
      when(den > 0, num / den).otherwise(lit(0.0))
    val wide = agg
      .withColumn("n_prev", col("n_removed") + col("n_changed") + col("n_unchanged"))
      .withColumn("n_next", col("n_added") + col("n_changed") + col("n_unchanged"))
      .withColumn("added_frac", frac(col("n_added"), col("n_next")))
      .withColumn("removed_frac", frac(col("n_removed"), col("n_prev")))
      .withColumn("changed_frac", frac(col("n_changed"), col("n_prev")))
      .withColumn("pass",
        (col("added_frac") <= maxAddedFrac &&
          col("removed_frac") <= maxRemovedFrac &&
          col("changed_frac") <= maxChangedFrac).cast("double"))
    wide.select(expr(
      s"""stack(13,
         'diff:n_prev', n_prev, 'diff:n_next', n_next,
         'diff:n_added', n_added, 'diff:n_removed', n_removed,
         'diff:n_changed', n_changed, 'diff:n_unchanged', n_unchanged,
         'diff:added_frac', added_frac, 'diff:removed_frac', removed_frac,
         'diff:changed_frac', changed_frac,
         'gate:max_added_frac', CAST($maxAddedFrac AS DOUBLE),
         'gate:max_removed_frac', CAST($maxRemovedFrac AS DOUBLE),
         'gate:max_changed_frac', CAST($maxChangedFrac AS DOUBLE),
         'gate:pass', pass) AS (metric, value)"""))
      .select(col("metric"), round(col("value"), 6).as("value"))
      .orderBy(col("metric"))
  }

  /** The complete release artifact [[corpusDiff]]'s docstring
    * promises: the churn gate JOINED with the new version's
    * datasheet — [[corpusReleaseGate]]'s rows unioned with
    * [[TextAnalysis.corpusDatasheet]] over `next`, its metrics
    * prefixed `next:`. One (metric, value) table to publish with a
    * corpus release and gate CI on (`gate:pass`, plus whatever
    * absolute datasheet bounds the consumer enforces). `exact =
    * false` passes the datasheet's sketch tier through for the
    * 100 TB corpus. */
  def corpusReleaseReport(prev: DataFrame, next: DataFrame,
                          idCol: String, textCol: String,
                          langCol: Option[String] = None,
                          maxAddedFrac: Double = 1.0,
                          maxRemovedFrac: Double = 1.0,
                          maxChangedFrac: Double = 1.0,
                          exact: Boolean = true): DataFrame =
    corpusReleaseGate(prev, next, idCol, textCol,
        maxAddedFrac, maxRemovedFrac, maxChangedFrac)
      .unionByName(TextAnalysis
        .corpusDatasheet(next, idCol, textCol, langCol, exact)
        .select(concat(lit("next:"), col("metric")).as("metric"),
          col("value")))
      .orderBy(col("metric"))

  /** Sliding-window token chunking with overlap — the
    * context-window splitter for RAG / long-doc training prep: the
    * token stream is cut into windows of `chunkTokens` advancing by
    * `chunkTokens - overlap` (the stride), so consecutive chunks share
    * `overlap` tokens. Emits one row per (doc, chunk) with the chunk
    * index, its token count and text. Pure per-row generator (explode
    * over index arithmetic — no shuffle, no window): a doc of n tokens
    * yields 1 chunk when n ≤ chunkTokens, else
    * 1 + ceil((n − chunkTokens) / stride), the last chunk possibly
    * short. */
  def chunkByTokens(df: DataFrame, idCol: String, textCol: String,
                    chunkTokens: Int, overlap: Int = 0): DataFrame = {
    require(overlap >= 0 && overlap < chunkTokens,
      "overlap must be in [0, chunkTokens)")
    val stride = chunkTokens - overlap
    val toks = split(lower(trim(col(textCol))), "\\s+")
    df.withColumn("__tk", toks)
      .withColumn("__n", size(col("__tk")))
      // chunk count: ceil((n - chunk) / stride) extra chunks past the
      // first, in integer arithmetic (portable to the SQL oracle;
      // `div`, not `/` — the Column `/` is double division)
      .withColumn("__extra",
        greatest(lit(0L), expr(
          s"CAST(__n - $chunkTokens + $stride - 1 AS BIGINT) div $stride")))
      .select(col(idCol),
        explode(expr(s"transform(sequence(0, __extra), " +
          s"c -> struct(c AS chunk_id, " +
          s"slice(__tk, c * $stride + 1, $chunkTokens) AS toks))")).as("ch"))
      .select(col(idCol), col("ch.chunk_id").as("chunk_id"),
        size(col("ch.toks")).as("chunk_tokens"),
        concat_ws(" ", col("ch.toks")).as("chunk_text"))
  }

  /** Weighted domain mixing — deterministic fractional upsampling:
    * a row with weight w is repeated floor(w) times, plus once more
    * for the hash-selected fraction of rows (bucket < frac(w)·buckets)
    * — so the EXPECTED multiplicity is exactly w and the realized
    * multiset is a pure function of the keys (re-runs and engines
    * agree row-for-row, unlike RNG-based `sample`). Emits `copy`
    * (0-based repeat index) so downstream packing/shuffling can
    * distinguish repeats. The explode is the only row-growing step;
    * weights ≥ 0, weight 0 drops the row. */
  def upsampleByWeight(df: DataFrame, keyCol: String, weight: Column,
                       buckets: Int = 1000000,
                       hashFn: Column => Column = xxhash64(_)): DataFrame = {
    val b = TextAnalysis.hashBucket(col(keyCol), buckets, hashFn)
    val base = floor(weight).cast("long")
    val frac = weight - base
    val extra = (b < round(frac * buckets)).cast("long")
    val copies = (base + extra).as("__copies")
    df.withColumn("__copies", copies)
      .filter(col("__copies") > 0)
      .withColumn("copy", explode(sequence(lit(0L), col("__copies") - 1)))
      .drop("__copies")
  }

  /** DSIR-style importance weights (Xie et al. 2023, "Data Selection
    * for Language Models via Importance Resampling",
    * arXiv:2302.03169): each SOURCE document scores the
    * log-likelihood ratio of its hashed n-gram features under
    * bag-of-ngrams models fit on the TARGET corpus vs the source
    * itself — the published recipe for selecting pretraining data
    * that "looks like" a high-quality target set. Features are
    * whitespace unigrams + bigrams hashed into `buckets` buckets
    * (the paper's hashed n-gram parameterization); both models use
    * add-`smoothing` estimates, so buckets unseen in the target score
    * negatively rather than −∞.
    *
    * Returns (id, n_feats, logw):
    *   logw = Σ_b c_b · [ln((ct_b + a)/(Nt + aB)) − ln((cs_b + a)/(Ns + aB))]
    * with c_b the doc's bucket counts, ct/cs the target/source bucket
    * totals, Nt/Ns the corpus feature totals, B = `buckets`,
    * a = `smoothing`. Documents with no features (empty text) are
    * absent, as in [[TextAnalysis.unigramLogProb]].
    *
    * Scale shape: one explode + hash aggregate per corpus (the
    * per-doc count table's exchange is REUSED by the bucket-total
    * aggregate — one source scan); the log-ratio table is bounded by
    * `buckets` rows BY CONSTRUCTION, so its join back to per-doc
    * counts broadcasts no matter how large the corpora are; the
    * per-doc sum folds over the bucket-sorted term list (the
    * order-stable summation discipline of
    * [[TextAnalysis.unigramLogProb]], reproducible by an external
    * engine folding the same sorted list). */
  def dsirWeights(source: DataFrame, target: DataFrame, idCol: String,
                  textCol: String, buckets: Int = 1 << 16,
                  smoothing: Double = 1.0,
                  hashFn: Column => Column = xxhash64(_)): DataFrame = {
    def features(df: DataFrame): DataFrame = {
      val tk = split(lower(trim(col(textCol))), "\\s+")
      // bigrams: zip the token array with itself shifted by one —
      // zip_with pads the shorter side with null and concat propagates
      // it, so the trailing (t_n, null) pair drops in the filter
      df.select(col(idCol), tk.as("__tk"))
        .select(col(idCol), explode(concat(col("__tk"),
          zip_with(col("__tk"),
            slice(col("__tk"), lit(2), greatest(size(col("__tk")) - 1, lit(0))),
            (x, y) => concat(x, lit(" "), y)))).as("feat"))
        .filter(col("feat").isNotNull && col("feat") =!= "")
        .select(col(idCol),
          pmod(hashFn(col("feat")), lit(buckets.toLong)).as("bucket"))
    }
    val srcDoc = features(source).groupBy(col(idCol), col("bucket"))
      .agg(count(lit(1)).as("c"))
    val srcB = srcDoc.groupBy(col("bucket")).agg(sum(col("c")).as("cs"))
    val tgtB = features(target).groupBy(col("bucket"))
      .agg(count(lit(1)).as("ct"))
    val totals = srcB.agg(sum(col("cs")).as("__ns"))
      .crossJoin(tgtB.agg(sum(col("ct")).as("__nt")))
    val aB = smoothing * buckets
    val ratio = srcB.join(tgtB, Seq("bucket"), "left")
      .crossJoin(broadcast(totals))
      .withColumn("lr",
        log((coalesce(col("ct"), lit(0L)).cast("double") + smoothing) /
            (col("__nt").cast("double") + aB)) -
        log((col("cs").cast("double") + smoothing) /
            (col("__ns").cast("double") + aB)))
      .select(col("bucket"), col("lr"))
    srcDoc.join(broadcast(ratio), Seq("bucket"))
      .withColumn("term", col("c").cast("double") * col("lr"))
      .groupBy(col(idCol)).agg(
        sum(col("c")).as("n_feats"),
        aggregate(expr("array_sort(collect_list(struct(bucket, term)))"),
          lit(0.0), (acc, x) => acc + x.getField("term")).as("__w"))
      .select(col(idCol), col("n_feats"), round(col("__w"), 6).as("logw"))
  }

  /** DSIR selection: the top `k` source documents by importance
    * weight, by default through the Gumbel-top-k identity — adding
    * G_i = −ln(−ln(u_i)) to each log-weight and taking the top k IS
    * sampling without replacement with probability ∝ exp(logw)
    * (Efraimidis & Spirakis 2006 in Gumbel form, the paper's
    * resampling step). u_i is a DETERMINISTIC hash of the id, so the
    * "sample" is reproducible across runs and engines; `gumbel =
    * false` gives plain argmax-k selection. The selection key is
    * rounded to 6 decimals before ranking (ties broken by id), so the
    * rank order carries no engine-dependent last-ulp sensitivity.
    *
    * Scale shape: weights as [[dsirWeights]]; the k-selection is an
    * orderBy + limit — Spark's distributed top-k
    * (TakeOrderedAndProject), never a global sort or single-partition
    * window. */
  def dsirSelect(source: DataFrame, target: DataFrame, idCol: String,
                 textCol: String, k: Int, buckets: Int = 1 << 16,
                 smoothing: Double = 1.0, gumbel: Boolean = true,
                 hashFn: Column => Column = xxhash64(_)): DataFrame = {
    val m = 1 << 20
    val u = (pmod(hashFn(concat(col(idCol).cast("string"), lit(":dsir"))),
      lit(m.toLong)).cast("double") + 0.5) / m
    val key =
      if (gumbel) col("logw") - log(-log(u)) else col("logw") + lit(0.0)
    dsirWeights(source, target, idCol, textCol, buckets, smoothing, hashFn)
      .withColumn("sel_key", round(key, 6))
      .orderBy(col("sel_key").desc, col(idCol))
      .limit(k)
  }

  /** A fitted DSIR model: the DENSE per-bucket log-likelihood-ratio
    * table (`table(b)` = lr of hash bucket b; buckets unseen in both
    * corpora carry the smoothed default), ready for O(1) per-feature
    * scoring of NEW documents — the deployable artifact the batch
    * [[dsirWeights]] (which only ever scores its own source docs)
    * doesn't need. Size = `buckets` doubles (512 KB at the default
    * 2¹⁶), a broadcast-friendly plan constant. */
  final case class DsirModel(table: Array[Double]) {
    def buckets: Int = table.length
  }

  /** Fit a [[DsirModel]] from source and target corpora: the same
    * hashed unigram+bigram bucket counts and add-`smoothing` ratio as
    * [[dsirWeights]], but over the FULL OUTER bucket domain (a new
    * document can hit target-only or never-seen buckets) and
    * collected into a dense driver-side array — bounded by `buckets`
    * rows by construction, the same bound that lets dsirWeights
    * broadcast its ratio table. The default xxhash64 feature hash is
    * what the native [[dsirScore]] expression reproduces; a custom
    * `hashFn` (e.g. [[Dedup.md5Hash60]] for cross-engine oracles)
    * pairs with the Column-form [[dsirScoreCol]]. */
  def fitDsir(source: DataFrame, target: DataFrame, textCol: String,
              buckets: Int = 1 << 16, smoothing: Double = 1.0,
              hashFn: Column => Column = xxhash64(_)): DsirModel = {
    def bucketCounts(df: DataFrame, cnt: String): DataFrame = {
      val tk = split(lower(trim(col(textCol))), "\\s+")
      df.select(tk.as("__tk"))
        .select(explode(concat(col("__tk"),
          zip_with(col("__tk"),
            slice(col("__tk"), lit(2), greatest(size(col("__tk")) - 1, lit(0))),
            (x, y) => concat(x, lit(" "), y)))).as("feat"))
        .filter(col("feat").isNotNull && col("feat") =!= "")
        .groupBy(pmod(hashFn(col("feat")), lit(buckets.toLong)).as("bucket"))
        .agg(count(lit(1)).as(cnt))
    }
    val srcB = bucketCounts(source, "cs")
    val tgtB = bucketCounts(target, "ct")
    val rows = srcB.join(tgtB, Seq("bucket"), "full_outer")
      .select(col("bucket"), coalesce(col("cs"), lit(0L)).as("cs"),
        coalesce(col("ct"), lit(0L)).as("ct"))
      .collect()
    val ns = rows.map(_.getLong(1)).sum.toDouble
    val nt = rows.map(_.getLong(2)).sum.toDouble
    val aB = smoothing * buckets
    def lr(ct: Double, cs: Double): Double =
      math.log((ct + smoothing) / (nt + aB)) -
        math.log((cs + smoothing) / (ns + aB))
    val table = Array.fill(buckets)(lr(0.0, 0.0))
    rows.foreach { r =>
      table(r.getLong(0).toInt) = lr(r.getLong(2).toDouble, r.getLong(1).toDouble)
    }
    DsirModel(table)
  }

  /** Importance score of a text column under a fitted [[DsirModel]],
    * as ONE native per-row expression
    * ([[graft.expressions.DsirScore]]): whitespace-tokenize, hash
    * unigrams+bigrams (xxhash64, bit-identical to the batch
    * operator's feature hash), sum the dense table's per-bucket
    * ratios. A pure projection — usable verbatim in a STREAMING
    * ingest filter (no state, no join); documents with no features
    * (empty text) score null. Scores agree with [[dsirWeights]] up to
    * float-addition order (different summation order, same terms) —
    * round before comparing across the two. */
  def dsirScore(text: Column, model: DsirModel): Column =
    org.apache.spark.sql.GraftExpressionBridge.column(
      graft.expressions.DsirScore(
        org.apache.spark.sql.GraftExpressionBridge.expression(
          split(lower(trim(text)), "\\s+")),
        model.table))

  /** The same fitted-model score as [[dsirScore]] in plain Column
    * form, with a caller-chosen feature hash — the cross-engine-
    * verifiable path (an md5-hashed model's scores are reproducible
    * by any SQL engine; the native expression is xxhash64-only).
    *
    * The fold runs over the BUCKET-SORTED feature list, so the float
    * addition order is defined by the data, not the engine — an
    * external oracle folding the same sorted list reproduces the sum
    * exactly (the discipline of [[dsirWeights]]' bucket-sorted
    * terms). Still a pure projection: the dense table enters the plan
    * as a `buckets`-sized literal array, no join, no state. */
  def dsirScoreCol(text: Column, model: DsirModel,
                   hashFn: Column => Column = xxhash64(_)): Column = {
    val feats = featsCol(text)
    val tbl = lit(model.table)
    val bks = sort_array(transform(feats,
      f => pmod(hashFn(f), lit(model.buckets.toLong))))
    when(size(feats) > 0,
      aggregate(bks, lit(0.0),
        (acc, b) => acc + element_at(tbl, (b + lit(1)).cast("int"))))
      .otherwise(lit(null).cast("double"))
  }

  /** Filtered unigram+bigram feature list of a text column — THE
    * definition of the shared DSIR/LR feature space (consumers:
    * [[dsirScoreCol]], [[lrFeatures]], [[lrScoreCol]]); a tokenizer
    * or filter tweak lands on all of them at once or the streaming
    * projections silently desynchronize from the batch scorers. */
  private def featsCol(text: Column): Column = {
    val tk = split(lower(trim(text)), "\\s+")
    filter(
      concat(tk, zip_with(tk, slice(tk, lit(2), greatest(size(tk) - 1, lit(0))),
        (x, y) => concat(x, lit(" "), y))),
      f => f.isNotNull && f =!= "")
  }

  /** A fitted hashed-feature logistic-regression quality classifier
    * (the fastText/CCNet-style discriminative complement of the
    * generative [[DsirModel]]): `table(b)` is the weight of feature
    * hash bucket b, `bias` the intercept; `score = σ(bias + Σ_b
    * count_b · w_b)` over the same hashed unigram+bigram features as
    * DSIR. Size = `buckets` doubles — a broadcast-friendly plan
    * constant, same bound as [[DsirModel]]. */
  final case class LrModel(bias: Double, table: Array[Double]) {
    def buckets: Int = table.length
  }

  /** Per-document hashed-feature bucket counts — the shared feature
    * extraction of the DSIR family ([[dsirWeights]]): whitespace
    * unigrams + bigrams of the lowercased text, hashed into
    * `buckets`. Emits the raw count `c` and the SCALED feature
    * `x = c / sqrt(total)` — the model input. Scaling is
    * load-bearing, not cosmetic, and the exponent is too: on raw
    * counts a high-frequency token's weight × count product saturates
    * the sigmoid for every document after one GD round (all scores
    * ≈ 1, no separation — observed); on L1 frequencies (`c/total`)
    * a sparse marker's x² learning rate is ~1/total² and the fit
    * learns only the class prior in any reasonable round budget
    * (also observed). `c/sqrt(total)` sits at the unit-scale point —
    * approximately L2 normalisation for near-binary counts — where
    * per-round signal growth is O(1) and z stays bounded. One explode
    * + one partial-aggregatable count; the scale divisor is a pure
    * projection (no second per-doc aggregate). */
  private def lrFeatures(docs: DataFrame, idCol: String, textCol: String,
                         buckets: Int,
                         hashFn: Column => Column): DataFrame = {
    docs.select(col(idCol).as("__id"), featsCol(col(textCol)).as("__f"))
      .select(col("__id"), sqrt(size(col("__f")).cast("double")).as("__sc"),
        explode(col("__f")).as("feat"))
      .groupBy(col("__id"), col("__sc"),
        pmod(hashFn(col("feat")), lit(buckets.toLong)).as("bucket"))
      .agg(count(lit(1)).cast("double").as("c"))
      .withColumn("x", col("c") / col("__sc"))
  }

  /** Order-stable sum: fold the `term` column in `ord` order (the
    * [[dsirWeights]] discipline — float addition order is defined by
    * the data, so an external engine folding the same sorted list
    * reproduces the sum bit-for-bit). `ord` must be unique within the
    * group. */
  private def sortedFold(ord: String, term: String): Column =
    aggregate(expr(s"array_sort(collect_list(struct($ord, $term)))"),
      lit(0.0), (acc, x) => acc + x.getField(term))

  /** Fit an [[LrModel]] by full-batch gradient descent: `iters`
    * rounds of `w ← w − η · Σ_i (σ(z_i) − y_i) x_i / n` from a zero
    * initial model (so round 1's predictions are exactly 0.5 — the
    * property that lets an external oracle unroll the fit in closed
    * form), where `x_i` are sqrt-total-scaled features (bucket count
    * / sqrt(doc feature total) — see [[lrFeatures]] for why raw
    * counts saturate and L1 frequencies stall). Labels are `labelCol`
    * cast to double (0/1).
    *
    * Deterministic by construction: per-document scores fold weight
    * terms in BUCKET order and per-bucket gradients fold error terms
    * in DOCUMENT order (`exactFold = true`, the gate configuration) —
    * reproducible across runs, partitionings and engines.
    * `exactFold = false` replaces the folds with plain `sum` — the
    * 100 TB path (partial-aggregatable, no per-group arrays) whose
    * result differs only by float-addition order.
    *
    * Scale shape per round: the weight table enters the plan as a
    * `buckets`-sized literal (same trick as [[dsirScoreCol]] — no
    * join against a weight table at all), so scoring is one hash
    * aggregate over the persisted (doc, bucket, count) table, and the
    * gradient is one join of that table against the n-row score frame
    * plus one aggregate keyed by bucket, collected at ≤ `buckets`
    * rows — the same driver-side bound as [[fitDsir]]. Documents with
    * zero features (empty text) carry no gradient signal and are
    * excluded from `n`. */
  def fitQualityLr(docs: DataFrame, idCol: String, textCol: String,
                   labelCol: String, buckets: Int = 1 << 16,
                   iters: Int = 2, stepSize: Double = 2.0,
                   hashFn: Column => Column = xxhash64(_),
                   exactFold: Boolean = true): LrModel = {
    val xb = lrFeatures(docs, idCol, textCol, buckets, hashFn)
      .join(docs.select(col(idCol).as("__id"),
        col(labelCol).cast("double").as("__y")), Seq("__id"))
      .persist()
    val n = xb.select(col("__id")).distinct().count().toDouble
    require(n > 0, "fitQualityLr: no documents with features")
    var bias = 0.0
    val w = Array.fill(buckets)(0.0)
    for (_ <- 1 to iters) {
      val zc = col("x") * element_at(lit(w), (col("bucket") + 1).cast("int"))
      val scored = xb.withColumn("__term", zc)
        .groupBy(col("__id"), col("__y"))
        .agg((if (exactFold) sortedFold("bucket", "__term")
              else sum(col("__term"))).as("__z"))
        .select(col("__id"),
          (lit(1.0) / (lit(1.0) + exp(-(lit(bias) + col("__z")))) -
            col("__y")).as("__e"))
        .persist()
      val grad = xb.join(scored, Seq("__id"))
        .withColumn("__gt", col("__e") * col("x"))
        .groupBy(col("bucket"))
        .agg((if (exactFold) sortedFold("__id", "__gt")
              else sum(col("__gt"))).as("g"))
        .collect()
      val gBias = scored.agg(
          (if (exactFold) sortedFold("__id", "__e")
           else sum(col("__e"))).as("g"))
        .head().getDouble(0)
      scored.unpersist()
      grad.foreach { r =>
        val b = r.getLong(0).toInt
        w(b) -= stepSize * r.getDouble(1) / n
      }
      bias -= stepSize * gBias / n
    }
    xb.unpersist()
    LrModel(bias, w)
  }

  /** Batch scores under a fitted [[LrModel]], with EXACTLY the fit's
    * arithmetic (per-doc bucket counts × weights folded in bucket
    * order) — the frame to gate against an external oracle. Documents
    * with zero features produce no row (they have no defined feature
    * score; callers left-join and decide). One aggregate keyed by
    * `idCol`; the model is a plan literal, so this is join-free. */
  def lrScore(docs: DataFrame, idCol: String, textCol: String,
              model: LrModel,
              hashFn: Column => Column = xxhash64(_),
              exactFold: Boolean = true): DataFrame =
    lrFeatures(docs, idCol, textCol, model.buckets, hashFn)
      .withColumn("__term",
        col("x") * element_at(lit(model.table), (col("bucket") + 1).cast("int")))
      .groupBy(col("__id"))
      .agg(sum(col("c")).cast("long").as("n_feats"),
        (if (exactFold) sortedFold("bucket", "__term")
         else sum(col("__term"))).as("__z"))
      .select(col("__id").as(idCol), col("n_feats"),
        (lit(1.0) / (lit(1.0) + exp(-(lit(model.bias) + col("__z")))))
          .as("score"))

  /** The same fitted-classifier score as ONE pure projection (no
    * explode, no aggregate) — the STREAMING admission-filter form,
    * shaped like [[dsirScoreCol]]: fold the per-occurrence weights
    * over the bucket-sorted feature list and divide by sqrt(feature
    * count) — the sqrt-total scaling of [[lrFeatures]]. (Σw)/√n
    * differs from the batch form's Σ(count/√n × w) in float order
    * only — agreement is to ~1e-12, not bit-exact; gate the BATCH
    * form, spec-pin this one against it.
    * Documents with no features score null. */
  def lrScoreCol(text: Column, model: LrModel,
                 hashFn: Column => Column = xxhash64(_)): Column = {
    val feats = featsCol(text)
    val tbl = lit(model.table)
    val bks = sort_array(transform(feats,
      f => pmod(hashFn(f), lit(model.buckets.toLong))))
    when(size(feats) > 0,
      lit(1.0) / (lit(1.0) + exp(-(lit(model.bias) +
        aggregate(bks, lit(0.0),
          (acc, b) => acc + element_at(tbl, (b + lit(1)).cast("int"))) /
          sqrt(size(feats).cast("double"))))))
      .otherwise(lit(null).cast("double"))
  }

  // ──────────────────────────────────────────────────────────────────
  // Durable rooted faces + ONE-CALL maintenance windows for the two
  // FITTED curation artifacts — the LR quality weights ([[LrModel]])
  // and the DSIR importance ratios ([[DsirModel]]). Both rot exactly
  // the way the trigram LM does ([[TextAnalysis.maintainTrigramLm]]):
  // a model fitted once goes silently blind as the corpus moves — a
  // fresh-domain feature hashes to a bucket the fit never saw, so the
  // LR contributes weight 0 and DSIR contributes the uninformative
  // smoothing default, and nothing in the serving path ever says so.
  // The windows make that rot measurable (the occurrence-weighted
  // BLIND-BUCKET rate of a current sample against the fit-time
  // feature coverage — feature IDENTITY, not weight values, the same
  // move that made q160's OOV probe engine-replayable as pure set
  // algebra) and remediation one call.
  // ──────────────────────────────────────────────────────────────────

  /** The fit-time feature-space coverage of a corpus: the DISTINCT
    * hashed feature buckets its texts touch under the shared
    * [[featsCol]] unigram+bigram space. ≤ `buckets` rows by
    * construction — broadcast-sized at any corpus scale, which is
    * what makes the staleness probes below one broadcast anti-join. */
  private def knownBuckets(df: DataFrame, textCol: String, buckets: Int,
                           hashFn: Column => Column): DataFrame =
    df.select(explode(featsCol(col(textCol))).as("feat"))
      .select(pmod(hashFn(col("feat")), lit(buckets.toLong)).as("bucket"))
      .distinct()

  /** Occurrence-weighted blind-bucket probe shared by both windows:
    * how many of `sample`'s feature OCCURRENCES hash to buckets
    * absent from the persisted `${p}_known` coverage table. One
    * tokenize + one broadcast anti-join count — O(sample) regardless
    * of model or corpus size. */
  private def blindProbe(spark: org.apache.spark.sql.SparkSession,
                         p: String, sample: DataFrame, textCol: String,
                         buckets: Int,
                         hashFn: Column => Column): (Long, Long) = {
    val occ = sample
      .select(explode(featsCol(col(textCol))).as("feat"))
      .select(pmod(hashFn(col("feat")), lit(buckets.toLong)).as("bucket"))
    val r = occ.join(broadcast(spark.table(s"${p}_known")
        .withColumn("__in", lit(true))), Seq("bucket"), "left")
      .agg(count(lit(1)).as("n"),
        sum(when(col("__in").isNull, 1L).otherwise(0L)).as("blind"))
      .collect()(0)
    (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
  }

  /** A fitted artifact's generation tables `${prefix}_<a|b>_w` (its
    * weights) and `${prefix}_<a|b>_known` (the fit-time feature
    * coverage — the staleness probe's ground truth). */
  private def fittedTables(prefix: String)(gen: String): Seq[String] =
    Seq(s"${prefix}_${gen}_w", s"${prefix}_${gen}_known")

  private def openFitted(spark: org.apache.spark.sql.SparkSession,
                         prefix: String): Generations.Live =
    Generations.open(spark, prefix, m => fittedTables(prefix)(m("gen")),
      ledger = false)

  private def writeFittedGen(spark: org.apache.spark.sql.SparkSession,
                             prefix: String, cur: Option[String],
                             weights: DataFrame, known: DataFrame)(
      row: (String, String) => Seq[(String, Any)]): Map[String, String] =
    Generations.rebuild(spark, prefix, cur, fittedTables(prefix)) { g =>
      Sinks.writeTable(weights, s"${prefix}_${g}_w")
      Sinks.writeTable(known, s"${prefix}_${g}_known")
    }(row)

  /** A fitted artifact's dense bucket table from its `_w` generation
    * (a bounded `buckets`-row collect — the same driver-side bound
    * [[fitDsir]] and [[fitQualityLr]] already accept, because the
    * model IS a plan literal downstream). */
  private def fittedTable(spark: org.apache.spark.sql.SparkSession,
                          prefix: String, live: Generations.Live,
                          valueCol: String): Array[Double] = {
    val table = Array.fill(live("buckets").toInt)(0.0)
    spark.table(s"${prefix}_${live("gen")}_w").collect().foreach { r =>
      table(r.getAs[Long]("bucket").toInt) = r.getAs[Double](valueCol)
    }
    table
  }

  /** The window both artifacts share: probe the occurrence-weighted
    * blind-feature rate of `sample` against the live generation's
    * coverage, fire iff blind > maxBlindRate × n, `refit` into the
    * other slot, re-probe. One bounded row of integer counts. Window
    * rules: [[graft.sources.Generations.window]]. */
  private def blindWindow(spark: org.apache.spark.sql.SparkSession,
                          prefix: String, sample: DataFrame,
                          textCol: String, maxBlindRate: Double,
                          hashFn: Column => Column)(
      refit: Generations.Live => Map[String, String]): DataFrame = {
    import spark.implicits._
    val w = Generations.window(openFitted(spark, prefix))(live =>
        blindProbe(spark, s"${prefix}_${live("gen")}", sample, textCol,
          live("buckets").toInt, hashFn))(p =>
        p._1 > 0 && p._2.toDouble > maxBlindRate * p._1)((live, _) =>
      refit(live))
    Seq((w.pre._1, w.pre._2, w.fired, w.post._2, w.changed))
      .toDF("n_sample_feats", "pre_blind_feats", "refit_fired",
        "post_blind_feats", "epoch_changed")
  }

  /** Pointer-rooted durable face of a fitted [[LrModel]] — the
    * [[TextAnalysis.writeTrigramLmRooted]] discipline for the quality
    * classifier: `_w` holds the NONZERO weights (untouched buckets are
    * exactly 0.0 in [[fitQualityLr]] by construction, so the sparse
    * table reconstructs the dense model losslessly) and `_known` the
    * fit-time feature coverage of `train` (pass the SAME frame the
    * model was fitted on, or a superset); meta (gen, bias, buckets,
    * epoch). */
  def writeQualityLrRooted(spark: org.apache.spark.sql.SparkSession,
                           prefix: String, model: LrModel,
                           train: DataFrame, textCol: String,
                           hashFn: Column => Column = xxhash64(_)): Unit =
    writeLrGen(spark, prefix, Generations.liveGen(spark, prefix), model,
      train, textCol, hashFn)

  private def writeLrGen(spark: org.apache.spark.sql.SparkSession,
                         prefix: String, cur: Option[String],
                         model: LrModel, train: DataFrame, textCol: String,
                         hashFn: Column => Column): Map[String, String] = {
    import spark.implicits._
    val sparse = model.table.iterator.zipWithIndex.collect {
      case (w, b) if w != 0.0 => (b.toLong, w)
    }.toSeq
    writeFittedGen(spark, prefix, cur, sparse.toDF("bucket", "weight"),
      knownBuckets(train, textCol, model.buckets, hashFn))((g, e) =>
      Seq("gen" -> g, "bias" -> model.bias, "buckets" -> model.buckets,
        "epoch" -> e))
  }

  /** Reopen a model written by [[writeQualityLrRooted]]; refuses a
    * torn same-prefix rebuild (epoch-token mismatch). */
  def readQualityLr(spark: org.apache.spark.sql.SparkSession,
                    prefix: String): LrModel = {
    val live = openFitted(spark, prefix)
    LrModel(live("bias").toDouble, fittedTable(spark, prefix, live, "weight"))
  }

  /** ONE-CALL maintenance window for a durable LR quality classifier
    * — the q160 shape applied to the discriminative artifact:
    *
    *   probe  — the occurrence-weighted BLIND-FEATURE rate of
    *            `sample` (a held-out slice of CURRENT arrivals)
    *            against the fit-time feature coverage: a feature
    *            hashing to a bucket the fit never saw contributes
    *            weight 0 to every score — the classifier is literally
    *            blind on it. One tokenize + broadcast anti-join,
    *            O(sample); the bucket count comes from the persisted
    *            meta (the fitted artifact defines its own feature
    *            space).
    *   decide — fire iff blind_feats > maxBlindRate × n_feats.
    *   refit  — [[fitQualityLr]] over the caller-supplied labeled
    *            `corpus` (the one O(corpus) pass every refit
    *            inherently costs) at the SAME bucket count, swapped
    *            in via [[writeQualityLrRooted]].
    *   re-probe — recovers iff the refit corpus actually covers the
    *            drifted feature space.
    *
    * The probe is feature IDENTITY, not weight arithmetic — so an
    * external engine replays the full decision as set algebra over
    * hashed buckets (the score arithmetic itself stays pinned by
    * q84/q90). Window rules: [[graft.sources.Generations.window]]. */
  def maintainQualityLr(spark: org.apache.spark.sql.SparkSession,
                        prefix: String, sample: DataFrame,
                        textCol: String, corpus: DataFrame,
                        idCol: String, labelCol: String,
                        maxBlindRate: Double, iters: Int = 2,
                        stepSize: Double = 2.0,
                        hashFn: Column => Column = xxhash64(_),
                        exactFold: Boolean = true): DataFrame =
    blindWindow(spark, prefix, sample, textCol, maxBlindRate, hashFn)(live =>
      writeLrGen(spark, prefix, Some(live("gen")),
        fitQualityLr(corpus, idCol, textCol, labelCol,
          live("buckets").toInt, iters, stepSize, hashFn, exactFold),
        corpus, textCol, hashFn))

  /** Pointer-rooted durable face of a fitted [[DsirModel]] — same
    * discipline as [[writeQualityLrRooted]]: `_w` persists the ratio
    * table DENSE (every bucket has a meaningful value — untouched
    * buckets carry the smoothing default, not zero; ≤ `buckets` rows
    * ≈ 1 MB at 2¹⁶, trivially bounded) and `_known` the fit-time
    * coverage of source ∪ target; meta (gen, buckets, epoch). */
  def writeDsirRooted(spark: org.apache.spark.sql.SparkSession,
                      prefix: String, model: DsirModel,
                      source: DataFrame, target: DataFrame,
                      textCol: String,
                      hashFn: Column => Column = xxhash64(_)): Unit =
    writeDsirGen(spark, prefix, Generations.liveGen(spark, prefix), model,
      source, target, textCol, hashFn)

  private def writeDsirGen(spark: org.apache.spark.sql.SparkSession,
                           prefix: String, cur: Option[String],
                           model: DsirModel, source: DataFrame,
                           target: DataFrame, textCol: String,
                           hashFn: Column => Column): Map[String, String] = {
    import spark.implicits._
    val dense = model.table.iterator.zipWithIndex
      .map { case (v, b) => (b.toLong, v) }.toSeq
    val fitted = source.select(col(textCol))
      .unionByName(target.select(col(textCol)))
    writeFittedGen(spark, prefix, cur, dense.toDF("bucket", "ratio"),
      knownBuckets(fitted, textCol, model.buckets, hashFn))((g, e) =>
      Seq("gen" -> g, "buckets" -> model.buckets, "epoch" -> e))
  }

  /** Reopen a model written by [[writeDsirRooted]]; torn rebuilds
    * refuse via the epoch tokens. */
  def readDsir(spark: org.apache.spark.sql.SparkSession,
               prefix: String): DsirModel =
    DsirModel(fittedTable(spark, prefix, openFitted(spark, prefix),
      "ratio"))

  /** ONE-CALL maintenance window for durable DSIR importance ratios
    * — [[maintainQualityLr]]'s twin for the generative artifact. The
    * staleness signal is the same blind-bucket rate: a feature in
    * neither the fit-time source nor target gets the uninformative
    * smoothing-default ratio, so a sample that drifts off the fitted
    * feature space is importance-weighted by noise. Probe O(sample),
    * refit = [[fitDsir]] over the caller-supplied (source, target)
    * at the persisted bucket count, re-probe. Window rules:
    * [[graft.sources.Generations.window]]. */
  def maintainDsirRatios(spark: org.apache.spark.sql.SparkSession,
                         prefix: String, sample: DataFrame,
                         textCol: String, source: DataFrame,
                         target: DataFrame, maxBlindRate: Double,
                         smoothing: Double = 1.0,
                         hashFn: Column => Column = xxhash64(_)): DataFrame =
    blindWindow(spark, prefix, sample, textCol, maxBlindRate, hashFn)(live =>
      writeDsirGen(spark, prefix, Some(live("gen")),
        fitDsir(source, target, textCol, live("buckets").toInt, smoothing,
          hashFn), source, target, textCol, hashFn))
}
