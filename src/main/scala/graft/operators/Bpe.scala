package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.sources.Generations

/** Byte-pair-encoding vocabulary induction and application (Sennrich,
  * Haddow, Birch 2016, "Neural machine translation of rare words with
  * subword units") — the tokenizer-training step of an LLM data
  * pipeline, distributed: the merge loop runs over the corpus's
  * DISTINCT-WORD table (vocabulary-bounded — millions of rows at
  * 100 TB, never the corpus itself), each iteration is one
  * weighted pair-count aggregate plus one fold projection, and the
  * learned merge list is ordinary driver state (like the fitted LR /
  * DSIR models) that applies to any corpus as plan-level expressions
  * — no UDFs, no per-row driver calls.
  *
  * Reference semantics (the paper's algorithm 1): words split to
  * characters plus a `</w>` terminator; each iteration merges the
  * globally most frequent adjacent symbol pair (weighted by word
  * frequency, overlapping positions counted per occurrence — "aaa"
  * holds two (a,a) positions) everywhere it occurs, left-to-right
  * non-overlapping within a word. Frequency ties break to the
  * lexicographically smallest (a, b) so the learned vocabulary is a
  * pure function of the corpus — re-runs, input order and
  * partitioning all agree. */
object Bpe {

  /** A fitted BPE vocabulary: the ordered merge list plus the
    * symbolized distinct-word table (`w`, corpus count `n`, piece
    * array `s`) in its post-merge state — the build-once artifact
    * [[tokenCount]] joins against (the [[Similarity.SqIndex]]
    * build-once/search-many shape; persist or write it, apply it
    * many times). */
  final case class BpeVocab(merges: Seq[(String, String)],
                            wordPieces: DataFrame)

  /** Distinct lowercase whitespace tokens with corpus counts — the
    * table the merge loop iterates over. */
  private def wordTable(df: DataFrame, textCol: String): DataFrame =
    df.select(explode(split(lower(trim(col(textCol))), "\\s+")).as("w"))
      .filter(col("w") =!= "")
      .groupBy(col("w")).agg(count(lit(1)).as("n"))

  /** Initial symbol sequence: per-character split plus the `</w>`
    * end-of-word marker (the paper's word-boundary symbol — without
    * it "est" inside "estimate" and at the end of "widest" would
    * merge identically). Guarded for the empty string: Spark's
    * `sequence(1, 0)` steps DOWN to [1, 0] rather than returning an
    * empty array, which would hand an empty word two phantom ""
    * symbols — an empty (or null) word is just the bare marker. */
  private def charSymbols(w: Column): Column =
    when(length(w) > 0,
      concat(transform(sequence(lit(1), length(w)),
        i => substring(w, i, lit(1))), array(lit("</w>"))))
    .otherwise(array(lit("</w>")))

  /** One merge applied to a symbol array, left-to-right
    * non-overlapping: fold each symbol onto the accumulator, gluing
    * it to the previous element when (prev, current) is exactly the
    * merge pair. Built with Column lambdas (never string-spliced SQL
    * — real tokens carry quotes and backslashes). */
  private def mergeOnce(s: Column, a: String, b: String): Column = {
    val folded = aggregate(
      slice(s, lit(2), greatest(size(s) - 1, lit(0))),
      array(element_at(s, 1)),
      (acc, x) => when(
          element_at(acc, -1) === lit(a) && x === lit(b),
          concat(slice(acc, lit(1), size(acc) - 1), array(lit(a + b))))
        .otherwise(concat(acc, array(x))))
    when(size(s) >= 2, folded).otherwise(s)
  }

  /** Learn `numMerges` merges from the corpus. Each iteration: one
    * vocabulary-bounded weighted pair-count aggregate → the argmax
    * pair to the driver (ONE row — bounded driver state like the LR
    * gradient collects) → one fold projection re-symbolizing the word
    * table.
    *
    * Loop hygiene (measured, not theoretical): the re-symbolized
    * table is EAGERLY `localCheckpoint`ed each iteration — a persist
    * would keep the LOGICAL plan growing one nested fold per merge,
    * and by merge 16 the re-analyzed/re-optimized plan chain cost
    * two minutes of driver time on a 30-word vocabulary (118 s →
    * ~8 s with constant-depth plans). The word table is also
    * compacted to ~250k rows/partition using the count the
    * first materialization already paid for — numMerges sequential
    * jobs over a small vocabulary are pure task-scheduling overhead
    * at the default partitioning, while a huge vocabulary stays
    * distributed. Non-reliable checkpoint blocks are fine here: the
    * loop's own actions all complete inside fit, and a lost block
    * after return costs a refit, not wrong results. Stops early when
    * no pair occurs twice (merging singletons would just memorize
    * words). */
  def fit(df: DataFrame, textCol: String, numMerges: Int): BpeVocab = {
    require(numMerges >= 0, "need numMerges >= 0")
    var words = bootstrapWords(df, textCol)
    val merges = scala.collection.mutable.ListBuffer.empty[(String, String)]
    var exhausted = false
    for (_ <- 1 to numMerges if !exhausted) {
      val top = topPairs(words, 1)
      if (top.isEmpty) exhausted = true
      else {
        val (a, b) = (top(0).getString(0), top(0).getString(1))
        merges += ((a, b))
        words = Iterate.advance(words,
          words.withColumn("s", mergeOnce(col("s"), a, b)))
      }
    }
    finishVocab(merges.toList, words)
  }

  /** Bootstrap the compacted symbolized word table — ONE code path
    * for [[fit]] and [[fitBatched]], since their equivalence proof
    * assumes identical inputs. Compaction targets ~250k rows per
    * partition using the count the first materialization already
    * paid for: the per-merge jobs over a small vocabulary are pure
    * task-scheduling overhead at the default partitioning, while a
    * huge vocabulary stays distributed. */
  private def bootstrapWords(df: DataFrame, textCol: String): DataFrame = {
    var words = wordTable(df, textCol)
      .withColumn("s", charSymbols(col("w")))
      .localCheckpoint()
    val vocabSize = words.count()
    val targetParts = math.max(1L, vocabSize / 250000L).toInt
    if (words.rdd.getNumPartitions > targetParts)
      words = Iterate.advance(words, words.coalesce(targetParts))
    words
  }

  /** Top `limit` candidate pairs by the fit argmax order — weighted
    * pair counts (weight = word count, overlapping positions counted
    * per occurrence), the ≥2 floor, (count DESC, a, b) — shared by
    * both fit tiers so the batched argmax can never drift from the
    * sequential one. Bounded driver state: `limit` rows. */
  private def topPairs(words: DataFrame,
                       limit: Int): Array[org.apache.spark.sql.Row] =
    words.filter(size(col("s")) >= 2)
      .select(col("n"), explode(transform(
        sequence(lit(0), size(col("s")) - 2),
        i => struct(element_at(col("s"), i + 1).as("a"),
          element_at(col("s"), i + 2).as("b")))).as("p"))
      .groupBy(col("p.a").as("a"), col("p.b").as("b"))
      .agg(sum(col("n")).as("c"))
      .filter(col("c") >= 2)
      .orderBy(col("c").desc, col("a"), col("b"))
      .limit(limit).collect()

  /** Final vocab assembly: persisted for the caller's joins — caller
    * owns the wordPieces lifecycle from here (the gram-table
    * discipline). */
  private def finishVocab(merges: Seq[(String, String)],
                          words: DataFrame): BpeVocab = {
    val pieces = words
      .select(col("w"), col("n"), col("s"), size(col("s")).as("n_pieces"))
      .persist()
    pieces.count()
    BpeVocab(merges, pieces)
  }

  /** The production-vocabulary fit tier: learns merges PROVABLY
    * identical to [[fit]]'s, but applies up to `maxBatch` of them per
    * pair-count aggregate — a 50k-merge tokenizer fit runs thousands,
    * not tens of thousands, of Spark jobs (the sequential tier is one
    * aggregate + one fold PER merge; here one aggregate + one
    * alphabet guard + one fold per BATCH).
    *
    * Why the batch is exact, not approximate: per round the top
    * `maxBatch + 1` pairs come back sorted by [[fit]]'s argmax order
    * (count desc, then (a, b)). A greedy scan accepts the maximal
    * PREFIX that is pairwise non-interacting — two pairs interact
    * when their symbol sets {a, b, a+b} overlap, which covers shared
    * endpoints AND merged-token collisions like (a,bc)/(ab,c) both
    * producing "abc". The scan stops at the first interacting (or
    * `maxBatch`-overflow) candidate, whose count is `stopCount`;
    * everything at or beyond the stop has count ≤ stopCount. Applying
    * an accepted merge cannot change any other accepted pair's count
    * (no shared symbols), and every pair it creates or boosts either
    * is brand new (count ≤ its consumed parent's ≤ stopCount, the
    * parent being an interacting pair at/after the stop) or contains
    * a merged token that ALREADY existed as a symbol — the one case
    * where a pre-existing pair's count can grow past stopCount. Two
    * guards close exactly those holes: the batch truncates at the
    * first member whose merged token pre-exists in the symbol
    * alphabet (one cheap filtered-distinct job per round), and then
    * trims to members with count STRICTLY above stopCount (the head
    * pair — the true argmax of the current counts — always stays).
    * Under both guards, at sequential step i every competitor holds
    * count ≤ stopCount < cᵢ, so pair i is the strict sequential
    * argmax: same merges, same order, same ties.
    *
    * maxBatch defaults modestly: each batch member adds a CASE branch
    * inside the per-word fold lambda, and real corpora interact often
    * enough that very large batches mostly waste candidate scan. */
  def fitBatched(df: DataFrame, textCol: String, numMerges: Int,
                 maxBatch: Int = 16): BpeVocab = {
    require(numMerges >= 0, "need numMerges >= 0")
    require(maxBatch >= 1, "need maxBatch >= 1")
    var words = bootstrapWords(df, textCol)
    val merges = scala.collection.mutable.ListBuffer.empty[(String, String)]
    var exhausted = false
    while (merges.size < numMerges && !exhausted) {
      val m = math.min(maxBatch, numMerges - merges.size)
      val top = topPairs(words, m + 1)
      if (top.isEmpty) exhausted = true
      else {
        // greedy non-interacting prefix + the count of the first
        // excluded candidate (1 when the ≥2-filtered table ran dry:
        // any unseen pair counts at most 1 and can never be argmax)
        var chosen = List.empty[(String, String, Long)]
        var stopCount = 1L
        var stopped = false
        for (r <- top if !stopped) {
          val (a, b, c) = (r.getString(0), r.getString(1), r.getLong(2))
          val syms = Set(a, b, a + b)
          if (chosen.size >= m || chosen.exists { case (ca, cb, _) =>
              Set(ca, cb, ca + cb).intersect(syms).nonEmpty }) {
            stopCount = c; stopped = true
          } else chosen = chosen :+ ((a, b, c))
        }
        // merged-token-resurrection guard: if a chosen token string
        // already exists as a symbol, pairs CONTAINING it may be
        // boosted past stopCount by that merge — truncate the batch
        // just before the first such member (later members would
        // compete against the boosted pair). Single merges skip the
        // check: the head is the argmax of the real current counts.
        if (chosen.size > 1) {
          val tokens = chosen.map { case (a, b, _) => a + b }
          val existing = words
            .select(explode(col("s")).as("sym"))
            .filter(col("sym").isin(tokens: _*))
            .distinct().collect().map(_.getString(0)).toSet
          val cut = chosen.indexWhere { case (a, b, _) =>
            existing.contains(a + b) }
          if (cut == 0) chosen = chosen.take(1)
          else if (cut > 0) {
            stopCount = math.max(stopCount, chosen(cut)._3)
            chosen = chosen.take(cut)
          }
        }
        // strict-majority trim: only counts ABOVE the first excluded
        // candidate are immune to created-pair ties; the head (true
        // argmax now) always stays
        val batch = {
          val kept = chosen.takeWhile(_._3 > stopCount)
          (if (kept.isEmpty) chosen.take(1) else kept)
            .map { case (a, b, _) => (a, b) }
        }
        merges ++= batch
        words = Iterate.advance(words,
          words.withColumn("s", mergeManyOnce(col("s"), batch)))
      }
    }
    finishVocab(merges.toList, words)
  }

  /** One fold applying a BATCH of pairwise non-interacting merges
    * simultaneously: since no two pairs share a symbol (or a merged
    * token), at most one pair can match any (prev, current) adjacency,
    * and a token glued by one pair can never be an endpoint of
    * another — so a single left-to-right scan produces exactly the
    * sequential [[mergeOnce]] composition in any order. */
  private def mergeManyOnce(s: Column, pairs: Seq[(String, String)]): Column =
    if (pairs.size == 1) mergeOnce(s, pairs.head._1, pairs.head._2)
    else {
      def branches(acc: Column, x: Column): Column = {
        def glued(a: String): Column =
          concat(slice(acc, lit(1), size(acc) - 1), array(lit(a)))
        pairs.tail.foldLeft(
          when(element_at(acc, -1) === lit(pairs.head._1) &&
            x === lit(pairs.head._2), glued(pairs.head._1 + pairs.head._2))) {
          case (w, (a, b)) =>
            w.when(element_at(acc, -1) === lit(a) && x === lit(b),
              glued(a + b))
        }.otherwise(concat(acc, array(x)))
      }
      val folded = aggregate(
        slice(s, lit(2), greatest(size(s) - 1, lit(0))),
        array(element_at(s, 1)),
        (acc, x) => branches(acc, x))
      when(size(s) >= 2, folded).otherwise(s)
    }

  /** Apply an ORDERED merge list to a symbol-array column — the
    * paper's inference rule (merges replay in learned order). One
    * chained fold per merge; fine for the tens-of-merges regime the
    * exactly-reproducible tier targets (a production 50k-merge
    * vocabulary applies via [[tokenCount]]'s precomputed word join,
    * never per-row replay). */
  def applyMerges(symbols: Column, merges: Seq[(String, String)]): Column =
    merges.foldLeft(symbols) { case (s, (a, b)) => mergeOnce(s, a, b) }

  /** Symbolize raw words and replay `merges` — the from-scratch apply
    * path for corpora OTHER than the fit corpus. */
  def encodeWords(words: DataFrame, wordCol: String,
                  merges: Seq[(String, String)]): DataFrame =
    words.withColumn("pieces",
      applyMerges(charSymbols(col(wordCol)), merges))

  /** Per-document BPE piece count — the token-budget unit a
    * subword-tokenized training run actually consumes (whitespace
    * token counts undercount rare words that fragment). Words join
    * the fitted `wordPieces` table (vocabulary-bounded, usually
    * broadcast); out-of-vocabulary words fall back to their
    * character count + 1, the untrained-word piece count under an
    * empty merge list. */
  def tokenCount(docs: DataFrame, idCol: String, textCol: String,
                 vocab: BpeVocab): DataFrame = {
    val toks = docs.select(col(idCol),
        explode(split(lower(trim(col(textCol))), "\\s+")).as("w"))
      .filter(col("w") =!= "")
    toks.join(vocab.wordPieces.select(col("w"), col("n_pieces")),
        Seq("w"), "left")
      .withColumn("__p", coalesce(col("n_pieces"),
        length(col("w")).cast("int") + 1))
      .groupBy(col(idCol))
      .agg(sum(col("__p")).as("n_bpe_tokens"),
        count(lit(1)).as("n_words"))
  }

  /** Persist a fitted vocabulary durably, so tokenizer training state
    * outlives the driver JVM (every other build-once artifact already
    * does — the reference's analogue is the can_ids schema registry
    * persisted as JSON, lib/canparser.py:36-50) — a directory-backed
    * generation ([[graft.sources.Generations.writeExternal]] +
    * [[graft.sources.Generations.commitManifest]]) under `dir`:
    *
    *   - `dir/word_pieces` — the symbolized word table, EXTERNAL table
    *     `table` bucketed+sorted on `w` (the [[tokenCount]] join key:
    *     a reopened vocab joins co-located, no index-side shuffle);
    *   - `dir/meta` — the ORDERED merge list as parquet plus a
    *     MANIFEST (numBuckets, merge count, epoch).
    *
    * [[readBpeVocab]] refuses every torn state rather than pairing
    * word pieces with a different generation's merge list (token
    * counts would silently mix vocabularies). Rebuilds go to a fresh
    * dir + table name ([[writeBpeVocabRooted]]). */
  def writeBpeVocab(vocab: BpeVocab, table: String, dir: String,
                    numBuckets: Int = 64): Unit = {
    val spark = vocab.wordPieces.sparkSession
    import spark.implicits._
    val epoch = Generations.writeExternal(
      vocab.wordPieces.select(col("w"), col("n"), col("s"), col("n_pieces")),
      table, s"$dir/word_pieces", "w", numBuckets)
    Generations.commitManifest(spark, dir, "meta",
      Seq(numBuckets, vocab.merges.size), epoch) { tmp =>
      vocab.merges.zipWithIndex
        .map { case ((a, b), i) => (i, a, b) }
        .toDF("ord", "a", "b")
        .coalesce(1)
        .write.parquet(s"$tmp/merges")
    }
  }

  /** Reopen a vocabulary written by [[writeBpeVocab]]. Works in a
    * fresh session ([[graft.sources.Generations.attachExternal]]).
    * Refuses loudly on every torn state: missing/short manifest,
    * merge-count mismatch, or a manifest epoch whose token is absent
    * from the table dir. */
  def readBpeVocab(spark: org.apache.spark.sql.SparkSession, table: String,
                   dir: String): BpeVocab = {
    val Seq(buckets, nMerges) = Generations.readManifest(spark,
      s"$dir/meta", Seq("numBuckets", "numMerges"), s"$dir/word_pieces",
      "writeBpeVocab")
    val mergeRows = spark.read.parquet(s"$dir/meta/merges")
      .orderBy(col("ord")).collect()
    require(mergeRows.length == nMerges.toInt,
      s"merge table holds ${mergeRows.length} rows, manifest says " +
        s"$nMerges — torn meta write; re-run writeBpeVocab")
    val merges = mergeRows.toSeq.map(r => (r.getString(1), r.getString(2)))
    Generations.attachExternal(spark, table,
      "w STRING, n BIGINT, s ARRAY<STRING>, n_pieces INT", "w",
      buckets.toInt, s"$dir/word_pieces")
    BpeVocab(merges, spark.table(table))
  }

  /** Pointer-rooted durable face of the BPE vocabulary —
    * [[writeBpeVocab]]'s "rebuilds go to a fresh dir + table name"
    * contract made operational: generations alternate between
    * `${prefix}_wp_<a|b>` tables over `$dir/gen_<a|b>` directories
    * (each written through [[writeBpeVocab]]'s own epoch+manifest
    * discipline), and the one-row `${prefix}_meta` (gen, table_name,
    * dir) is the pointer flip ([[graft.sources.Generations]]). */
  def writeBpeVocabRooted(spark: org.apache.spark.sql.SparkSession,
                          prefix: String, dir: String, vocab: BpeVocab,
                          numBuckets: Int = 64): Unit =
    writeBpeGen(spark, prefix, dir, Generations.liveGen(spark, prefix),
      vocab, numBuckets)

  private def writeBpeGen(spark: org.apache.spark.sql.SparkSession,
                          prefix: String, dir: String, cur: Option[String],
                          vocab: BpeVocab,
                          numBuckets: Int): Map[String, String] = {
    val next = Generations.nextGen(cur)
    val (genTable, genDir) = (s"${prefix}_wp_$next", s"$dir/gen_$next")
    // clear any debris of a prior crashed write to this generation —
    // the live generation is the OTHER slot, never touched here
    Generations.drop(spark, Seq(genTable), Seq(genDir))
    writeBpeVocab(vocab, genTable, genDir, numBuckets)
    val meta = Generations.commit(spark, prefix, Nil,
      cur.map(g => s"${prefix}_wp_$g").toSeq)(_ =>
      Seq("gen" -> next, "table_name" -> genTable, "dir" -> genDir))
    Generations.drop(spark, Nil, cur.map(g => s"$dir/gen_$g").toSeq)
    meta
  }

  private def bpeFrom(spark: org.apache.spark.sql.SparkSession,
                      live: Generations.Live): BpeVocab =
    readBpeVocab(spark, live("table_name"), live("dir"))

  /** Reopen the live generation of a [[writeBpeVocabRooted]] vocab —
    * resolves the meta pointer, then rides [[readBpeVocab]]'s torn-
    * state refusals unchanged. */
  def readBpeVocabRooted(spark: org.apache.spark.sql.SparkSession,
                         prefix: String): BpeVocab =
    bpeFrom(spark, Generations.open(spark, prefix, _ => Nil, ledger = false))

  /** ONE-CALL maintenance window for a durable BPE vocabulary — the
    * tokenizer face of [[graft.operators.TextAnalysis.maintainTrigramLm]]:
    * a tokenizer trained once rots as the corpus moves — every
    * out-of-vocabulary word falls back to characters
    * ([[tokenCount]]'s length+1 penalty), silently inflating token
    * budgets and fragmenting new-domain text. The probe is the
    * occurrence-weighted OOV-WORD rate of `sample` against the fitted
    * word-pieces table (one tokenize + broadcast anti-join count,
    * O(sample) — piece inflation is the downstream effect of exactly
    * these misses); fire iff oov_words > maxOovRate × n_words; the
    * refit is [[fitBatched]] over the caller-supplied live `corpus`,
    * swapped in atomically via [[writeBpeVocabRooted]]; the re-probe
    * pins recovery. Returns one bounded INTEGER report row
    * (`n_sample_words`, `pre_oov_words`, `refit_fired`,
    * `post_oov_words`, `gen_changed`). Window rules:
    * [[graft.sources.Generations.window]]. */
  def maintainBpeVocab(spark: org.apache.spark.sql.SparkSession,
                       prefix: String, dir: String, sample: DataFrame,
                       textCol: String, corpus: DataFrame,
                       maxOovRate: Double, numMerges: Int,
                       numBuckets: Int = 64): DataFrame = {
    import spark.implicits._
    def probe(live: Generations.Live): (Long, Long) = {
      val words = sample
        .select(explode(split(lower(trim(col(textCol))), "\\s+")).as("w"))
        .filter(col("w") =!= "")
      val r = words.join(broadcast(bpeFrom(spark, live).wordPieces
          .select(col("w"), lit(true).as("__in"))), Seq("w"), "left")
        .agg(count(lit(1)).as("n"),
          sum(when(col("__in").isNull, 1L).otherwise(0L)).as("oov"))
        .collect()(0)
      (r.getLong(0), r.getLong(1))
    }
    val w = Generations.window(
        Generations.open(spark, prefix, _ => Nil, ledger = false))(probe)(
        p => p._1 > 0 && p._2.toDouble > maxOovRate * p._1)((live, _) =>
      writeBpeGen(spark, prefix, dir, Some(live("gen")),
        fitBatched(corpus, textCol, numMerges), numBuckets))
    Seq((w.pre._1, w.pre._2, w.fired, w.post._2, w.changed))
      .toDF("n_sample_words", "pre_oov_words", "refit_fired",
        "post_oov_words", "gen_changed")
  }
}
