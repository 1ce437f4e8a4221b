package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.sources.{Generations, Sinks}

/** Deduplication suite for large-scale training-data pipelines —
  * exact, MinHash+LSH, SimHash, n-gram Jaccard. All deterministic
  * (seeded xxhash64), all expressed as DataFrame transformations:
  * the only shuffles are the per-doc aggregations and the
  * bucket-join on LSH band hashes, so the work scales out linearly
  * with documents and never goes O(n²) — candidate generation is
  * band-bucketed, and only candidates get exact verification.
  */
object Dedup {

  /** The engine's shared 128-bit key: a struct of two seeded xxhash64
    * runs over `c` (seeds 1 and 2 — every user cites the same
    * ~value²/2^129 birthday bound, so the seeds must never drift
    * between call sites). Used wherever a collapse/compare key must
    * be fixed-width for the shuffle but a 64-bit key's collision rate
    * would be a real channel: hashed span-dedup grams (q87), the
    * hashed rescue collapse (q93), the corpus version diff (q98). */
  private[operators] def hash128(c: Column): Column =
    struct(xxhash64(lit(1), c), xxhash64(lit(2), c))

  /** Exact dedup: keep the first (lowest orderCol) row per identical
    * value of `on`. A `min_by(struct(rest), orderCol)` hash aggregate,
    * NOT a row_number window: the aggregate partial-combines map-side,
    * so on a duplicate-heavy corpus (the operator's whole purpose) the
    * exchange carries one row per distinct key instead of every input
    * row shuffled AND sorted. Ties on `orderCol` pick an arbitrary
    * winner, same as the window form; pass a unique order column (the
    * doc id, as every caller here does) for a deterministic result.
    * Column order is preserved. */
  def exact(df: DataFrame, on: Seq[String], orderCol: String): DataFrame =
    // the single-order-column case of
    // [[TimeSeries.dedupKeepFirstMinBy]] — the min_by shape belongs
    // HERE (duplicate-heavy doc corpora, narrow rows: the partial
    // combine collapses the shuffle), while telemetry keep-first
    // stays on the windowed form (see dedupKeepFirst's strategy note)
    TimeSeries.dedupKeepFirstMinBy(df, on, Seq(orderCol))

  /** Character k-shingles of the normalized text, as one row per
    * distinct (id, shingle). The normalized text is projected ONCE
    * before the per-shingle lambda — an expression inside a `transform`
    * lambda is re-evaluated per element (no subexpression elimination
    * across lambda iterations), which turns an O(len) normalize into
    * O(len·shingles) if inlined. */
  def shingles(df: DataFrame, idCol: String, textCol: String, k: Int): DataFrame =
    df.select(col(idCol), lower(col(textCol)).as("__lt"))
      .select(col(idCol),
        explode(expr(s"transform(sequence(1, greatest(length(__lt)-${k - 1}, 1)), " +
          s"i -> substring(__lt, i, $k))")).as("shingle"))
      .distinct()

  /** Word n-gram shingles. Prefer these over character shingles on
    * corpora with a small shared vocabulary: random-pair character-
    * 5-gram Jaccard can sit at 0.3-0.5 (every banding scheme then
    * floods with candidates), while word-trigram Jaccard of unrelated
    * docs stays near zero. */
  def wordShingles(df: DataFrame, idCol: String, textCol: String, n: Int): DataFrame =
    // tokenize once per doc (see [[shingles]] on lambda re-evaluation)
    df.select(col(idCol), split(lower(trim(col(textCol))), "\\s+").as("__tk"))
      .select(col(idCol),
        explode(expr(s"transform(sequence(1, greatest(size(__tk)-${n - 1}, 1)), " +
          s"i -> concat_ws(' ', slice(__tk, i, $n)))")).as("shingle"))
      .distinct()

  /** MinHash signatures: for each of `numHashes` hash functions, the
    * min over the doc's shingles. One groupBy over the shingle table;
    * `numHashes` agg buffers. The hash family is double-hashing in the
    * Kirsch–Mitzenmacher style: TWO seeded xxhash64 evaluations per
    * shingle (projected once BELOW the aggregate), with
    * g_i = h1 XOR rotl(h2, i mod 64) XOR K_i (K_i a per-i odd
    * constant) — instead of `numHashes` independent xxhash64 calls per
    * shingle row, the dominant cost of signature building (64× less
    * hashing at 128 hashes). XOR/rotate rather than the classical
    * h1 + i·h2 because ANSI mode (Spark 4 default) raises on wrapping
    * long arithmetic; bitwise mixing has no overflow semantics. */
  def minhashSignatures(sh: DataFrame, idCol: String, numHashes: Int): DataFrame = {
    val h1 = col("__h1"); val h2 = col("__h2")
    def g(i: Int): Column = {
      val r = i % 64
      val rot = if (r == 0) h2
        else shiftleft(h2, r).bitwiseOR(shiftrightunsigned(h2, 64 - r))
      // K_i computed in Scala (wrapping), a literal in the plan
      h1.bitwiseXOR(rot).bitwiseXOR(lit(i.toLong * 0x9E3779B97F4A7C15L))
    }
    sh.select(col(idCol), xxhash64(lit(1), col("shingle")).as("__h1"),
        xxhash64(lit(2), col("shingle")).as("__h2"))
      .groupBy(col(idCol))
      .agg(array((0 until numHashes).map(i => min(g(i))): _*).as("sig"))
  }

  /** LSH banding: split the signature into `bands` bands, hash each;
    * docs sharing any (band, hash) bucket become candidate pairs.
    * Returns distinct (a, b) with a < b. Pairs come from pair-exploding
    * each bucket's sorted id list — no self-join — and `maxBucket` caps
    * a degenerate bucket (identical boilerplate docs share EVERY band;
    * uncapped that is quadratic in the duplicate count). Dropped-bucket
    * counts surface through the observe metric; exact-dup flooding
    * belongs to [[exact]], not the near-dup pass. */
  def lshCandidates(sigs: DataFrame, idCol: String, numHashes: Int,
                    bands: Int, maxBucket: Int = 200): DataFrame = {
    val rows = numHashes / bands
    val banded = sigs.select(col(idCol),
      posexplode(expr(s"transform(sequence(0, ${bands - 1}), " +
        s"b -> xxhash64(slice(sig, b*$rows + 1, $rows)))")).as(Seq("band", "bh")))
    explodePairs(
      guardedIdBuckets(banded, Seq("band", "bh"), idCol, maxBucket, "lsh"),
      "ids")
  }

  /** Exact Jaccard similarity of shingle sets for given candidate
    * pairs. One aggregation packs each doc's shingles into a sorted
    * array; each candidate pair then joins exactly two of those rows
    * and intersects the arrays in-place (`array_intersect`) — no
    * shingle-level re-join, so the shingle table is scanned once no
    * matter how many candidates there are.
    *
    * Measured non-optimization (round 4, sf0.1): restricting the
    * per-doc aggregation to candidate ids (semi join on the exploded
    * pair ids, cands persisted for its then-three consumers) REGRESSED
    * every gate query — q24 2.2→4.3 s, q49 2.0→2.8 s — because on
    * near-dup-dense corpora the candidate set covers much of the
    * corpus, and the extra candidate materialization + distinct +
    * semi-join shuffles outweigh the trimmed aggregate. Revisit only
    * for corpora where candidates are demonstrably a sliver (the
    * restriction is then a big shuffle saving); the plain full
    * aggregate is the right default shape. */
  def jaccardVerify(cands: DataFrame, sh: DataFrame, idCol: String): DataFrame = {
    val docSets = sh.groupBy(col(idCol))
      .agg(sort_array(collect_list(col("shingle"))).as("gs"),
           count(lit(1)).as("sz"))
    cands
      .join(docSets.select(col(idCol).as("a"), col("gs").as("__ga"),
        col("sz").as("sza")), Seq("a"))
      .join(docSets.select(col(idCol).as("b"), col("gs").as("__gb"),
        col("sz").as("szb")), Seq("b"))
      .withColumn("inter",
        size(array_intersect(col("__gb"), col("__ga"))).cast("long"))
      .withColumn("jaccard",
        col("inter").cast("double") /
          (col("sza") + col("szb") - col("inter")).cast("double"))
      .drop("__ga", "__gb")
  }

  /** MinHash signature as a native single-pass expression over an
    * in-row shingle ARRAY ([[graft.expressions.MinhashSignature]]) —
    * bit-identical to [[minhashSignatures]]' aggregate form (min over
    * duplicates is min over the set), but a pure PROJECTION: no
    * shingle explode, no signature shuffle. */
  def minhashSignatureCol(shingles: Column, numHashes: Int): Column =
    org.apache.spark.sql.GraftExpressionBridge.column(
      graft.expressions.MinhashSignature(
        org.apache.spark.sql.GraftExpressionBridge.expression(shingles),
        numHashes))

  /** MinHash+LSH near-duplicate pairs with exact-Jaccard verification:
    * the standard shingle → minhash → band → bucket-join → verify
    * pipeline. Signatures come from the native per-row expression
    * ([[minhashSignatureCol]]) over the in-row shingle array, so the
    * pipeline's FIRST exchange is the (small) band-bucket aggregate —
    * the exploded shingle table exists only on the verify branch,
    * where the per-doc gram arrays genuinely need it. */
  def minhashNearDups(df: DataFrame, idCol: String, textCol: String,
                      shingleK: Int = 5, numHashes: Int = 64, bands: Int = 16,
                      threshold: Double = 0.8, wordGrams: Int = 0,
                      maxBucket: Int = 200,
                      rescueHot: Boolean = false): DataFrame = {
    val sh =
      if (wordGrams > 0) wordShingles(df, idCol, textCol, wordGrams)
      else shingles(df, idCol, textCol, shingleK)
    // signature input stays IN-ROW; for word grams the whole
    // grams→hashes→mins chain fuses into one native pass
    // ([[graft.expressions.MinhashWordGrams]] — no interpreted
    // shingle-string transform, no per-gram allocation); char shingles
    // keep the transform + [[minhashSignatureCol]] route
    val sigs =
      if (wordGrams > 0)
        df.select(col(idCol), split(lower(trim(col(textCol))), "\\s+").as("__tk"))
          .select(col(idCol),
            org.apache.spark.sql.GraftExpressionBridge.column(
              graft.expressions.MinhashWordGrams(
                org.apache.spark.sql.GraftExpressionBridge.expression(col("__tk")),
                wordGrams, numHashes)).as("sig"))
      else
        df.select(col(idCol), lower(col(textCol)).as("__lt"))
          .select(col(idCol), expr(
            s"transform(sequence(1, greatest(length(__lt)-${shingleK - 1}, 1)), " +
              s"i -> substring(__lt, i, $shingleK))").as("__sh"))
          .select(col(idCol),
            minhashSignatureCol(col("__sh"), numHashes).as("sig"))
    val cands =
      if (!rescueHot) lshCandidates(sigs, idCol, numHashes, bands, maxBucket)
      else {
        // Hot-bucket escape hatch: the maxBucket guard trades RECALL
        // when a bucket is genuinely hot, and the usual cause is
        // thousands of byte-identical boilerplate docs (which share
        // EVERY band). Collapse identical-signature docs to one
        // representative BEFORE banding: per signature group emit
        // star pairs (rep = min id → member) — linear in the group,
        // diameter 2 for connectedComponents — and band only the
        // representatives, so exact-dup flooding can never form a hot
        // bucket in the first place. Star pairs still go through the
        // exact-Jaccard verify below (identical text ⇒ jaccard = 1,
        // and a pathological signature collision is filtered out
        // rather than silently merged). The collapse surfaces through
        // a `graft_lsh_rescue_*` observe metric (rescued_members /
        // rescued_groups) so the reroute is visible in Verify/Bench.
        // The group key is the signature VALUE (arrays are exact-
        // equality groupable) — hashing it to 64 bits would open a
        // birthday-collision channel at billions of docs where a doc
        // attaches to the wrong group and is never banded itself (a
        // silent recall loss the downstream verify can't repair).
        val keyed = sigs.withColumn("__ck", col("sig"))
        val groups = keyed.groupBy(col("__ck"))
          .agg(min(col(idCol)).as("__rep"), count(lit(1)).as("__n"))
          .observe(s"graft_lsh_rescue_${obsId.incrementAndGet()}",
            sum(when(col("__n") > 1, col("__n") - 1).otherwise(0L))
              .as("rescued_members"),
            sum(when(col("__n") > 1, 1L).otherwise(0L))
              .as("rescued_groups"))
        val withRep = keyed.join(groups.select("__ck", "__rep"), Seq("__ck"))
        val star = withRep.filter(col(idCol) =!= col("__rep"))
          .select(col("__rep").as("a"), col(idCol).as("b"))
        val repSigs = withRep.filter(col(idCol) === col("__rep"))
          .select(col(idCol), col("sig"))
        lshCandidates(repSigs, idCol, numHashes, bands, maxBucket)
          .unionByName(star)
      }
    jaccardVerify(cands, sh, idCol).filter(col("jaccard") >= threshold)
      .select("a", "b", "jaccard")
  }

  /** Engine-neutral 60-bit token hash: the first 15 hex digits of the
    * md5 digest as a (positive) long. Slower than xxhash64 but
    * reproducible in any engine with an md5 function — used to pin the
    * simhash gate query against an external SQL oracle. A stable `val`
    * (not a `def`) so [[simhash]] can RECOGNIZE it by reference and
    * take the native single-pass projection
    * ([[graft.expressions.SimhashSignatureMd5]]) instead of the
    * exploded-token aggregate. */
  val md5Hash60: Column => Column = c =>
    conv(substring(md5(c), 1, 15), 16, 10).cast("long")

  /** Stable reference for the default token hash, so the simhash
    * entry points can RECOGNIZE the default and take the native
    * shuffle-free path (a `xxhash64(_)` default parameter is a fresh
    * lambda per call — unrecognizable). */
  val DefaultTokenHash: Column => Column = xxhash64(_)

  /** 64-bit SimHash as a native per-row expression over the in-row
    * token array ([[graft.expressions.SimhashSignature]]) — bit-
    * identical to [[simhash]] with the default hash, but a pure
    * projection: no token explode, no 64-sum-buffer shuffle. */
  def simhashCol(tokens: Column): Column =
    org.apache.spark.sql.GraftExpressionBridge.column(
      graft.expressions.SimhashSignature(
        org.apache.spark.sql.GraftExpressionBridge.expression(tokens)))

  /** 64-bit SimHash under the engine-neutral md5 token hash as a
    * native per-row expression ([[graft.expressions.SimhashSignatureMd5]])
    * — bit-identical to [[simhash]] with `tokenHash = md5Hash60`, but
    * a pure projection: no token explode, no 64-sum-buffer shuffle.
    * The sketch stays SQL-recomputable (the q25/q72 oracle contract);
    * only the execution route changes. */
  def simhashMd5Col(tokens: Column): Column =
    org.apache.spark.sql.GraftExpressionBridge.column(
      graft.expressions.SimhashSignatureMd5(
        org.apache.spark.sql.GraftExpressionBridge.expression(tokens)))

  /** SimHash (64-bit): per-token hash votes ±1 on each bit; the sign
    * vector packs into one long. Both the default token hash and the
    * engine-neutral [[md5Hash60]] (pinning the q25/q72 oracles) run as
    * native projections ([[simhashCol]] / [[simhashMd5Col]] — no
    * explode, no shuffle); any OTHER custom `tokenHash` takes the
    * 64-agg-buffer groupBy over the exploded token table, which also
    * serves as the bit-parity reference for the native forms. */
  def simhash(df: DataFrame, idCol: String, textCol: String,
              tokenHash: Column => Column = DefaultTokenHash): DataFrame = {
    if (tokenHash eq DefaultTokenHash)
      return df.select(col(idCol),
        simhashCol(split(lower(col(textCol)), "\\s+")).as("simhash"))
    if (tokenHash eq md5Hash60)
      return df.select(col(idCol),
        simhashMd5Col(split(lower(col(textCol)), "\\s+")).as("simhash"))
    // token hash projected ONCE below the aggregate — as 64 per-bit agg
    // expressions it would be re-evaluated per bit (64 hash calls per
    // token; ruinous for the md5-based engine-neutral variant)
    val toks = df.select(col(idCol),
        explode(split(lower(col(textCol)), "\\s+")).as("tok"))
      .select(col(idCol), tokenHash(col("tok")).as("__h"))
    val h = col("__h")
    val voteCols = (0 until 64).map(b =>
      sum(when(shiftright(h, b).bitwiseAND(lit(1L)) === 1L, 1L)
        .otherwise(-1L)).as(s"b$b"))
    val votes = toks.groupBy(col(idCol)).agg(voteCols.head, voteCols.tail: _*)
    votes.select(col(idCol),
      (0 until 64).map(b =>
        when(col(s"b$b") > 0, lit(1L) * lit(1L << b)).otherwise(lit(0L)))
        .reduce(_ + _).as("simhash"))
  }

  /** Hamming distance between two 64-bit simhashes. */
  def hamming(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /** SimHash near-dup candidate pairs: bucket the 64-bit hash into 4
    * 16-bit bands (any pair within hamming ≤ 3 of each other shares at
    * least one identical band by pigeonhole), then verify hamming.
    *
    * `rescueHot` is the hot-bucket escape hatch shared with
    * [[minhashNearDups]]/[[ngramJaccardNearDups]], and for SimHash the
    * collapse is exactly LOSSLESS: docs are grouped by the full 64-bit
    * sketch, so a member pair is hamming 0 (the star pairs emitted)
    * and any cross-group pair's hamming equals its representatives' —
    * candidate generation over representatives plus star pairs yields
    * the identical pair-graph components as the uncapped form. */
  def simhashNearDups(df: DataFrame, idCol: String, textCol: String,
                      maxHamming: Int = 3, maxBucket: Int = 200,
                      tokenHash: Column => Column = DefaultTokenHash,
                      rescueHot: Boolean = false): DataFrame = {
    val hs0 = simhash(df, idCol, textCol, tokenHash)
    val (hs, star) =
      if (!rescueHot) (hs0, None)
      else {
        // the sketch table is referenced by the group aggregate, the
        // rep join and (through them) the star/rep splits — without a
        // persist each reference RE-RUNS the sketch computation, which
        // for the md5 token-hash variant is a 64-sum-buffer aggregate
        // over exploded tokens (measured 93 s vs 7 s at sf0.1).
        // Session-lifecycle cache like the gram tables; MEMORY_AND_DISK
        // is LRU-evictable and drivers clearCache between queries.
        val hsC = hs0.persist(
          org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val groups = hsC.groupBy(col("simhash"))
          .agg(min(col(idCol)).as("__rep"), count(lit(1)).as("__n"))
          .observe(s"graft_simhash_rescue_${obsId.incrementAndGet()}",
            sum(when(col("__n") > 1, col("__n") - 1).otherwise(0L))
              .as("rescued_members"),
            sum(when(col("__n") > 1, 1L).otherwise(0L))
              .as("rescued_groups"))
        val withRep = hsC.join(groups.select("simhash", "__rep"), Seq("simhash"))
        val s = withRep.filter(col(idCol) =!= col("__rep"))
          .select(col("__rep").as("a"), col(idCol).as("b"),
            lit(0).as("hamming"))
        (withRep.filter(col(idCol) === col("__rep"))
          .select(col(idCol), col("simhash")), Some(s))
      }
    val banded = hs.select(col(idCol), col("simhash"),
      posexplode(array((0 until 4).map(i =>
        shiftrightunsigned(col("simhash"), i * 16).bitwiseAND(lit(0xFFFFL))): _*))
        .as(Seq("band", "bh")))
    // same capped pair-explode as lshCandidates (identical docs share
    // all four bands — uncapped, a hot bucket is quadratic); sort_array
    // on the struct orders by id, preserving a < b after explosion
    val buckets = banded.groupBy("band", "bh")
      .agg(sort_array(collect_list(
        struct(col(idCol).as("id"), col("simhash").as("h")))).as("ids"))
      .observe(s"graft_simhash_guard_${obsId.incrementAndGet()}",
        sum(when(size(col("ids")) > maxBucket, 1L).otherwise(0L))
          .as("dropped_buckets"))
      .filter(size(col("ids")).between(2, maxBucket))
    val banded0 = buckets
      .select(explode(expr(
        "flatten(transform(ids, (x, i) -> " +
          "transform(slice(ids, i + 2, size(ids)), " +
          "y -> struct(x.id AS a, y.id AS b, x.h AS ha, y.h AS hb))))")).as("p"))
      .select(col("p.a").as("a"), col("p.b").as("b"),
        hamming(col("p.ha"), col("p.hb")).as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
    star match {
      case Some(s) => banded0
        .withColumn("hamming", col("hamming").cast("int"))
        .unionByName(s)
      case None => banded0
    }
  }

  /** Hamming-banded near-dup pairs over an ARBITRARY 64-bit signature
    * column — [[simhashNearDups]]'s band/verify discipline factored
    * out for any simhash-shaped sketch: perceptual image hashes
    * ([[Multimodal.perceptualHashes]]), audio fingerprints, any
    * 64-bit LSH. The 64 bits partition into `maxHamming + 1` bands
    * (widths as even as 64 div b allows), so by pigeonhole ANY pair
    * within `maxHamming` shares at least one complete band —
    * candidate generation is exact-recall, never misses a qualifying
    * pair; verification is one `bit_count` XOR per candidate. Null
    * signatures (e.g. corrupt images that decoded to null) are
    * excluded up front: an unprovable row can never match — the P6 /
    * q94 admission discipline. The same capped sorted-id pair-explode
    * as every band join here (`maxBucket` guard + observe metric):
    * a degenerate bucket of identical signatures is otherwise
    * quadratic in the corpus. */
  /** The `maxHamming + 1` band columns partitioning a 64-bit
    * signature (widths as even as integer division allows) — the
    * pigeonhole decomposition shared by [[hammingNearDups]] and the
    * streaming admission tier ([[hammingBandMembers]]). */
  private[graft] def hammingBands(sig: Column, maxHamming: Int)
      : Seq[Column] = {
    require(maxHamming >= 0 && maxHamming < 64,
      s"maxHamming must be in [0, 64), got $maxHamming")
    val b = maxHamming + 1
    val widths = Array.tabulate(b)(i => 64 / b + (if (i < 64 % b) 1 else 0))
    val offsets = widths.scanLeft(0)(_ + _)
    (0 until b).map { i =>
      val masked = shiftrightunsigned(sig, offsets(i))
      if (widths(i) >= 64) masked
      else masked.bitwiseAND(lit((1L << widths(i)) - 1L))
    }
  }

  /** A signature REFERENCE set re-shaped for the streaming admission
    * tier — the [[graft.operators.Similarity.cellMembers]] discipline
    * for Hamming space: one row per (band, band-hash) carrying the
    * bucket's members as an ARRAY of (neighbor_id, sig) structs, so a
    * stream-side probe is `maxHamming + 1` broadcast equi-joins plus
    * a pure array fold — no relational aggregation on the stream, no
    * state. Unlike the IVF tier this probe is RECALL-EXACT at the
    * threshold (pigeonhole: a within-distance pair shares a full
    * band), so the streamed decision must equal the batch decision
    * bit-for-bit — PROVIDED no bucket overflows `maxBucket` (see
    * below). Null signatures are excluded (they can never be
    * matched). Callers persist the result once before starting the
    * stream (the q114 discipline); each cell's members must fit one
    * row — the bounded-reference-set tier, same regime note as
    * cellMembers.
    *
    * Skew guard, honestly stated: a (band, hash) bucket larger than
    * `maxBucket` is DROPPED from the member table with an observe
    * metric — the [[hammingNearDups]]/[[guardedIdBuckets]] discipline
    * (there the cap bounds a quadratic pair-explode; here it bounds
    * the per-row member array a hot bucket would otherwise grow
    * without limit inside a broadcast). A dropped bucket fails OPEN:
    * streamed payloads that would only have matched through it ADMIT.
    * So the exactness claim is conditional on both sides' guards
    * staying quiet — `dropped_buckets` = 0 here and in the batch pass
    * — which a flood of near-identical reference signatures violates;
    * the production response to a firing guard is a value-keyed
    * collapse of the reference set (the rescueHot discipline), not a
    * bigger cap. */
  def hammingBandMembers(reference: DataFrame, idCol: String,
                         sigCol: String, maxHamming: Int,
                         maxBucket: Int = 1000): DataFrame = {
    val sigs = reference.filter(col(sigCol).isNotNull)
      .select(col(idCol).as("neighbor_id"),
        col(sigCol).cast("long").as("__sig"))
    sigs.select(col("neighbor_id"), col("__sig"),
        posexplode(array(hammingBands(col("__sig"), maxHamming): _*))
          .as(Seq("band", "bh")))
      .groupBy(col("band"), col("bh"))
      .agg(collect_list(struct(col("neighbor_id"), col("__sig").as("sig")))
        .as("members"))
      .observe(s"graft_hamming_members_guard_${obsId.incrementAndGet()}",
        sum(when(size(col("members")) > maxBucket, 1L).otherwise(0L))
          .as("dropped_buckets"))
      .filter(size(col("members")) <= maxBucket)
  }

  /** TAKEDOWN for a Hamming-banded reference set — the perceptual
    * face of the compliance lifecycle
    * ([[tombstoneFromExactIndex]] / [[tombstoneFromNgramIndex]] /
    * [[graft.operators.Similarity.tombstoneIvfPq]]): a reference
    * image/clip removed from the accepted corpus must stop REJECTING
    * streamed look-alikes, immediately. Logical delete = filter the
    * removed ids out of every member ARRAY in place — the removed-id
    * set rides ONE broadcast row as an array column (the q117/q120
    * literal→join graduation: takedown lists are bounded, and a plan
    * literal would re-canonicalize per micro-batch when the result
    * serves a stream), so the whole edit is a broadcast join plus a
    * pure array filter, never a re-hash of the reference corpus.
    * Buckets whose members all leave DROP (an empty bucket can match
    * nothing). Physical purge = the next
    * [[hammingBandMembers]] rebuild from the purged reference set —
    * the members table is derived state, so the rebuild IS the
    * compaction. Pass the result persisted when serving a stream,
    * exactly as with the underlying members table. */
  def tombstoneFromHammingMembers(members: DataFrame,
                                  ids: DataFrame): DataFrame = {
    val removed = ids
      .select(col(ids.columns.head).cast("long").as("__rid")).distinct()
      .agg(collect_list(col("__rid")).as("__removed"))
      .withColumn("__gk", lit(1))
    members.withColumn("__gk", lit(1))
      .join(broadcast(removed), Seq("__gk"))
      .withColumn("members", filter(col("members"),
        m => !array_contains(col("__removed"), m.getField("neighbor_id"))))
      .filter(size(col("members")) > 0)
      .drop("__gk", "__removed")
  }

  /** Persist a [[hammingBandMembers]] reference table DURABLY — the
    * build-once/serve-many face of the perceptual admission tier, one
    * generation under the durable-generation protocol
    * ([[graft.sources.Generations]]; pointer column `members_table`).
    * Reference sets are bounded (the cellMembers regime), so a plain
    * table suffices — the serving side broadcasts it whole. */
  def writeHammingMembers(spark: org.apache.spark.sql.SparkSession,
                          members: DataFrame, table: String): Unit = {
    Generations.writeSlot(spark, table, s"${table}_members",
        "members_table", Seq(_))(Sinks.writeTable(members, _))(
      (gen, e) => Seq("epoch" -> e, "members_table" -> gen))
  }

  private def membersTables(m: Map[String, String]): Seq[String] =
    Seq(m("members_table"))

  /** Reopen a durable members table (raw — takedowns not applied). */
  def readHammingMembers(spark: org.apache.spark.sql.SparkSession,
                         table: String): DataFrame =
    membersLive(spark,
      Generations.open(spark, table, membersTables, ledger = false))

  /** File media takedowns against a durable members table — the
    * ledger face of [[tombstoneFromHammingMembers]]
    * ([[graft.sources.Generations.appendLedger]]). Serve through
    * [[readHammingMembersLive]]; purge physically with
    * [[compactHammingMembers]]. */
  def tombstoneHammingMembers(spark: org.apache.spark.sql.SparkSession,
                              table: String, ids: DataFrame): Unit =
    Generations.appendLedger(spark, s"${table}_tombstones",
      ids.select(col(ids.columns.head).cast("long").as("media_id")))

  /** Reopen a durable members table with its takedown ledger applied
    * — the serving entry point after [[tombstoneHammingMembers]]:
    * removed ids leave every member array via the one-broadcast-row
    * array filter before the table ever reaches a stream. */
  def readHammingMembersLive(spark: org.apache.spark.sql.SparkSession,
                             table: String): DataFrame =
    membersLive(spark, Generations.open(spark, table, membersTables))

  private def membersLive(spark: org.apache.spark.sql.SparkSession,
                          live: Generations.Live): DataFrame = {
    val members = spark.table(live("members_table"))
    live.ledger.map(tombstoneFromHammingMembers(members, _))
      .getOrElse(members)
  }

  /** PHYSICAL purge + re-band of a durable members table — the
    * maintenance window of the perceptual family (the
    * [[compactExactIndex]] analogue): the live (ledger-applied)
    * members table IS the reference set — its distinct
    * (neighbor_id, sig) pairs reconstruct every surviving signature —
    * so the rebuild needs no external corpus re-read. Also the
    * remediation for a changed `maxHamming`/`maxBucket` policy. */
  def compactHammingMembers(spark: org.apache.spark.sql.SparkSession,
                            table: String, maxHamming: Int,
                            maxBucket: Int = 1000): Unit = {
    val live = Generations.open(spark, table, membersTables)
    rebandMembers(spark, table, live, maxHamming, maxBucket)
    if (live.ledger.nonEmpty)
      Generations.clearLedger(spark, s"${table}_tombstones")
  }

  private def rebandMembers(spark: org.apache.spark.sql.SparkSession,
                            table: String, live: Generations.Live,
                            maxHamming: Int,
                            maxBucket: Int): Map[String, String] = {
    val other = Generations.otherSlot(live("members_table"),
      s"${table}_members")
    val sigs = membersLive(spark, live)
      .select(explode(col("members")).as("m"))
      .select(col("m.neighbor_id").as("media_id"), col("m.sig").as("sig"))
      .distinct()
    Sinks.writeTable(
      hammingBandMembers(sigs, "media_id", "sig", maxHamming, maxBucket),
      other)
    Generations.commit(spark, table, Seq(other),
      Seq(live("members_table")))(e =>
      Seq("epoch" -> e, "members_table" -> other))
  }

  /** ONE-CALL maintenance window for a durable members table — the
    * perceptual face of [[maintainExactIndex]] /
    * [[maintainNgramIndex]]. Fires on purge debt (pending
    * `${table}_tombstones` rows): logical deletes already serve
    * correctly through [[readHammingMembersLive]]'s broadcast array
    * filter; the window is where the filter leaves the serving plan
    * and emptied buckets drop physically. `maxHamming`/`maxBucket`
    * are the rebuild policy [[compactHammingMembers]] re-bands under
    * — pass the serving tier's values. Window rules:
    * [[graft.sources.Generations.window]]. */
  def maintainHammingMembers(spark: org.apache.spark.sql.SparkSession,
                             table: String, maxHamming: Int,
                             maxBucket: Int = 1000): DataFrame =
    Generations.purgeWindow(spark, table, membersTables)(
      rebandMembers(spark, table, _, maxHamming, maxBucket))

  // ──────────────────────────────────────────────────────────────────
  // UNBOUNDED perceptual reference face: the banded-signature index.
  // [[hammingBandMembers]] is the bounded-window tier — one row per
  // bucket carrying its members as an ARRAY, served by broadcast, with
  // a drop-and-fail-open cap because a hot bucket would otherwise grow
  // a row without limit inside the broadcast. At 100 TB the accepted
  // perceptual corpus is neither broadcastable nor array-packable;
  // this family is its relational twin — the rooted n-gram-index
  // discipline applied to Hamming space: one ROW per (band, band-hash,
  // member), hash-bucketed on the probe key, so a batch probe is one
  // equi-join whose index side reads its bucket layout unshuffled and
  // whose cost is ∝ batch (the corpus is never re-banded, never
  // broadcast, never re-shuffled). Pigeonhole keeps the probe
  // RECALL-EXACT at the threshold, and — unlike the broadcast tier —
  // there is NO bucket cap to fail open: a hot bucket costs candidate
  // rows (batch-side fan-out), never recall.
  // ──────────────────────────────────────────────────────────────────

  private def bandedSigRows(reference: DataFrame, idCol: String,
                            sigCol: String, maxHamming: Int): DataFrame =
    reference.filter(col(sigCol).isNotNull)
      .select(col(idCol).cast("long").as("neighbor_id"),
        col(sigCol).cast("long").as("sig"))
      .select(col("neighbor_id"), col("sig"),
        posexplode(array(hammingBands(col("sig"), maxHamming): _*))
          .as(Seq("band", "bh")))

  private def bandsTables(prefix: String)(gen: String): Seq[String] =
    Seq(s"${prefix}_bands_$gen")

  private def bandsRow(gen: String, maxHamming: Int)(
      epoch: String): Seq[(String, Any)] =
    Seq("gen" -> gen, "max_hamming" -> maxHamming, "epoch" -> epoch)

  /** Pointer-rooted durable face of the banded-signature index:
    * generations alternate between `${prefix}_bands_<a|b>` tables
    * bucketed on BOTH probe keys (band, bh) — the join below keys on
    * exactly the bucket columns, which is what lets the planner keep
    * the bucketed scan (a subset- or superset-keyed join disables it;
    * the q166 lesson). The banding threshold is persisted IN the meta:
    * the artifact defines its own probe geometry (the q164
    * discipline), so a caller can never probe with a different
    * `maxHamming` than the index was banded for (pigeonhole exactness
    * only holds at the banded threshold). */
  def writeHammingBandIndexRooted(spark: org.apache.spark.sql.SparkSession,
                                  prefix: String, reference: DataFrame,
                                  idCol: String, sigCol: String,
                                  maxHamming: Int,
                                  numBuckets: Int = 64): Unit =
    Generations.rebuild(spark, prefix, Generations.liveGen(spark, prefix),
      bandsTables(prefix))(g => Sinks.writeBucketed(
        bandedSigRows(reference, idCol, sigCol, maxHamming),
        s"${prefix}_bands_$g", Seq("band", "bh"), numBuckets))(
      bandsRow(_, maxHamming)(_))

  /** Reopen a rooted banded index (raw — takedowns not applied):
    * returns the banded threshold and the band rows. */
  def readHammingBandIndexRooted(spark: org.apache.spark.sql.SparkSession,
                                 prefix: String): (Int, DataFrame) =
    bandsLive(spark, prefix, Generations.open(spark, prefix,
      m => bandsTables(prefix)(m("gen")), ledger = false))

  /** File takedowns against a banded index — the
    * [[tombstoneHammingMembers]] ledger shape. */
  def tombstoneHammingBandIndex(spark: org.apache.spark.sql.SparkSession,
                                prefix: String, ids: DataFrame): Unit =
    Generations.appendLedger(spark, s"${prefix}_tombstones",
      ids.select(col(ids.columns.head).cast("long").as("media_id")))

  /** The serving entry point: rooted read with the
    * `${prefix}_tombstones` ledger applied — removed ids leave the
    * candidate space via ONE broadcast anti-join on the member id
    * (the ledger is bounded, and a broadcast join preserves the
    * streamed side's partitioning, so the index's bucket layout
    * survives through it into the downstream probe join). */
  def readHammingBandIndexRootedLive(
      spark: org.apache.spark.sql.SparkSession,
      prefix: String): (Int, DataFrame) =
    bandsLive(spark, prefix, Generations.open(spark, prefix,
      m => bandsTables(prefix)(m("gen"))))

  private def bandsLive(spark: org.apache.spark.sql.SparkSession,
                        prefix: String,
                        live: Generations.Live): (Int, DataFrame) = {
    val rows = spark.table(s"${prefix}_bands_${live("gen")}")
    (live("max_hamming").toInt, live.ledger.map(ids =>
        rows.join(broadcast(ids.select(col("media_id")
          .as("neighbor_id")).distinct()), Seq("neighbor_id"), "left_anti"))
      .getOrElse(rows))
  }

  /** Relational batch probe of a banded index — the admission
    * decision of [[graft.streaming.StreamingParse.hammingAdmissionStream]]
    * computed against an UNBOUNDED reference corpus: explode the
    * batch's signatures into their pigeonhole bands (maxHamming + 1
    * rows per doc), ONE equi-join on exactly (band, bh) — the index
    * side reads its bucket layout, only the batch side shuffles —
    * verify true hamming on the candidates, and fold the argmin
    * (hamming, neighbor_id) struct per doc (the broadcast tier's
    * tie-break, bit-for-bit). Null signatures ADMIT (membership
    * unprovable — the q94 discipline). Output: the batch columns plus
    * `admitted` / `match_id` / `match_hamming`. */
  def searchHammingBandIndex(indexRows: DataFrame, maxHamming: Int,
                             batch: DataFrame, idCol: String,
                             sigCol: String): DataFrame = {
    val probed = batch
      .select(col(idCol), col(sigCol).cast("long").as("__bsig"))
      .filter(col("__bsig").isNotNull)
      .select(col(idCol), col("__bsig"),
        posexplode(array(hammingBands(col("__bsig"), maxHamming): _*))
          .as(Seq("band", "bh")))
    val best = probed.join(indexRows, Seq("band", "bh"))
      .select(col(idCol),
        struct(hamming(col("__bsig"), col("sig")).cast("int")
            .as("hamming"),
          col("neighbor_id").as("nid")).as("__cand"))
      .filter(col("__cand.hamming") <= lit(maxHamming))
      .groupBy(col(idCol)).agg(min(col("__cand")).as("__best"))
    batch.join(best, Seq(idCol), "left")
      .withColumn("admitted", col("__best").isNull)
      .withColumn("match_id",
        when(!col("admitted"), col("__best.nid")))
      .withColumn("match_hamming",
        when(!col("admitted"), col("__best.hamming")))
      .drop("__best")
  }

  /** O(new) APPEND into the live generation of a banded index — the
    * [[graft.operators.Similarity.appendToLshIndexBucketed]]
    * discipline, and the same data-obliviousness argument makes it
    * sound: the pigeonhole band decomposition is a FIXED function of
    * the signature bits (nothing fitted, nothing drifts), so a new
    * batch's band rows bucket exactly as a full rebuild would —
    * appending bucket-for-bucket into the live table is
    * decision-identical to rebuilding from the union (spec-pinned).
    * Cost is one bucketed write of the NEW rows only
    * ([[graft.sources.Generations.appendBucketed]]). */
  def appendToHammingBandIndexRooted(
      spark: org.apache.spark.sql.SparkSession, prefix: String,
      reference: DataFrame, idCol: String, sigCol: String): Unit = {
    val live = Generations.open(spark, prefix,
      m => bandsTables(prefix)(m("gen")), ledger = false)
    val gen = s"${prefix}_bands_${live("gen")}"
    val maxHamming = live("max_hamming").toInt
    Generations.appendBucketed(spark, gen,
      bandedSigRows(reference, idCol, sigCol, maxHamming), "band", "bh")
    Generations.commit(spark, prefix, Seq(gen))(
      bandsRow(live("gen"), maxHamming))
  }

  /** Purge-only maintenance window for a banded index — the q157 LSH
    * argument transfers verbatim: the pigeonhole banding of a 64-bit
    * signature is a FIXED decomposition (no fitted state, nothing to
    * drift), so the only maintenance a banded index ever needs is
    * making logical deletes physical. The rewrite is one bucketed
    * shuffle over the SURVIVING band rows (never a re-band of the
    * source corpus), inheriting the live generation's bucket count (a
    * purge must never silently re-layout the index because a caller
    * took the default). Window rules:
    * [[graft.sources.Generations.window]]. */
  def purgeHammingBandIndex(spark: org.apache.spark.sql.SparkSession,
                            prefix: String,
                            numBuckets: Int = 64): DataFrame =
    Generations.purgeWindow(spark, prefix,
        m => bandsTables(prefix)(m("gen"))) { live =>
      val (maxHamming, rows) = bandsLive(spark, prefix, live)
      val buckets = Generations.bucketCount(spark,
        s"${prefix}_bands_${live("gen")}").getOrElse(numBuckets)
      Generations.rebuild(spark, prefix, Some(live("gen")),
        bandsTables(prefix))(g => Sinks.writeBucketed(rows,
          s"${prefix}_bands_$g", Seq("band", "bh"), buckets))(
        bandsRow(_, maxHamming)(_))
    }

  def hammingNearDups(df: DataFrame, idCol: String, sigCol: String,
                      maxHamming: Int = 3,
                      maxBucket: Int = 200): DataFrame = {
    val sigs = df.filter(col(sigCol).isNotNull)
      .select(col(idCol), col(sigCol).cast("long").as("__sig"))
    val banded = sigs.select(col(idCol), col("__sig"),
      posexplode(array(hammingBands(col("__sig"), maxHamming): _*))
        .as(Seq("band", "bh")))
    val buckets = banded.groupBy("band", "bh")
      .agg(sort_array(collect_list(
        struct(col(idCol).as("id"), col("__sig").as("h")))).as("ids"))
      .observe(s"graft_hamming_guard_${obsId.incrementAndGet()}",
        sum(when(size(col("ids")) > maxBucket, 1L).otherwise(0L))
          .as("dropped_buckets"))
      .filter(size(col("ids")).between(2, maxBucket))
    buckets
      .select(explode(expr(
        "flatten(transform(ids, (x, i) -> " +
          "transform(slice(ids, i + 2, size(ids)), " +
          "y -> struct(x.id AS a, y.id AS b, x.h AS ha, y.h AS hb))))")).as("p"))
      .select(col("p.a").as("a"), col("p.b").as("b"),
        hamming(col("p.ha"), col("p.hb")).cast("int").as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
  }

  /** Sorted-id buckets with the standard skew guard shared by every
    * band join here and in [[Similarity.cosineNearDups]]: buckets over
    * `maxBucket` ids are dropped from candidate generation (a
    * degenerate bucket of identical docs is otherwise quadratic) and
    * the dropped count surfaces through an observe metric. */
  private[operators] def guardedIdBuckets(keyed: DataFrame,
      bucketCols: Seq[String], idCol: String, maxBucket: Int,
      guard: String): DataFrame =
    keyed.groupBy(bucketCols.map(col): _*)
      .agg(sort_array(collect_list(col(idCol))).as("ids"))
      .observe(s"graft_${guard}_guard_${obsId.incrementAndGet()}",
        sum(when(size(col("ids")) > maxBucket, 1L).otherwise(0L))
          .as("dropped_buckets"))
      .filter(size(col("ids")).between(2, maxBucket))

  /** All in-bucket (a, b) pairs with a < b, generated WITHOUT a self
    * join: the sorted id list is pair-exploded in place. Bucket size
    * must already be capped by the caller — output is ≤ c·(c−1)/2 rows
    * per bucket. */
  private[operators] def explodePairs(buckets: DataFrame, idsCol: String): DataFrame =
    buckets
      .select(explode(expr(
        s"flatten(transform($idsCol, (x, i) -> " +
          s"transform(slice($idsCol, i + 2, size($idsCol)), " +
          "y -> struct(x AS a, y AS b))))")).as("p"))
      .select(col("p.a").as("a"), col("p.b").as("b"))
      .distinct()

  /** Word n-gram Jaccard near-dups: candidates = pairs sharing a rare
    * n-gram, verified with exact n-gram-set Jaccard.
    *
    * Scale shape: the gram table is computed ONCE (persisted — it fans
    * out to the per-doc gram sets and the per-gram buckets, and
    * re-deriving the tokenize/explode/distinct DAG per consumer was the
    * dominant cost of the naive plan). Candidate generation pair-
    * explodes each gram's sorted doc-id list in place — no gram-level
    * self-join — and the `maxBucket` cap bounds every bucket's
    * contribution at c²/2 pairs, so a degenerate stop-gram can never go
    * quadratic in the corpus. Verification intersects the two per-doc
    * gram ARRAYS (exact, over all grams including hot ones), touching
    * only the candidate pairs.
    *
    * Cache lifecycle: the gram table stays persisted for the session
    * (the returned frame is lazy, so this function cannot know when
    * its consumers finish). MEMORY_AND_DISK is LRU-evictable; a
    * long-lived driver issuing many near-dup queries should
    * `spark.catalog.clearCache()` between them (as Bench does).
    *
    * `hashedRescueKey` (only with `rescueHot`) switches the rescue's
    * collapse key from the normalized-text VALUE to a 128-bit double
    * xxhash64 of it — the 100 TB tier: 16-byte shuffle keys instead
    * of full text, decisions identical up to a ~2^-129-per-pair
    * collision (parity-gated vs the value-keyed form on q71/q93's
    * flood corpus). */
  def ngramJaccardNearDups(df: DataFrame, idCol: String, textCol: String,
                           n: Int = 8, threshold: Double = 0.5,
                           maxBucket: Int = 50,
                           rescueHot: Boolean = false,
                           hashedRescueKey: Boolean = false): DataFrame =
    if (!rescueHot)
      ngramJaccardFromGrams(
        gramTable(df, idCol, textCol, n).persist(), idCol, threshold, maxBucket)
    else if (hashedRescueKey) {
      // The 100 TB tier of the rescue below: collapse on a 128-bit
      // double-xxhash64 of the normalized text (the q87 struct-of-two
      // pattern) instead of the text value. The value-keyed form moves
      // the full text through BOTH the group aggregate and the rep
      // join (~3× text bytes shuffled); here those two shuffles carry
      // 16-byte keys and the text moves at most ONCE, by id, into the
      // representative set. The trade is a birthday channel: two
      // DIFFERENT texts colliding on 128 bits would merge as asserted
      // star pairs — probability ~docs²/2^129, negligible at 10^10
      // docs, vs the 64-bit key this same analysis rejected (see the
      // value-keyed comment). Decisions are parity-spec'd equal to the
      // value-keyed form on the gate corpora.
      val slim = df.select(col(idCol),
        hash128(lower(trim(col(textCol)))).as("__ck"))
      val groups = slim.groupBy(col("__ck"))
        .agg(min(col(idCol)).as("__rep"), count(lit(1)).as("__n"))
        .observe(s"graft_ngram_rescue_${obsId.incrementAndGet()}",
          sum(when(col("__n") > 1, col("__n") - 1).otherwise(0L))
            .as("rescued_members"),
          sum(when(col("__n") > 1, 1L).otherwise(0L))
            .as("rescued_groups"))
      val withRep = slim.join(groups.select("__ck", "__rep"), Seq("__ck"))
      val star = withRep.filter(col(idCol) =!= col("__rep"))
        .select(col("__rep").as("a"), col(idCol).as("b"),
          lit(1.0).as("jaccard"))
      val reps = df.join(
        withRep.filter(col(idCol) === col("__rep")).select(col(idCol)),
        Seq(idCol), "left_semi")
      ngramJaccardFromGrams(gramTable(reps, idCol, textCol, n).persist(),
          idCol, threshold, maxBucket)
        .unionByName(star)
    } else {
      // Hot-bucket escape hatch, same discipline as
      // [[minhashNearDups]]' rescueHot: identical-TEXT docs (the usual
      // cause of a gram bucket blowing `maxBucket`) collapse to one
      // representative before gramming; members attach via star pairs
      // (rep = min id → member, diameter 2 for connectedComponents).
      // The key IS the NORMALIZED text (lower+trim — exactly the
      // projection [[gramTable]] tokenizes), so equal keys mean equal
      // gram sets and the star pairs carry jaccard = 1.0 by
      // construction; no sketch is involved, so there is nothing to
      // re-verify. Grouping on the text itself, not a 64-bit hash of
      // it: the star pairs are asserted (never re-verified), so a
      // hash collision between two DIFFERENT texts would silently
      // merge unrelated docs into one component and dropNearDups
      // would then delete a non-duplicate — the same reasoning that
      // has [[incrementalDropNearDups]] and fuzzyDecontaminate group
      // on raw text. The shuffle carries the full text once, same as
      // any exact-dedup pass. The reroute surfaces through a
      // `graft_ngram_rescue_*` observe metric.
      val keyed = df.select(col(idCol), col(textCol))
        .withColumn("__ck", lower(trim(col(textCol))))
      val groups = keyed.groupBy(col("__ck"))
        .agg(min(col(idCol)).as("__rep"), count(lit(1)).as("__n"))
        .observe(s"graft_ngram_rescue_${obsId.incrementAndGet()}",
          sum(when(col("__n") > 1, col("__n") - 1).otherwise(0L))
            .as("rescued_members"),
          sum(when(col("__n") > 1, 1L).otherwise(0L))
            .as("rescued_groups"))
      val withRep = keyed.join(groups.select("__ck", "__rep"), Seq("__ck"))
      val star = withRep.filter(col(idCol) =!= col("__rep"))
        .select(col("__rep").as("a"), col(idCol).as("b"),
          lit(1.0).as("jaccard"))
      val reps = withRep.filter(col(idCol) === col("__rep"))
        .select(col(idCol), col(textCol))
      ngramJaccardFromGrams(gramTable(reps, idCol, textCol, n).persist(),
          idCol, threshold, maxBucket)
        .unionByName(star)
    }

  /** Hashed word n-grams of a token array as a native single-pass
    * expression ([[graft.expressions.GramHashes]]) — hash-identical to
    * `transform(..., i -> xxhash64(concat_ws(' ', slice(tokens, i, n))))`
    * but with the gram bytes assembled into a reused scratch buffer
    * instead of a String allocation per gram, and no interpreted
    * lambda. */
  def gramHashesCol(tokens: Column, n: Int): Column =
    org.apache.spark.sql.GraftExpressionBridge.column(
      graft.expressions.GramHashes(
        org.apache.spark.sql.GraftExpressionBridge.expression(tokens), n))

  /** Hashed word n-gram table (one row per distinct (id, gram hash)) —
    * the shared input of the Jaccard near-dup/decontamination family.
    * NOT persisted: the caller owns the persist/unpersist lifecycle
    * (it fans out to per-doc gram sets and per-gram buckets, so
    * callers should persist before use). Tokenization matches
    * [[wordShingles]] and the DuckDB oracles: trim first, else text
    * with leading/trailing whitespace grows an empty leading token
    * that shifts every gram. */
  private[graft] def gramTable(df: DataFrame, idCol: String,
                                   textCol: String, n: Int): DataFrame = df
    .select(col(idCol), split(lower(trim(col(textCol))), "\\s+").as("__tk"))
    .select(col(idCol), explode(gramHashesCol(col("__tk"), n)).as("gram"))
    .distinct()

  /** [[ngramJaccardNearDups]] body over a caller-persisted gram table. */
  private[operators] def ngramJaccardFromGrams(grams: DataFrame, idCol: String,
      threshold: Double, maxBucket: Int): DataFrame = {
    val docGrams = grams.groupBy(col(idCol))
      .agg(sort_array(collect_list(col("gram"))).as("gs"),
           count(lit(1)).as("sz"))
    // skew guard: pathological buckets (stop-grams) are dropped from
    // CANDIDATE GENERATION only — verification still counts them.
    val cands = explodePairs(
      guardedIdBuckets(grams, Seq("gram"), idCol, maxBucket, "ngram"), "ids")
    cands
      .join(docGrams.select(col(idCol).as("a"), col("gs").as("__ga"),
        col("sz").as("sza")), Seq("a"))
      .join(docGrams.select(col(idCol).as("b"), col("gs").as("__gb"),
        col("sz").as("szb")), Seq("b"))
      .withColumn("inter",
        size(array_intersect(col("__gb"), col("__ga"))).cast("long"))
      .withColumn("jaccard", col("inter").cast("double") /
        (col("sza") + col("szb") - col("inter")).cast("double"))
      .filter(col("jaccard") >= threshold)
      .select("a", "b", "jaccard")
  }

  /** Cross-corpus n-gram near-dup pairs: candidates are (left, right)
    * doc pairs sharing a word n-gram, verified with an exact gram-set
    * score — the fuzzy-decontamination primitive (training docs vs a
    * benchmark set) where the whole-doc fingerprint anti-join can't
    * catch lightly-edited contamination.
    *
    * Two scoring modes:
    *  - `containment = false`: symmetric Jaccard |A∩B| / |A∪B| —
    *    right for whole-doc near-duplication, but an eval item
    *    EMBEDDED in a much longer training doc scores near zero
    *    (20 shared grams / 500-gram doc ≈ 0.04) and slips through.
    *  - `containment = true`: |A∩B| / |B| — the fraction of the RIGHT
    *    (benchmark) doc's grams found in the training doc, 1.0 for a
    *    verbatim embedded passage regardless of the training doc's
    *    length. Use this for decontamination.
    *
    * Scale shape mirrors [[ngramJaccardNearDups]]: each side's gram
    * table is computed once (persisted — it feeds both the per-doc
    * gram arrays and the per-gram buckets), candidates come from the
    * bucket join of the two sides' per-gram id lists with the
    * `maxBucket` cap applied to EACH side (a hot gram contributes at
    * most maxBucket² pairs), and verification intersects the two
    * per-doc gram arrays for candidates only. Returns (a, b, score)
    * with `a` from `left`, `b` from `right`. */
  def crossJaccardNearDups(left: DataFrame, right: DataFrame, idCol: String,
                           textCol: String, n: Int = 8,
                           threshold: Double = 0.5,
                           maxBucket: Int = 50,
                           containment: Boolean = false): DataFrame =
    crossJaccardFromGrams(
      gramTable(left, idCol, textCol, n).persist(),
      gramTable(right, idCol, textCol, n).persist(),
      idCol, threshold, maxBucket, containment)

  /** [[crossJaccardNearDups]] body over caller-persisted gram tables.
    *
    * `smallSide` names the side whose gram SET is small enough to
    * broadcast, enabling a semi-join prune of the OTHER side before
    * its bucket groupBy — the inner bucket join keeps only shared
    * grams anyway, but without the prune every gram of the big side
    * pays its groupBy shuffle first. Decontamination passes "right"
    * (the benchmark is the only small thing in the query);
    * [[incrementalDropNearDups]] passes "left" (the BATCH is small,
    * the index huge — pruning the index's bucket aggregation by the
    * batch gram set is what makes per-batch cost proportional to the
    * batch). In "left" mode the index side's per-doc verify arrays
    * are additionally restricted to candidate ids (full-array
    * semantics preserved — the semi-join is on the DOC id, so sizes
    * and intersections are computed over the docs' complete gram
    * sets): a per-batch operation must never aggregate the whole
    * accepted corpus. Id lists of surviving grams are unchanged
    * either way, so buckets, guard counts, and scores are identical.
    * At sf0.1 the prune's distinct+broadcast costs ~0.5 s against
    * corpora whose whole gram table fits in one shuffle; the trade
    * exists for the real setting. In "left" mode the candidate table
    * is persisted (MEMORY_AND_DISK, LRU-evictable — same session
    * lifecycle as the gram tables; `clearCache()` when done). */
  private[graft] def crossJaccardFromGrams(gl: DataFrame, gr: DataFrame,
      idCol: String, threshold: Double, maxBucket: Int,
      containment: Boolean, smallSide: String = "right"): DataFrame = {
    def docSets(g: DataFrame, a: String) = g.groupBy(col(idCol))
      .agg(sort_array(collect_list(col("gram"))).as(s"__g$a"),
           count(lit(1)).as(s"sz$a"))
      .withColumnRenamed(idCol, a)
    val glF =
      if (smallSide == "right")
        gl.join(gr.select(col("gram")).distinct(), Seq("gram"), "left_semi")
      else gl
    val grF =
      if (smallSide == "left")
        gr.join(gl.select(col("gram")).distinct(), Seq("gram"), "left_semi")
      else gr
    val lb = glF.groupBy(col("gram"))
      .agg(sort_array(collect_list(col(idCol))).as("la"))
    val rb = grF.groupBy(col("gram"))
      .agg(sort_array(collect_list(col(idCol))).as("ra"))
    val cands0 = lb.join(rb, "gram")
      .observe(s"graft_xngram_guard_${obsId.incrementAndGet()}",
        sum(when(size(col("la")) > maxBucket ||
                 size(col("ra")) > maxBucket, 1L).otherwise(0L))
          .as("dropped_buckets"))
      .filter(size(col("la")) <= maxBucket && size(col("ra")) <= maxBucket)
      .select(explode(expr(
        "flatten(transform(la, x -> transform(ra, y -> " +
          "struct(x AS a, y AS b))))")).as("p"))
      .select(col("p.a").as("a"), col("p.b").as("b"))
      .distinct()
    val cands =
      if (smallSide == "left")
        cands0.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      else cands0
    val rightDocs =
      if (smallSide == "left")
        gr.join(cands.select(col("b").as(idCol)).distinct(),
          Seq(idCol), "left_semi")
      else gr
    val inter = size(array_intersect(col("__gb"), col("__ga"))).cast("long")
    val denom =
      if (containment) col("szb")
      else col("sza") + col("szb") - col("inter")
    cands
      .join(docSets(gl, "a"), Seq("a"))
      .join(docSets(rightDocs, "b"), Seq("b"))
      .withColumn("inter", inter)
      .withColumn("score",
        col("inter").cast("double") / denom.cast("double"))
      .filter(col("score") >= threshold)
      .select("a", "b", "score")
  }

  /** Connected components over an undirected near-dup pair graph
    * (columns `a`, `b`): the step that turns pairwise near-dup output
    * into dedup DECISIONS — every document gets the min doc-id of its
    * component as canonical representative.
    *
    * Min-label propagation: each iteration every node takes the min of
    * its own label and its neighbors' labels — one shuffle (groupBy
    * node) per iteration, converging in O(component diameter)
    * iterations. Near-dup graphs are star/clique-shaped (diameter ≤
    * a few hops), so this beats the O(log n) large-star/small-star
    * alternation in constant factors while having the same per-round
    * cost; iterates to a fixpoint detected by a changed-label count,
    * with `maxIter` as a backstop. Labels are localCheckpointed per
    * round (lineage stays FLAT — see the in-loop comment) and the
    * previous round's blocks are released explicitly.
    *
    * Returns (node, component). Only nodes appearing in `pairs` are
    * returned — singletons are their own component by definition. The
    * returned frame is the final round's checkpointed labels: its
    * blocks are freed when the frame is garbage-collected (the plan
    * is flat, so nothing upstream pins them); consume it before
    * discarding — a checkpointed frame cannot be recomputed. Throws
    * if the fixpoint is not reached within `maxIter` rounds — a
    * silent partial labeling would produce wrong dedup decisions. */
  def connectedComponents(pairs: DataFrame, maxIter: Int = 50): DataFrame = {
    import org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    // both edge directions PLUS self-loops from ONE pass over `pairs`
    // (a union of projections would evaluate the upstream near-dup
    // pipeline twice). The self-loop carries each node's OWN label
    // through the aggregate, so a round is a single join + groupBy —
    // min over {self} ∪ neighbors — instead of the join, groupBy,
    // second-join shape that least(own, neighborMin) needs.
    //
    // Lineage strategy for the loop invariant — ADAPTIVE. The edge
    // table is referenced by every round's action, and each action
    // re-serializes its plan into the SQL-execution event string
    // (explainString — emitted even with the UI off). A persist keeps
    // the candidate pipeline's whole lineage in that plan, and for
    // upstream DAGs that embed wide aggregates several times (the
    // md5-token simhash rescue measured 90+ s of pure driver
    // tree-printing across CC rounds at sf0.1), the string dominates
    // the query — there, localCheckpoint truncates the lineage so
    // each round plans (and prints) against a flat scan. But a
    // checkpoint MATERIALIZES eagerly through a row round-trip, which
    // for a SHALLOW upstream (q34's plain near-dup pairs: measured
    // 3.9 s → 5.4 s regression in round 6) costs more than the
    // plan-printing it saves. Decide by the upstream optimized-plan
    // node count: duplicated subtrees count multiply (logical plans
    // are trees), so the count tracks exactly the pathology —
    // plan-string size — that checkpointing exists to kill.
    // Checkpoint trade: blocks are not recomputable on executor loss
    // (acceptable for the pair-count-sized edge table) and are freed
    // explicitly below once the final labels are materialized.
    val deepUpstream = pairs.queryExecution.optimizedPlan
      .collect { case p => p }.length > CheckpointUpstreamNodes
    val edgesPlan = pairs
      .select(explode(array(
        struct(col("a").as("x"), col("b").as("y")),
        struct(col("b").as("x"), col("a").as("y")),
        struct(col("a").as("x"), col("a").as("y")),
        struct(col("b").as("x"), col("b").as("y")))).as("e"))
      .select(col("e.x").as("x"), col("e.y").as("y"))
      .distinct()
    val edges =
      if (deepUpstream) edgesPlan.localCheckpoint()
      else edgesPlan.persist(MEMORY_AND_DISK)
    // initial labels come from the self-loop rows — `edges` is already
    // distinct, so (x, x) appears exactly once per node and the usual
    // project-distinct over all endpoints would be a second shuffle of
    // the same information.
    //
    // Labels are LAZILY localCheckpointed every round, whatever the
    // edge strategy: round N's logical plan nests round N−1's (the
    // join references the previous labels frame), so an un-truncated
    // loop re-embeds the EDGES plan once per round — and every
    // round's action re-serializes that accumulated tree into the
    // SQL-execution event string. With a deep persisted upstream the
    // string grows to rounds × pipeline-size and has measurably
    // OOM'd an 8 GB driver inside `explainString` (round-7 probe of
    // the simhash rescue). The lazy checkpoint adds NO extra pass —
    // the convergence action below is what materializes (and stores)
    // each round's labels; it just makes every round plan against a
    // flat scan of the previous round's few-rows-per-node table.
    var labels = edges.filter(col("x") === col("y"))
      .select(col("x").as("node"), col("x").as("comp"))
      .localCheckpoint(eager = false)
    // Convergence witness for numeric ids: labels are monotone
    // non-increasing (min over a set containing the node's previous
    // label), so the label SUM is stationary iff NO label changed —
    // and the sum rides the same job that materializes the round's
    // checkpoint blocks. Non-numeric ids (string keys) can't sum:
    // they pay one changed-count join per round instead.
    val numericIds = pairs.schema("a").dataType
      .isInstanceOf[org.apache.spark.sql.types.NumericType]
    def checksum(l: DataFrame): java.math.BigDecimal =
      Option(l.agg(sum(col("comp").cast("decimal(38,0)")).as("s"))
        .collect()(0).getDecimal(0)).getOrElse(java.math.BigDecimal.ZERO)
    var prev = if (numericIds) checksum(labels) else null
    var it = 0
    var converged = false
    while (!converged && it < maxIter) {
      val next = edges
        .join(labels.select(col("node").as("y"), col("comp")), Seq("y"))
        .groupBy(col("x").as("node")).agg(min("comp").as("comp"))
        .localCheckpoint(eager = false)
      if (numericIds) {
        val cur = checksum(next)
        converged = cur.compareTo(prev) == 0
        prev = cur
      } else {
        converged = next.as("n")
          .join(labels.as("o"), col("n.node") === col("o.node"))
          .filter(col("n.comp") < col("o.comp")).count() == 0
      }
      // the previous round's blocks are dead once `next` is stored —
      // Dataset.unpersist is a no-op on checkpointed RDDs, so release
      // the blocks explicitly (otherwise they live until the RDD is
      // GC'd, accumulating executor storage across rounds)
      org.apache.spark.sql.GraftExpressionBridge.releaseLocalCheckpoint(labels)
      labels = next
      it += 1
    }
    // The final labels are fully materialized in their own storage by
    // the convergence action above, so the edge blocks can be freed
    // NOW — for the persist branch the usual unpersist; for the
    // checkpoint branch an explicit block release. After release, an
    // unpersist-then-re-execute of the returned frame recomputes fine
    // in the persist branch but fails loudly in the checkpoint branch
    // — consume the labels before discarding them.
    if (deepUpstream)
      org.apache.spark.sql.GraftExpressionBridge.releaseLocalCheckpoint(edges)
    else edges.unpersist()
    // a silent partial result would make dropNearDups keep extra
    // "representatives" of one component — fail loudly instead
    if (!converged) throw new IllegalStateException(
      s"connectedComponents did not converge in $maxIter rounds " +
        "(component diameter exceeds maxIter); raise maxIter")
    labels
  }

  /** Near-dup deduplication end-to-end: keep one representative (the
    * min doc id) per connected component of the pair graph, plus every
    * document in no pair. */
  def dropNearDups(docs: DataFrame, pairs: DataFrame, idCol: String): DataFrame =
    keepRepresentatives(docs, connectedComponents(pairs), idCol)

  /** A built n-gram near-dup index over an ACCEPTED corpus — the
    * build-once/search-many discipline for deduplication: a 100 TB
    * pipeline ingests daily increments, and re-shingling the whole
    * accepted corpus per batch would dwarf the batch's own cost. The
    * gram table is a plain DataFrame the caller persists once (or
    * writes bucketed on `gram` so every future batch's candidate join
    * is co-located and shuffle-free on the index side). */
  final case class NgramIndex(grams: DataFrame, idCol: String, n: Int)

  def buildNgramIndex(corpus: DataFrame, idCol: String, textCol: String,
                      n: Int = 8): NgramIndex =
    NgramIndex(gramTable(corpus, idCol, textCol, n), idCol, n)

  /** Persist an [[NgramIndex]] as a parquet table BUCKETED on `gram` —
    * the build-once/search-many discipline at 100 TB: the write pays
    * the gram shuffle once, and every future batch's probe
    * ([[incrementalDropNearDups]]) aggregates the index side per gram
    * with NO Exchange (the bucket layout already satisfies the
    * clustered distribution), so per-batch cost never includes
    * re-shuffling the accepted corpus. Pinned by PlanSpec ("ngram
    * index bucketed on gram..."). */
  def writeNgramIndexBucketed(index: NgramIndex, table: String,
                              numBuckets: Int = 64): Unit =
    Sinks.writeBucketed(index.grams, table, Seq("gram"),
      numBuckets)

  /** Reopen a bucketed index table written by
    * [[writeNgramIndexBucketed]]. `idCol`/`n` must match the build —
    * the table stores (idCol, gram) rows; n is the gram width used to
    * shingle future batches against it. */
  def readNgramIndex(spark: org.apache.spark.sql.SparkSession, table: String,
                     idCol: String, n: Int): NgramIndex =
    NgramIndex(spark.table(table), idCol, n)

  /** Grow the index with accepted survivors (one gram pass over the
    * BATCH only — the existing index is untouched). */
  def appendToIndex(index: NgramIndex, accepted: DataFrame,
                    textCol: String): NgramIndex =
    NgramIndex(index.grams.unionByName(
      gramTable(accepted, index.idCol, textCol, index.n)), index.idCol, index.n)

  /** TAKEDOWN for the near-dup index — the third face of the
    * compliance lifecycle ([[tombstoneFromExactIndex]] /
    * [[graft.operators.Similarity.tombstoneIvfPq]]): a document
    * removed from the accepted corpus must stop TAINTING future
    * batches — near-copies of it (and their within-batch components)
    * become admissible again. Logical delete = one lazy anti join
    * dropping the doc's gram rows from the index side of the
    * candidate bucket join (O(tombstones) build side, the index is
    * never re-shingled); physical purge = the next generation of the
    * live frame ([[maintainNgramIndex]]), after which the ledger
    * drops. */
  def tombstoneFromNgramIndex(index: NgramIndex,
                              ids: DataFrame): NgramIndex =
    NgramIndex(
      index.grams.join(broadcast(
          ids.select(col(ids.columns.head).as(index.idCol)).distinct()),
        Seq(index.idCol), "left_anti"),
      index.idCol, index.n)

  /** Durable takedown ledger beside a [[writeNgramIndexBucketed]]
    * table — idempotent distinct-union of removed doc ids into the
    * `${table}_tombstones` ledger
    * ([[graft.sources.Generations.appendLedger]]), so a crash can
    * never leave a missing ledger that lets removed docs keep
    * tainting batches. Serve through [[readNgramIndexLive]]. */
  def tombstoneNgramIndex(spark: org.apache.spark.sql.SparkSession,
                          table: String, ids: DataFrame): Unit =
    Generations.appendLedger(spark, s"${table}_tombstones",
      ids.select(col(ids.columns.head).cast("long").as("doc_id")))

  /** Reopen a durable n-gram index with its takedown ledger applied —
    * the serving entry point after [[tombstoneNgramIndex]] calls. */
  def readNgramIndexLive(spark: org.apache.spark.sql.SparkSession,
                         table: String, idCol: String,
                         n: Int): NgramIndex = {
    val index = readNgramIndex(spark, table, idCol, n)
    Generations.readLedger(spark, s"${table}_tombstones")
      .map { case (_, ids) => tombstoneFromNgramIndex(index, ids) }
      .getOrElse(index)
  }

  private def gramsTables(prefix: String)(gen: String): Seq[String] =
    Seq(s"${prefix}_grams_$gen")

  /** Pointer-rooted durable face of the n-gram index — the "fresh
    * epoch" that [[tombstoneFromNgramIndex]]'s physical-purge contract
    * points at, made concrete: generations alternate between
    * `${prefix}_grams_a` / `_b`, both bucketed on `gram`, so the
    * build-once/search-many shuffle shape survives the flip; meta
    * (gen, grams_table, epoch). */
  def writeNgramIndexRooted(spark: org.apache.spark.sql.SparkSession,
                            prefix: String, index: NgramIndex,
                            numBuckets: Int = 64): Unit =
    writeNgramGen(spark, prefix, Generations.liveGen(spark, prefix), index,
      numBuckets)

  private def writeNgramGen(spark: org.apache.spark.sql.SparkSession,
                            prefix: String, cur: Option[String],
                            index: NgramIndex,
                            numBuckets: Int): Map[String, String] =
    // a compaction's grams frame lazily READS the current generation
    // (minus the ledger) — the alternate table name makes that legal
    Generations.rebuild(spark, prefix, cur, gramsTables(prefix))(g =>
      writeNgramIndexBucketed(index, s"${prefix}_grams_$g", numBuckets))(
      (g, e) => Seq("gen" -> g, "grams_table" -> s"${prefix}_grams_$g",
        "epoch" -> e))

  private def ngramLive(spark: org.apache.spark.sql.SparkSession,
                        live: Generations.Live, idCol: String,
                        n: Int): NgramIndex = {
    val index = NgramIndex(spark.table(live("grams_table")), idCol, n)
    live.ledger.map(tombstoneFromNgramIndex(index, _)).getOrElse(index)
  }

  /** Reopen the live generation of a [[writeNgramIndexRooted]] index
    * (raw — takedowns not applied). `idCol`/`n` must match the build,
    * as with [[readNgramIndex]]. */
  def readNgramIndexRooted(spark: org.apache.spark.sql.SparkSession,
                           prefix: String, idCol: String,
                           n: Int): NgramIndex =
    ngramLive(spark, Generations.open(spark, prefix,
      m => Seq(m("grams_table")), ledger = false), idCol, n)

  /** [[readNgramIndexRooted]] with the `${prefix}_tombstones` ledger
    * applied — the serving entry point of the rooted face (file
    * takedowns via [[tombstoneNgramIndex]] against the PREFIX, so the
    * ledger survives generation flips until [[maintainNgramIndex]]
    * purges physically). */
  def readNgramIndexRootedLive(spark: org.apache.spark.sql.SparkSession,
                               prefix: String, idCol: String,
                               n: Int): NgramIndex =
    ngramLive(spark, Generations.open(spark, prefix,
      m => Seq(m("grams_table"))), idCol, n)

  /** ONE-CALL maintenance window for a rooted n-gram index — the
    * near-dup face of [[maintainExactIndex]]: pending takedowns are
    * already CORRECT forever through the live read's anti join; the
    * window is where they become FREE (the anti join leaves the
    * serving plan) and where the ledger stops accumulating. Fires on
    * purge debt only — gram tables carry no fpp-style drift; growth
    * is handled by [[appendToIndex]] at admission time. When fired:
    * rewrite the live (ledger-applied) gram frame to the alternate
    * bucketed generation — one shuffle over the SURVIVING grams,
    * never a corpus re-shingle. Window rules:
    * [[graft.sources.Generations.window]]. */
  def maintainNgramIndex(spark: org.apache.spark.sql.SparkSession,
                         prefix: String, idCol: String, n: Int,
                         numBuckets: Int = 64): DataFrame =
    Generations.purgeWindow(spark, prefix, m => Seq(m("grams_table"))) {
      live => writeNgramGen(spark, prefix, Some(live("gen")),
        ngramLive(spark, live, idCol, n), numBuckets)
    }

  /** Incremental near-dup dedup of a NEW batch against an indexed
    * corpus: a batch doc survives iff (a) its within-batch component —
    * over batch-vs-batch near-dup pairs — contains NO doc that
    * near-dup-matches the index, and (b) it is the min-id
    * representative of that component (unpaired docs are their own
    * component). Dropping the whole TAINTED component, not just the
    * directly-matching doc, is what preserves the one-shot global
    * dedup decision: a chain new₂ ~ new₁ ~ old must drop new₂ even
    * though new₂ never matches the index itself. The decision equals
    * re-running [[dropNearDups]] over (accepted ∪ batch) whenever the
    * accepted corpus is itself dedup-clean (no accepted-accepted
    * pairs) — which holds by induction when every increment is
    * admitted through this gate.
    *
    * Cost shape per batch: one gram pass over the batch (the index is
    * NOT re-shingled), one two-sided capped bucket join vs the index,
    * one within-batch near-dup pass + component labeling. */
  def incrementalDropNearDups(index: NgramIndex, batch: DataFrame,
                              textCol: String, threshold: Double = 0.5,
                              maxBucket: Int = 50): DataFrame = {
    val idCol = index.idCol
    // Exact-dup collapse FIRST — the hot-bucket discipline of the
    // rescueHot family, always on here: identical docs share every
    // gram, so a batch flooded with copies would blow every bucket on
    // BOTH the within-batch and the cross-index join and the whole
    // flood would be silently ADMITTED. Collapsing to the min-id doc
    // per identical text preserves the decision exactly (identical
    // text ⇒ identical gram set ⇒ identical near-dup relations), and
    // the non-representative copies are exact dups by definition —
    // never admissible regardless of their rep's fate. Grouping is on
    // the raw text (no hash), so a collision can't mis-drop a doc.
    val collapsed = exact(batch, Seq(textCol), idCol)
    val bg = gramTable(collapsed, idCol, textCol, index.n).persist()
    // smallSide = "left": the BATCH gram set broadcasts, the index's
    // bucket aggregation and verify arrays restrict to batch-relevant
    // grams/docs — per-batch cost stays proportional to the batch,
    // never to the accepted corpus
    val hits = crossJaccardFromGrams(bg, index.grams, idCol, threshold,
        maxBucket, containment = false, smallSide = "left")
      .select(col("a").as(idCol)).distinct().localCheckpoint()
    // already flat and block-backed: connectedComponents checkpoints
    // its labels every round, so no re-checkpoint is needed here
    val comps = connectedComponents(
      ngramJaccardFromGrams(bg, idCol, threshold, maxBucket))
    bg.unpersist()
    // tainted components: any component with a member matching the
    // index (hits and comps are both batch-bounded and checkpointed)
    val tainted = comps.join(hits.withColumnRenamed(idCol, "node"),
        Seq("node"))
      .select(col("comp")).distinct()
    val untaintedReps = keepRepresentatives(collapsed, comps, idCol)
      .join(hits, Seq(idCol), "left_anti")
    untaintedReps.join(
      comps.withColumnRenamed("node", idCol)
        .join(tainted, Seq("comp"), "left_semi")
        .select(col(idCol)),
      Seq(idCol), "left_anti")
  }

  /** A built EXACT-dedup index over an ACCEPTED corpus: the distinct
    * accepted texts keyed by their 64-bit hash (the verification
    * table — join on `__h` with a text-equality residual, so a hash
    * collision can never mis-drop a doc) plus a Bloom filter over the
    * same hashes held as a driver-side byte sketch. The Bloom is the
    * 100 TB lever: a daily batch is mostly NOVEL text, and
    * [[incrementalDropExactDups]] admits every Bloom-negative doc
    * with a pure projection — no join, no shuffle — so the anti-join
    * against the (huge) accepted table only ever sees the true-dup +
    * false-positive sliver (fpp of the batch). No false negatives by
    * construction, so decisions are EXACTLY those of the plain
    * anti-join. The `hashes` table follows the [[NgramIndex]]
    * build-once/search-many discipline: persist it, or write it
    * bucketed on `__h` ([[Sinks.writeBucketed]]) so the
    * verification join is co-located shuffle-free on the index side.
    *
    * Sizing: `numBits` defaults to 2^23 (1 MiB — fpp ≈ 1% at 2^20
    * items) PER SHARD; Spark caps one sketch at the
    * `spark.sql.optimizer.runtime.bloomFilter.*` conf family
    * (`maxNumBits` 2^26 default, ~4M items at 1% fpp). Past that cap
    * the index SHARDS: `shards = k` hash-partitions the key space by
    * `pmod(xxhash64(text), k)` into k independent sketches of the
    * same per-shard geometry, so total capacity is k × expectedItems
    * with per-shard fpp — billions of accepted docs without touching
    * the conf caps (k=256 shards of 2^26 bits = 2 GiB driver-side,
    * 10^9 items at ~1% fpp). Every probe consults exactly the one
    * sketch its shard owns ([[mightContainIndexCol]]'s CASE over the
    * shard id), so fpp does NOT compound across shards. */
  final case class ExactIndex(hashes: DataFrame,
                              blooms: IndexedSeq[Array[Byte]],
                              expectedItems: Long, numBits: Long) {
    def shards: Int = blooms.size
    /** Single-sketch accessor for unsharded indexes (the k=1 default). */
    def bloom: Array[Byte] = {
      require(blooms.size == 1,
        s"index has ${blooms.size} shards; probe via mightContainIndexCol")
      blooms.head
    }
    /** One broadcast of the shard bytes PER INDEX INSTANCE, built on
      * first large-index probe and reused by every later probe of
      * this index (a streaming query probes per micro-batch; per-call
      * broadcasts would pile up driver-side until GC). Retire an
      * index generation with [[release]] — ContextCleaner reaping on
      * driver GC is the fallback, not the contract: a caller
      * retaining epoch references (a history list, a checkpointed
      * closure) would otherwise accumulate up-to-GiB broadcasts on
      * driver and executors, one per growth-loop batch. */
    @transient @volatile private var broadcastRef
        : org.apache.spark.broadcast.Broadcast[IndexedSeq[Array[Byte]]] = _
    private[operators] def sketchBroadcast
        : org.apache.spark.broadcast.Broadcast[IndexedSeq[Array[Byte]]] = {
      if (broadcastRef == null) synchronized {
        if (broadcastRef == null)
          broadcastRef = hashes.sparkSession.sparkContext.broadcast(blooms)
      }
      broadcastRef
    }
    /** Explicitly free this generation's sketch bytes from EXECUTOR
      * memory (no-op if no large-index probe ever ran; idempotent).
      * Call when a generation is retired — e.g. on the PRE-append
      * index once [[appendToExactIndex]]'s successor is in service.
      * Deliberately `unpersist`, NOT `destroy`: a plan or streaming
      * query built before the release still holds this broadcast
      * handle, and unpersist lets it transparently RE-FETCH from the
      * driver on next use (costs time, never answers or crashes),
      * where destroy would fail it with "used after it was
      * destroyed". The executor copies are the accumulation hazard
      * (one sketch-sized block per epoch per executor); the single
      * driver copy is the same bytes the index object already holds
      * in `blooms`, and both free together when the caller drops the
      * index reference (ContextCleaner then destroys the broadcast
      * for real). */
    def release(): Unit = synchronized {
      if (broadcastRef != null) broadcastRef.unpersist(blocking = false)
    }
  }

  /** Bloom-filter membership probe as a Column: Spark's native
    * [[org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain]]
    * over a plan-literal serialized sketch (the model-as-literal
    * discipline of `lrScoreCol`). `value` must be a LONG hash column
    * (xxhash64 — the same hash family the aggregate fed). */
  private[graft] def mightContainCol(bloom: Array[Byte], value: Column): Column =
    org.apache.spark.sql.GraftExpressionBridge.column(
      new org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain(
        org.apache.spark.sql.catalyst.expressions.Literal(bloom,
          org.apache.spark.sql.types.BinaryType),
        org.apache.spark.sql.GraftExpressionBridge.expression(value)))

  def buildExactIndex(corpus: DataFrame, textCol: String,
                      expectedItems: Long = 1L << 20,
                      numBits: Long = 1L << 23,
                      shards: Int = 1): ExactIndex = {
    val hashes = corpus.select(col(textCol).as("__t")).distinct()
      .select(xxhash64(col("__t")).as("__h"), col("__t"))
    ExactIndex(hashes,
      sketchesFromHashes(hashes, expectedItems, numBits, shards),
      expectedItems, numBits)
  }

  /** Build `shards` Bloom sketches over a hash frame's `__h` column —
    * one grouped aggregate pass (partial sketches combine map-side),
    * shared by [[buildExactIndex]] (fresh corpus) and
    * [[compactExactIndex]] (re-sketch the EXISTING hash table under
    * new geometry, no corpus re-hash). */
  private def sketchesFromHashes(hashes: DataFrame, expectedItems: Long,
                                 numBits: Long, shards: Int)
      : IndexedSeq[Array[Byte]] = {
    import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
    import org.apache.spark.sql.catalyst.expressions.Literal
    require(shards >= 1, s"shards must be >= 1, got $shards")
    val bloomAgg = org.apache.spark.sql.GraftExpressionBridge.column(
      new BloomFilterAggregate(
        org.apache.spark.sql.GraftExpressionBridge.expression(col("__h")),
        Literal(expectedItems), Literal(numBits)).toAggregateExpression())
    // an empty corpus (k=1) or an empty SHARD (k>1: no accepted hash
    // lands in that partition of the key space) yields no sketch; the
    // explicit empty sketch keeps its probe a plain always-false
    // projection AND must share the aggregate's exact geometry (same
    // expectedItems/numBits → same bitSize/numHashFunctions), or a
    // later [[appendToExactIndex]] mergeInPlace against it throws
    // IncompatibleMergeException — the all-dups-batch /
    // empty-bootstrap cases hit this
    def emptySketch(): Array[Byte] = {
      val bos = new java.io.ByteArrayOutputStream()
      org.apache.spark.util.sketch.BloomFilter
        .create(expectedItems, numBits).writeTo(bos)
      bos.toByteArray
    }
    if (shards == 1) {
      val row = hashes.agg(bloomAgg.as("bf")).head()
      IndexedSeq(
        if (row.isNullAt(0)) emptySketch()
        else row.getAs[Array[Byte]](0))
    } else {
      // ONE grouped pass over the hash table: k sketches built in
      // parallel by a hash aggregate on the shard id (partial
      // sketches combine map-side — the same scan cost as the
      // single-sketch build, never k passes)
      val built = hashes
        .groupBy(pmod(col("__h"), lit(shards.toLong)).as("__s"))
        .agg(bloomAgg.as("bf"))
        .collect()
        .map(r => r.getLong(0).toInt -> r.getAs[Array[Byte]]("bf"))
        .toMap
      IndexedSeq.tabulate(shards)(i => built.getOrElse(i, emptySketch()))
    }
  }

  /** Estimated per-shard Bloom false-positive probability of an
    * [[ExactIndex]] at its CURRENT fill — the drift signal of the
    * growth loop: [[appendToExactIndex]] unions hash rows and merges
    * sketches at FIXED geometry, so after many batches the realized
    * item count n outgrows `expectedItems` and fpp rises with no
    * remediation short of [[compactExactIndex]]. One grouped count
    * over the hash table (exact n per shard — the table is distinct
    * by construction), then the standard estimate
    * `(1 − e^(−kn/m))^k` with m = numBits per shard and k the hash
    * count `BloomFilter.create(expectedItems, numBits)` chose
    * (max(1, round(m/n₀·ln 2)) — the same formula, so the estimate
    * tracks the sketches actually in service). Returns one row per
    * shard (`shard`, `n_items`, `est_fpp`) — surface it next to the
    * index meta in monitoring, and compact when the worst shard
    * crosses the admission budget. */
  def estimatedFpp(index: ExactIndex): DataFrame = {
    val m = index.numBits.toDouble
    val k = math.max(1L,
      math.round(m / index.expectedItems.toDouble * math.log(2.0)))
    index.hashes
      .groupBy(pmod(col("__h"), lit(index.shards.toLong)).as("shard"))
      .agg(count(lit(1)).as("n_items"))
      .withColumn("est_fpp", round(
        pow(lit(1.0) - exp(lit(-k.toDouble) * col("n_items") / lit(m)),
          k.toDouble), 6))
  }

  /** Re-sketch an [[ExactIndex]] under NEW geometry — the fpp-drift
    * remediation: one grouped aggregate over the DURABLE hash table
    * (never a corpus re-hash or re-distinct; the hash table is the
    * index's source of truth and carries every admitted text),
    * yielding a fresh generation with `shards` sketches of `numBits`
    * bits sized to the grown item count. The verification table is
    * UNCHANGED — compaction only re-derives the probabilistic tier —
    * so admission decisions stay exactly as correct as before, with
    * fewer false positives reaching the verify join. Persist the
    * result to a FRESH epoch dir ([[writeExactIndexBucketed]]'s
    * alternate-epoch discipline) and [[ExactIndex.release]] the
    * superseded generation. */
  def compactExactIndex(index: ExactIndex,
                        expectedItems: Long, numBits: Long,
                        shards: Int): ExactIndex =
    ExactIndex(index.hashes,
      sketchesFromHashes(index.hashes, expectedItems, numBits, shards),
      expectedItems, numBits)

  /** TAKEDOWN for the exact-dedup index — the accepted-corpus face of
    * [[graft.operators.Similarity.tombstoneIvfPq]]'s compliance
    * lifecycle: a document removed from the accepted corpus must make
    * future identical copies ADMISSIBLE again, immediately. Logical
    * delete = drop the rows from the VERIFICATION hash table (one
    * lazy anti join, O(tombstones) build side): the Bloom keeps
    * answering "maybe" for the removed texts — a cost (those copies
    * now pay the verification join), never a correctness issue,
    * because the join finds no row and admits. Physical purge =
    * [[compactExactIndex]] re-sketches from the already-purged table
    * — the SAME maintenance call that remediates fpp drift, now also
    * the point where deletes stop costing Bloom false positives. */
  def tombstoneFromExactIndex(index: ExactIndex, docs: DataFrame,
                              textCol: String): ExactIndex =
    ExactIndex(
      index.hashes.join(broadcast(
          docs.select(col(textCol).as("__t")).distinct()),
        Seq("__t"), "left_anti"),
      index.blooms, index.expectedItems, index.numBits)

  /** Durable takedown ledger beside a [[writeExactIndexBucketed]]
    * index: idempotent distinct-union of (hash, text) rows into the
    * `${table}_tombstones` ledger
    * ([[graft.sources.Generations.appendLedger]]) — a missing ledger
    * would silently re-DROP copies of taken-down texts as if they were
    * still accepted. Serve through [[readExactIndexLive]]; the next
    * compact-and-rewrite cycle purges physically — rewrite from
    * `readExactIndexLive(...)` via [[compactExactIndex]] +
    * [[writeExactIndexBucketed]], then
    * [[graft.sources.Generations.clearLedger]]. */
  def tombstoneExactIndex(spark: org.apache.spark.sql.SparkSession,
                          table: String, docs: DataFrame,
                          textCol: String): Unit =
    Generations.appendLedger(spark, s"${table}_tombstones",
      docs.select(xxhash64(col(textCol)).as("__h"),
        col(textCol).as("__t")))

  /** Reopen a durable exact index with its takedown ledger applied —
    * the serving entry point after [[tombstoneExactIndex]] calls. */
  def readExactIndexLive(spark: org.apache.spark.sql.SparkSession,
                         table: String, indexDir: String): ExactIndex =
    exactLive(readExactIndex(spark, table, indexDir),
      Generations.readLedger(spark, s"${table}_tombstones").map(_._2))

  private def exactLive(index: ExactIndex,
                        ledger: Option[DataFrame]): ExactIndex =
    ledger.map(rows =>
        tombstoneFromExactIndex(index, rows.select(col("__t")), "__t"))
      .getOrElse(index)

  /** Pointer-rooted durable face of the exact index — the alternate
    * epochs [[writeExactIndexBucketed]]'s growth-loop advice asks for:
    * generations alternate between `${prefix}_a` / `${prefix}_b`
    * tables rooted at `indexRoot/gen_a` / `gen_b` dirs, meta
    * (gen, index_dir). The generation's own epoch token and MANIFEST
    * ([[writeExactIndexBucketed]]) commit each generation; the meta
    * is the pointer flip. */
  def writeExactIndexRooted(spark: org.apache.spark.sql.SparkSession,
                            prefix: String, indexRoot: String,
                            index: ExactIndex,
                            numBuckets: Int = 64): Unit =
    writeExactGen(spark, prefix, indexRoot,
      Generations.liveGen(spark, prefix), index, numBuckets)

  private def writeExactGen(spark: org.apache.spark.sql.SparkSession,
                            prefix: String, indexRoot: String,
                            cur: Option[String], index: ExactIndex,
                            numBuckets: Int): Map[String, String] = {
    val next = Generations.nextGen(cur)
    // the write plan may lazily READ the current generation (a
    // compaction's hashes frame is the old gen's table minus the
    // ledger) — writing to the alternate name/dir is what makes that
    // legal
    writeExactIndexBucketed(index, s"${prefix}_$next",
      s"$indexRoot/gen_$next", numBuckets)
    val meta = Generations.commit(spark, prefix, Nil,
      cur.map(g => s"${prefix}_$g").toSeq)(_ =>
      Seq("gen" -> next, "index_dir" -> s"$indexRoot/gen_$next"))
    Generations.drop(spark, Nil, cur.map(g => s"$indexRoot/gen_$g").toSeq)
    meta
  }

  private def exactGen(spark: org.apache.spark.sql.SparkSession,
                       prefix: String, live: Generations.Live): ExactIndex =
    readExactIndex(spark, s"${prefix}_${live("gen")}", live("index_dir"))

  /** Reopen the live generation of a [[writeExactIndexRooted]] index
    * (raw — the serving sketches and the full hash table; takedowns
    * NOT applied). Refusal semantics ride [[readExactIndex]]'s
    * manifest/epoch validation of the generation the meta names. */
  def readExactIndexRooted(spark: org.apache.spark.sql.SparkSession,
                           prefix: String): ExactIndex =
    exactGen(spark, prefix,
      Generations.open(spark, prefix, _ => Nil, ledger = false))

  /** [[readExactIndexRooted]] with the `${prefix}_tombstones` ledger
    * applied — the serving entry point of the rooted face. The ledger
    * name is rooted at the PREFIX, not the generation table, so filed
    * takedowns survive generation flips until
    * [[maintainExactIndex]]'s physical purge clears them. */
  def readExactIndexRootedLive(spark: org.apache.spark.sql.SparkSession,
                               prefix: String): ExactIndex = {
    val live = Generations.open(spark, prefix, _ => Nil)
    exactLive(exactGen(spark, prefix, live), live.ledger)
  }

  /** ONE-CALL maintenance window for a rooted exact index — the
    * [[graft.operators.Similarity.maintainIvfPqIndex]] /
    * [[graft.operators.Layout.maintainZOrderedLive]] shape applied to
    * the dedup family: measure → decide → conditional compaction →
    * re-measure, returning one bounded report row. Two independent
    * triggers, both the signals this file already exposes:
    *
    *   - FPP DRIFT ([[estimatedFpp]] over the serving generation —
    *     the raw fill, since the sketches in service still hold every
    *     tombstoned text): fires when the worst shard's estimate
    *     crosses `maxFpp`.
    *   - PURGE DEBT: any pending `${prefix}_tombstones` rows. Logical
    *     deletes are already correct forever
    *     ([[readExactIndexRootedLive]]); the window is WHERE they
    *     become free — the same [[compactExactIndex]] re-sketch that
    *     remediates fpp also forgets the purged texts.
    *
    * When either fires: re-sketch the LIVE (ledger-applied) hash
    * table under fresh geometry sized to the grown corpus —
    * `expectedItems = ceil(n × headroom)`, `numBits =`
    * `BloomFilter.optimalNumOfBits(expectedItems, targetFpp)` (the
    * published `-n·ln p / ln²2` optimum, shard count unchanged) —
    * write it to the alternate generation and clear the ledger. Cost
    * is one grouped aggregate over the durable hash table (never a
    * corpus re-read). Window rules:
    * [[graft.sources.Generations.window]]. */
  def maintainExactIndex(spark: org.apache.spark.sql.SparkSession,
                         prefix: String, indexRoot: String,
                         maxFpp: Double, targetFpp: Double = 0.01,
                         headroom: Double = 2.0,
                         numBuckets: Int = 64): DataFrame = {
    import spark.implicits._
    // the fpp aggregate and the pending count fold into ONE action (a
    // crossJoin of two 1-row aggregates); the reopen is one more
    def measure(live: Generations.Live): (ExactIndex, Double, Long) = {
      val index = exactGen(spark, prefix, live)
      val fppAgg = estimatedFpp(index)
        .agg(coalesce(max(col("est_fpp")), lit(0.0)).as("__fpp"))
      val r = live.ledger
        .map(rows => fppAgg.crossJoin(rows.agg(count(lit(1)).as("__p"))))
        .getOrElse(fppAgg.withColumn("__p", lit(0L)))
        .collect()(0)
      (index, r.getDouble(0), r.getLong(1))
    }
    val w = Generations.window(Generations.open(spark, prefix, _ => Nil))(
        measure)(m => m._2 > maxFpp || m._3 > 0L) { case (live, (index, _, _)) =>
      val kept = exactLive(index, live.ledger)
      val n = kept.hashes.count()
      val expected = math.max(1L, math.ceil(n * headroom).toLong)
      val bits = math.max(64L, org.apache.spark.util.sketch.BloomFilter
        .optimalNumOfBits(expected, targetFpp))
      val meta = writeExactGen(spark, prefix, indexRoot, Some(live("gen")),
        compactExactIndex(kept, expected, bits, kept.shards), numBuckets)
      Generations.clearLedger(spark, s"${prefix}_tombstones")
      meta
    }
    val (_, preFpp, pending) = w.pre
    Seq((pending, preFpp, preFpp > maxFpp, pending > 0L, w.post._2,
        w.post._3, w.changed))
      .toDF("pending_tombstones", "pre_worst_fpp", "fpp_fired",
        "purge_fired", "post_worst_fpp", "post_pending", "gen_changed")
  }

  /** Total sketch bytes above which [[mightContainIndexCol]] stops
    * embedding the sketches as plan LITERALS and routes through a
    * broadcast instead: literals ride in every serialized plan/task
    * binary (and a streaming probe re-serializes them per
    * micro-batch trigger), which is fine at a few hundred KiB but
    * cannot execute at the documented 256-shard × 2^26-bit tier
    * (~2 GiB of literals blows task-serialization limits long before
    * that) — and well before THAT, driver-side expression
    * canonicalization (hashCode/equals over the literal bytes per
    * optimizer pass) starts to dominate: measured ~8 s of driver time
    * for ~8 MiB of sketch literals in one composed query (q101)
    * whose Spark jobs summed 3 s. The broadcast ships the bytes once
    * per executor and the task binary carries only the handle. */
  private[operators] val PlanLiteralSketchBudget: Long = 2L << 20

  /** Membership probe against a (possibly sharded) [[ExactIndex]]:
    * routes each row's LONG hash to the one sketch owning its
    * `pmod(hash, k)` shard, so per-shard fpp is the whole index's fpp
    * (no compounding). Small indexes (≤ [[PlanLiteralSketchBudget]]
    * total bytes) probe through a CASE over k plan-literal sketches —
    * a pure codegen'd projection; larger ones probe through a
    * broadcast-backed function ([[BroadcastShardProbe]]) whose
    * per-executor deserialized filters are cached, trading codegen
    * for O(1) task binaries — decisions identical (parity-spec'd). */
  def mightContainIndexCol(index: ExactIndex, hash: Column): Column =
    if (index.blooms.iterator.map(_.length.toLong).sum >
        PlanLiteralSketchBudget)
      mightContainBroadcastCol(index, hash)
    else if (index.blooms.size == 1) mightContainCol(index.blooms.head, hash)
    else {
      val shard = pmod(hash, lit(index.blooms.size.toLong))
      index.blooms.zipWithIndex.tail
        .foldLeft(when(shard === 0, mightContainCol(index.blooms.head, hash))) {
          case (acc, (b, i)) => acc.when(shard === i, mightContainCol(b, hash))
        }
        // a non-null hash always lands one of the k whens (pmod is
        // total on [0, k)); only a NULL hash reaches the otherwise —
        // propagate it as NULL to match BloomFilterMightContain's (and
        // the broadcast tier's) null semantics, not a silent false
        .otherwise(lit(null).cast(org.apache.spark.sql.types.BooleanType))
    }

  /** The large-index probe path: shard sketch BYTES ride one
    * broadcast (shipped once per executor, task binaries carry only
    * the handle) and deserialize into [[org.apache.spark.util.sketch.BloomFilter]]s
    * once per executor JVM via [[BroadcastShardProbe]]'s cache — not
    * once per task, which would memcpy the whole index per task. */
  private[graft] def mightContainBroadcastCol(index: ExactIndex,
                                                  hash: Column): Column =
    udf(new BroadcastShardProbe(index.sketchBroadcast, index.shards))
      .apply(hash)

  /** Grow the index with accepted survivors: the hash table unions
    * (one projection over the NEW docs only — a lazy union, NO
    * re-shuffle of the existing index) and the Bloom merges
    * driver-side (`mergeInPlace` — same `numBits` by construction).
    *
    * The union is deliberately NOT distinct()ed: in intended use the
    * appended docs are [[incrementalDropExactDups]] survivors, which
    * by construction duplicate no existing index text, and a global
    * distinct would re-shuffle the ENTIRE accepted table on every
    * batch — O(corpus) per append at the scale this API exists for.
    * Even under misuse (appending un-screened docs), duplicate
    * (hash, text) rows are harmless: the verification join is
    * left_anti, so extra copies of a build-side key change nothing.
    *
    * Broadcast hygiene: the returned index is a NEW generation with
    * its own (lazily-built) sketch broadcast. Once it is in service,
    * call `release()` on the superseded index so its broadcast frees
    * immediately instead of waiting on driver GC + ContextCleaner —
    * a growth loop that retains old epochs otherwise accumulates one
    * sketch-sized broadcast per batch ([[ExactIndex.release]]). */
  def appendToExactIndex(index: ExactIndex, accepted: DataFrame,
                         textCol: String): ExactIndex = {
    val add = buildExactIndex(accepted, textCol, index.expectedItems,
      index.numBits, index.shards)
    // shard-wise driver-side merge: shard routing is a pure function
    // of the hash, so sketch i of the increment covers exactly the
    // texts sketch i of the index will be probed for
    val blooms = index.blooms.zip(add.blooms).map { case (a, b) =>
      val merged = org.apache.spark.util.sketch.BloomFilter
        .readFrom(new java.io.ByteArrayInputStream(a))
      merged.mergeInPlace(org.apache.spark.util.sketch.BloomFilter
        .readFrom(new java.io.ByteArrayInputStream(b)))
      val bos = new java.io.ByteArrayOutputStream()
      merged.writeTo(bos)
      bos.toByteArray
    }
    ExactIndex(index.hashes.unionByName(add.hashes),
      blooms, index.expectedItems, index.numBits)
  }

  /** Persist an [[ExactIndex]] durably, so the production admission
    * loop (build → admit → append → admit …, q101's gate) survives
    * driver restarts instead of re-hashing the accepted corpus per
    * session — a directory-backed generation
    * ([[graft.sources.Generations.writeExternal]] +
    * [[graft.sources.Generations.commitManifest]]) under `indexDir`:
    *   - `hashes/`   — the verification table, EXTERNAL, bucketed+
    *     sorted on `__h` (anti join co-located shuffle-free on the
    *     index side — the [[writeNgramIndexBucketed]] discipline);
    *     external, not managed, so the data outlives the default
    *     in-memory catalog and [[readExactIndex]] re-registers it in
    *     a fresh session.
    *   - `sketches/` — one binary file per Bloom shard plus a
    *     MANIFEST (expectedItems numBits shards numBuckets epoch):
    *     sketches and table are either the SAME epoch or the read
    *     refuses, so stale sketches over a newer table (Bloom false
    *     negatives silently admitting duplicates) are never served.
    *
    * Growth loop: a LOADED index's [[appendToExactIndex]] union
    * lazily READS `table`, so writing it back to the same
    * `table`/`indexDir` would overwrite its own input mid-scan —
    * alternate generations with [[writeExactIndexRooted]]. */
  def writeExactIndexBucketed(index: ExactIndex, table: String,
                              indexDir: String,
                              numBuckets: Int = 64): Unit = {
    val spark = index.hashes.sparkSession
    val epoch = Generations.writeExternal(index.hashes, table,
      s"$indexDir/hashes", "__h", numBuckets)
    Generations.commitManifest(spark, indexDir, "sketches",
      Seq(index.expectedItems, index.numBits, index.shards, numBuckets),
      epoch) { tmp =>
      val fs = tmp.getFileSystem(spark.sparkContext.hadoopConfiguration)
      index.blooms.zipWithIndex.foreach { case (b, i) =>
        val os = fs.create(
          new org.apache.hadoop.fs.Path(tmp, f"shard_$i%05d.bloom"), true)
        try os.write(b) finally os.close()
      }
    }
  }

  /** Reopen a durable index written by [[writeExactIndexBucketed]],
    * in a fresh session too ([[graft.sources.Generations.attachExternal]]).
    * Every torn or mismatched state refuses loudly — serving one
    * write's sketches over another's table could silently admit
    * duplicates. */
  def readExactIndex(spark: org.apache.spark.sql.SparkSession, table: String,
                     indexDir: String): ExactIndex = {
    val dir = new org.apache.hadoop.fs.Path(s"$indexDir/sketches")
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val Seq(items, bits, k, buckets) = Generations.readManifest(spark,
      dir.toString, Seq("expectedItems", "numBits", "shards", "numBuckets"),
      s"$indexDir/hashes", "writeExactIndexBucketed")
    val blooms = IndexedSeq.tabulate(k.toInt) { i =>
      val in = fs.open(new org.apache.hadoop.fs.Path(dir, f"shard_$i%05d.bloom"))
      try in.readAllBytes() finally in.close()
    }
    Generations.attachExternal(spark, table, "__h BIGINT, __t STRING", "__h",
      buckets.toInt, s"$indexDir/hashes")
    ExactIndex(spark.table(table), blooms, items.toLong, bits.toLong)
  }

  /** Incremental EXACT dedup of a new batch against an indexed
    * accepted corpus: a batch doc survives iff its text equals no
    * accepted text AND it is the min-id doc of its within-batch
    * identical-text group — exactly re-running [[exact]] over
    * (accepted ∪ batch) restricted to the batch's new texts.
    *
    * Cost shape per batch: one within-batch [[exact]] collapse, one
    * Bloom-probe projection, and one anti join whose PROBE side is
    * only the Bloom-positive docs — the accepted corpus is never
    * scanned for the (dominant) Bloom-negative admissions. The
    * `graft_exact_bloom_*` observe metric surfaces the positive
    * count, so a saturated/undersized Bloom (probe side ≈ batch,
    * join degraded to the plain anti join — cost, never correctness)
    * is visible in Verify/Bench logs. */
  def incrementalDropExactDups(index: ExactIndex, batch: DataFrame,
                               idCol: String, textCol: String): DataFrame = {
    // the collapse feeds BOTH union branches below (fresh filter +
    // positives' anti join); persisted so the batch scan and min_by
    // aggregate run once, not once per branch. Session-lifecycle cache
    // like the gram tables (MEMORY_AND_DISK, LRU-evictable; drivers
    // clearCache between queries) — the returned frame is lazy, so
    // this function cannot know when its consumers finish.
    val collapsed = exact(batch, Seq(textCol), idCol)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val probed = collapsed
      .withColumn("__mc", mightContainIndexCol(index,
        xxhash64(col(textCol))))
      .observe(s"graft_exact_bloom_${obsId.incrementAndGet()}",
        sum(when(col("__mc"), 1L).otherwise(0L)).as("bloom_positive"),
        count(lit(1)).as("bloom_probed"))
    // null-TOTAL split: the probe propagates a NULL hash as NULL (both
    // tiers, parity-spec'd), and a two-way boolean filter would drop
    // such a row from BOTH branches — coalesce to false so an
    // unprovable membership ADMITS (the only safe dedup default).
    // xxhash64 over any input is non-null, so this is a guard for
    // callers probing precomputed nullable hash columns.
    val fresh = probed.filter(!coalesce(col("__mc"), lit(false)))
      .drop("__mc")
    // hash-ONLY equi key + post-join text verification: putting the
    // text equality INSIDE the join condition (or in a post-join
    // filter, which the optimizer pushes right back in) makes the
    // planner extract it as a second join key, disable the bucketed
    // scan ("Bucketed: false (disabled by query planner)") and
    // re-shuffle the accepted corpus on (__h, __t) per batch — the
    // exact cost the __h bucket layout exists to eliminate. With the
    // single key the index side reads its bucket layout unshuffled;
    // the verification is a PROJECTION marker folded by a per-id
    // aggregate (an optimization barrier nothing can push through),
    // so a 64-bit collision against a DIFFERENT text never matches
    // and its row still admits; the anti join on the row id then
    // removes exactly the verified matches. Both extra hops (the
    // aggregate and the anti join) are batch-sized.
    val positives = probed.filter(coalesce(col("__mc"), lit(false)))
      .drop("__mc")
      .withColumn("__h", xxhash64(col(textCol)))
    val matchedIds = positives.join(index.hashes,
        positives("__h") === index.hashes("__h"))
      .select(positives(idCol),
        when(positives(textCol) === index.hashes("__t"), lit(true))
          .as("__tm"))
      .groupBy(col(idCol)).agg(max(col("__tm")).as("__tm"))
      .filter(coalesce(col("__tm"), lit(false)))
      .select(col(idCol))
    val survivors = positives.join(matchedIds, Seq(idCol), "left_anti")
      .drop("__h")
    fresh.unionByName(survivors)
  }

  /** Broadcast-backed sharded Bloom probe function (the
    * [[mightContainIndexCol]] large-index tier). The closure itself is
    * tiny (broadcast handle + shard count); the deserialized filters
    * are memoized PER EXECUTOR JVM in [[BroadcastShardProbe.cache]],
    * keyed by broadcast id — entries live for the executor lifetime
    * (bounded by the number of distinct indexes probed, each a
    * driver-intended long-lived object; same trade as Spark's own
    * broadcast block retention). `pmod` semantics match the literal
    * CASE tier exactly. */
  private[operators] class BroadcastShardProbe(
      bytes: org.apache.spark.broadcast.Broadcast[IndexedSeq[Array[Byte]]],
      k: Int) extends (java.lang.Long => Option[Boolean]) with Serializable {
    // null hash → None (SQL NULL), matching the plan-literal tier's
    // BloomFilterMightContain null propagation exactly — a nullable
    // hash column must make the SAME decision through either tier
    // (current xxhash64 callers never pass null; parity-spec'd anyway)
    def apply(h: java.lang.Long): Option[Boolean] =
      if (h == null) None
      else Some(BroadcastShardProbe.filters(bytes)(
        (((h % k) + k) % k).toInt).mightContainLong(h))
  }

  private[operators] object BroadcastShardProbe {
    /** Deserialized-filter memo, BOUNDED: the production growth loop
      * yields a new index (→ new broadcast id) per batch, so an
      * unbounded id-keyed map would accumulate one full deserialized
      * index copy per batch per executor JVM. An access-order LRU
      * capped at a few entries keeps the working set (current index,
      * maybe a predecessor mid-handover) hot and lets retired epochs'
      * filters be collected. */
    private val MaxEntries = 4
    private val cache = java.util.Collections.synchronizedMap(
      new java.util.LinkedHashMap[
          Long, IndexedSeq[org.apache.spark.util.sketch.BloomFilter]](
          16, 0.75f, true) {
        override def removeEldestEntry(e: java.util.Map.Entry[
            Long, IndexedSeq[org.apache.spark.util.sketch.BloomFilter]])
            : Boolean = size() > MaxEntries
      })
    def filters(bc: org.apache.spark.broadcast.Broadcast[IndexedSeq[Array[Byte]]])
        : IndexedSeq[org.apache.spark.util.sketch.BloomFilter] =
      cache.synchronized {
        val hit = cache.get(bc.id)
        if (hit != null) hit
        else {
          val built = bc.value.map(b =>
            org.apache.spark.util.sketch.BloomFilter
              .readFrom(new java.io.ByteArrayInputStream(b)))
          cache.put(bc.id, built)
          built
        }
      }
  }

  /** The dedup decision given materialized component labels: keep the
    * min-id representative per component plus every unpaired doc. */
  private[operators] def keepRepresentatives(docs: DataFrame, comps: DataFrame,
                                             idCol: String): DataFrame =
    docs.join(comps.withColumnRenamed("node", idCol), Seq(idCol), "left")
      .filter(col("comp").isNull || col("comp") === col(idCol))
      .drop("comp")

  /** Unique suffix for `observe` metric names (must be unique per
    * query; one operator can appear twice in a composed plan). Shared
    * with [[Similarity]]'s guard/rescue metrics. */
  private[operators] val obsId = new java.util.concurrent.atomic.AtomicInteger()

  /** Upstream optimized-plan node count above which
    * [[connectedComponents]] switches its edge table from persist to
    * localCheckpoint. Calibrated at sf0.1: the plain near-dup pair
    * pipelines (q34's ngram path) optimize to ~15–25 nodes and are
    * cheaper persisted; the rescue compositions that motivated
    * checkpointing (md5-sketch collapse + banding + union) exceed 40
    * — and the per-round plan-string cost the checkpoint kills grows
    * with exactly this count. */
  private[operators] val CheckpointUpstreamNodes = 32
}
