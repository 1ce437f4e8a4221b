package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.sources.CanSchema
import graft.sources.CanSchema.{Bit, FieldSpec, Schema, U16LE, U8}

/** §2.3 — the CAN payload decoder as a schema-driven *generated
  * projection*: for every (signature, topic) in the can_ids schema the
  * driver emits a branch of a flat `coalesce(when(...), ...)` producing
  * `array(struct(module, topic, field, value, unit))`, followed by one
  * `explode`. Everything is built-in Column expressions over the hex
  * payload string (substring + conv + arithmetic), so the whole decode
  * stays inside whole-stage codegen — no UDFs, no per-row Python-style
  * interpretation (the reference's process_message + ctypes,
  * lib/canparser.py:119-171, lib/canparser_generator.py:28-115).
  *
  * Replicated quirks (SURVEY.md §2.8): Q1 ordinal units, Q3 over-counted
  * declared size (both baked into [[CanSchema]]), Q5 mab20 workaround.
  */
object CanDecode {

  /** Field-count threshold that chooses decodeLong's shape: above it
    * the decode expression sits in its own Project out of whole-stage
    * codegen (the inline explode outgrows janino's 64 KB method limit
    * at real season widths); at or below it the explode stays inline,
    * which is faster on narrow schemas. decodeWide has one shape for
    * every width. */
  private val WideFieldCount = 64

  private def wideSchema(schema: Schema): Boolean =
    schema.allTopics.map(_._2.fields.size).sum > WideFieldCount

  /** hex byte at 0-based offset `off` of the payload hex string. */
  private def byteAt(payloadHex: Column, off: Int): Column =
    conv(substring(payloadHex, off * 2 + 1, 2), 16, 10).cast("int")

  private def fieldValue(payloadHex: Column, f: FieldSpec): Column = {
    val raw = f.kind match {
      case U8 => byteAt(payloadHex, f.byteOffset)
      case U16LE =>
        byteAt(payloadHex, f.byteOffset) +
          byteAt(payloadHex, f.byteOffset + 1) * 256
      case Bit(b) =>
        shiftright(byteAt(payloadHex, f.byteOffset), b).bitwiseAND(lit(1))
    }
    raw.cast("double") * lit(f.scale)
  }

  /** Q5 — mab20 (lib/canparser.py:127-133): topic 65 → signature 230
    * and payload truncated to 2 bytes; topic 64 → signature 230.
    * Returns the (effective payload, effective signature) columns. */
  private def effectivePayloadSig(mab20Workaround: Boolean): (Column, Column) = {
    val payload0 = col("payload_hex")
    val payload =
      if (mab20Workaround)
        when(col("topic") === 65, substring(payload0, 1, 4)).otherwise(payload0)
      else payload0
    val sigRaw = byteAt(payload, 0)
    val sig =
      if (mab20Workaround)
        when(col("topic") === 65 || col("topic") === 64, lit(230)).otherwise(sigRaw)
      else sigRaw
    (payload, sig)
  }

  /** Q5's (payload, signature) SPECIALIZED for one topic id: every
    * decode branch already pins `topic === t.id`, so the mab20 CASE
    * partially evaluates per branch — topic 65 truncates and takes
    * signature 230, topic 64 takes 230, everything else is the plain
    * payload — and NO conditional ever replicates into the branch
    * expressions. This matters twice over: the replicated CASE blew
    * janino's 64 KB method limit on the ~400-branch 2020 decode (the
    * round-14 found defect — the decode Project silently left
    * whole-stage codegen), and the first fix candidate (materialize
    * the CASE once in a prep Project behind an extra barrier)
    * measured 2.3x SLOWER than even the broken path, because the
    * extra pipeline stage re-materializes every row (2 M lines:
    * 5.13 s prep-stage vs 2.26 s broken vs this shape,
    * BENCH_NOTES_r15.md) — per-branch specialization is
    * codegen-clean AND stage-free. */
  private def effectiveForTopic(topicId: Int,
                                mab20Workaround: Boolean): (Column, Column) = {
    val p0 = col("payload_hex")
    if (!mab20Workaround) (p0, byteAt(p0, 0))
    else if (topicId == 65) (substring(p0, 1, 4), lit(230))
    else if (topicId == 64) (p0, lit(230))
    else (p0, byteAt(p0, 0))
  }

  /** One `when` branch per (module, topic), each over its
    * topic-specialized (payload, signature) — see
    * [[effectiveForTopic]]. The caller folds these with one `coalesce`
    * (shallow codegen vs. a 136-deep CaseWhen chain). */
  private def decodedBranches(schema: Schema,
                              mab20Workaround: Boolean): Seq[Column] =
    schema.allTopics.map { case (m, t) =>
      val (payload, sig) = effectiveForTopic(t.id, mab20Workaround)
      val cond = sig === m.signature && col("topic") === t.id &&
        length(payload) === t.declaredSize * 2
      when(cond, array(t.fields.map(f => struct(
        lit(m.name).as("module_name"),
        lit(t.name).as("topic_name"),
        lit(f.name).as("byte_name"),
        fieldValue(payload, f).as("value"),
        lit(f.unitLabel).as("unit"))): _*))
    }

  /** Opt the wide decode Project OUT of whole-stage codegen by
    * wrapping one cheap carried column — see
    * [[graft.expressions.NoWholeStageCodegen]] for the full measured
    * rationale: WSCG splits a Project into methods per OUTPUT
    * expression and cannot split inside the single ~400-branch
    * coalesce, which sits at janino's 64 KB cliff (the 2020 schema
    * compiled without mab20 and failed with it — the round-14 found
    * defect was a CLIFF, not the CASE itself); the non-fused
    * UnsafeProjection both method-splits the tree AND keeps
    * coalesce's first-match short-circuit, and measured FASTEST of
    * every candidate shape. */
  private def noWscg(c: Column): Column =
    org.apache.spark.sql.GraftExpressionBridge.column(
      graft.expressions.NoWholeStageCodegen(
        org.apache.spark.sql.GraftExpressionBridge.expression(c)))

  /** Decode a frame table (from [[graft.sources.Candump.frames]]) into
    * the long tidy form: one row per decoded field —
    * (timestamp, module_name, topic_name, byte_name, value, unit),
    * plus pass-through `carryCols` (e.g. file, line_id).
    *
    * Frames with unknown signature/topic or payload-length mismatch
    * (against the Q3 declared size) decode to null arrays and are
    * dropped by the explode, matching the reference's silent drops
    * (lib/canparser.py:135-145, :81-90).
    */
  def decodeLong(frames: DataFrame, schema: Schema,
                 mab20Workaround: Boolean = false,
                 carryCols: Seq[String] = Nil): DataFrame = {

    // Wide schemas (see WideFieldCount): isolate the giant decode
    // expression in its OWN Project, out of whole-stage codegen
    // (noWscg). A generator expression cannot be method-split, so
    // explode(decoded) inlined anywhere blows janino's 64 KB limit and
    // the whole fused stage degrades to INTERPRETED generator eval; a
    // standalone projection compiles the same expression as many
    // small methods. The mab20 payload/signature rewrite is
    // SPECIALIZED per branch (see effectiveForTopic), so no CASE
    // replicates across the ~400 branches and the isolated Project
    // stays under janino's limit in every schema-width x mab20
    // combination (probe-pinned).
    // explode_outer + post-generate null filter, NOT explode: the
    // inner explode makes InferFiltersFromGenerate clone the whole
    // generator expression into a `size(...) > 0` filter, which
    // predicate pushdown then substitutes through the __dec alias and
    // sinks into the regex-generate stage. The rule skips OUTER
    // generates; the explicit isNotNull on the generator OUTPUT
    // cannot sink below the generate, and undecodable frames drop
    // exactly as before.
    val decoded = coalesce(decodedBranches(schema, mab20Workaround): _*)
    val src =
      if (wideSchema(schema))
        frames
          .select((carryCols.map(col) :+ col("ts").as("timestamp") :+
            noWscg(decoded).as("__dec")): _*)
          .select((carryCols.map(col) :+ col("timestamp") :+
            explode_outer(col("__dec")).as("f")): _*)
          .filter(col("f").isNotNull)
      else frames
        .select((carryCols.map(col) :+ col("ts").as("timestamp") :+
          explode(decoded).as("f")): _*)
    src.select((carryCols.map(col) :+ col("timestamp") :+
      col("f.module_name") :+ col("f.topic_name") :+ col("f.byte_name") :+
      col("f.value") :+ col("f.unit")): _*)
  }

  /** Direct frame → wide decode: the parse stage's hot path. Computes
    * the same wide matrix as `decodeLong` + `pivotWide` but in ONE
    * hash aggregate over the frame table — no 8x-row explode to long
    * form, no string signal keys, no second pivot shuffle. Each wide
    * column is `avg(when(frame owns this signal, decoded value))`,
    * which partial-aggregates map-side, so the single exchange carries
    * one (keys, timestamp)-row per group.
    *
    * Semantics match lib/canparser.py:222-239 — duplicate (signal,
    * timestamp) values averaged, unknown/length-mismatched frames
    * dropped (P5/P6 with quirk Q3), quirk Q5 honored.
    */
  def decodeWide(frames: DataFrame, schema: Schema,
                 mab20Workaround: Boolean = false,
                 keys: Seq[String] = Nil): DataFrame = {
    val (payloadE, sigE) = effectivePayloadSig(mab20Workaround)
    // materialize effective sig/payload once — 400+ agg expressions
    // reference them and expression CSE doesn't cross agg boundaries
    val prepped = frames
      .withColumn("__pl", payloadE)
      .withColumn("__sig", sigE)
    val pl = col("__pl"); val sg = col("__sig")
    // P5/P6 with Q3: frame `owns` a topic's columns iff its (sig, id)
    // names the topic and its payload length equals the declared size
    val owns = schema.allTopics.map { case (m, t) =>
      sg === m.signature && col("topic") === t.id &&
        length(pl) === t.declaredSize * 2
    }
    val aggs = schema.allTopics.zip(owns).flatMap { case ((m, t), o) =>
      t.fields.map { f =>
        avg(when(o, fieldValue(pl, f)))
          .as(s"${m.name}__${t.name}__${f.name}")
      }
    }
    // A group survives iff one of its frames decodes; avg() already
    // ignores rejected frames' nulls. The filter sits AFTER the
    // aggregate, not on the rows: a row pre-filter gets pushed into the
    // regex-generate's fused stage, where projection collapse re-derives
    // topic/payload inline per branch and, at season widths, blows
    // janino's 64 KB method limit (the whole scan→generate→decode stage
    // then silently de-fuses). The count predicate cannot be pushed
    // below the aggregate. Aggregate-function splitting keeps every
    // generated method of the fused partial aggregate under the 64 KB
    // limit (measured up to ~1,600 signals).
    val withN = aggs :+
      sum(when(owns.reduce(_ || _), 1L).otherwise(0L)).as("__n_frames")
    prepped
      .groupBy((keys.map(col) :+ col("ts").as("timestamp")): _*)
      .agg(withN.head, withN.tail: _*)
      .filter(col("__n_frames") > 0)
      .drop("__n_frames")
  }

  /** A1 (lib/canparser.py:222-239) — long → wide signal matrix:
    * duplicate (signal, timestamp) pairs are averaged, then pivoted to
    * one float column per `MODULE__TOPIC__FIELD`, with the pivot value
    * list enumerated from the schema (no extra distinct scan).
    *
    * Two-step aggregation keeps the shuffle compact and
    * partial-aggregatable: first a hash agg on (keys, ts, signal) —
    * map-side combine shrinks duplicates before the exchange — then the
    * pivot only reshapes the already-aggregated rows with `first`.
    */
  def pivotWide(long: DataFrame, schema: Schema,
                keys: Seq[String] = Nil): DataFrame = {
    val signal = concat_ws("__",
      col("module_name"), col("topic_name"), col("byte_name"))
    val agg = long
      .groupBy((keys.map(col) :+ col("timestamp") :+ signal.as("signal")): _*)
      .agg(avg(col("value")).as("avg_value"))
    agg.groupBy((keys.map(col) :+ col("timestamp")): _*)
      .pivot("signal", schema.wideColumns)
      .agg(first(col("avg_value")))
  }

  /** Q6 parity helper — IEEE half-precision (float16) quantization the
    * reference applies to the wide matrix (lib/canparser.py:234).
    * Round-to-nearest-even at 10 mantissa bits, preserving subnormals,
    * infinities and NaN. Pure Column math (no UDF) so it can be used in
    * oracle-parity tests; the engine itself keeps float32+ (documented
    * deviation, SURVEY.md §1.2).
    */
  def float16Round(c: Column): Column = {
    val f = c.cast("float").cast("double")
    val absF = abs(f)
    // exponent of the half-precision representation
    val e = floor(log2(absF))
    val eClamped = greatest(e, lit(-14.0)) // subnormal floor
    val step = pow(lit(2.0), eClamped - 10)
    val q = rint(f / step) * step
    // half-precision overflow boundary: the midpoint between the max
    // finite value 65504 and 65536 — RNE sends [65520, ∞) to Infinity
    // but (65504, 65520) DOWN to 65504 (the rint path handles those)
    val overflow = absF >= lit(65520.0)
    when(f.isNull || f === 0.0 || f.isNaN, f)
      .when(overflow, when(f > 0, lit(Double.PositiveInfinity))
        .otherwise(lit(Double.NegativeInfinity)))
      .otherwise(q)
  }
}
