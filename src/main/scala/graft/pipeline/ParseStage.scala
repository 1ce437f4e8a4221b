package graft.pipeline

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, StringType, StructField, StructType, TimestampType}

import graft.operators.{CanDecode, TimeSeries}
import graft.sources.{Candump, CanSchema, Sinks}

/** E1 — the parse stage end-to-end (main_2020.parse →
  * lib/canparser.py:263-364): candump text → frames → decode → wide
  * sparse matrix → parquet, with the per-file console report
  * (lib/canparser.py:377-392).
  *
  * Distribution model: ONE DataFrame pipeline over all input files.
  * The reference fans out whole files to a process pool
  * (lib/canparser.py:406) and chunks within a file; Spark's file
  * splits give both levels of parallelism for free, and per-file
  * semantics (crop Q2, jump filter A6+Q10) are expressed as
  * `partitionBy(file)` windows — so a 1000-executor cluster keeps
  * every core busy even with few large files.
  */
object ParseStage {

  final case class Report(
      inputFile: String, inputLines: Long, outputRows: Long,
      elapsedSec: Double,
      /** true when elapsedSec is the file's OWN timed run (reference
        * semantics); false when it is the shared wall clock attributed
        * proportionally by input lines */
      measured: Boolean = false) {
    def msPerLine: Double =
      if (inputLines > 0) elapsedSec * 1000 / inputLines else 0.0
    def render: String =
      f"Finished Input File: $inputFile%s\n\tElapsed time: $elapsedSec%.1f s\n" +
        f"\tConversion rate: $msPerLine%.4f ms per line\n" +
        f"\toutput/input: $outputRows%d/$inputLines%d lines."
  }

  /** Full parse of one dataset glob. Without `outputPath`, returns the
    * lazy wide matrix. With it, writes the matrix there (skipping the
    * write when a complete output is already present — S9 incremental
    * semantics) and returns a scan of the COMMITTED output, in the
    * run's column order (`file, timestamp, <wideColumns>`): the
    * reference's next stage reads the parse output file back
    * (main_2020.py:209-213), so later stages plan against parquet, not
    * against a re-run of the text scan, regex, crop, decode and jump
    * filter. A held handle is bound to the files it scans: rewriting
    * the output under it invalidates it. */
  def run(spark: SparkSession, inputGlob: String, schema: CanSchema.Schema,
          outputPath: Option[String] = None,
          offsetMicros: Long = 0L,
          mab20Workaround: Boolean = false): DataFrame = outputPath match {
    case None => parse(spark, inputGlob, schema, offsetMicros, mab20Workaround)
    case Some(out) =>
      val p = new Path(out)
      val hconf = spark.sessionState.newHadoopConf()
      val fs = p.getFileSystem(hconf)
      // skip-if-exists, where "exists" requires the _SUCCESS job-commit
      // marker (Sinks.isCompleteOutput): a torn dir from a killed run
      // is DELETED and re-parsed (override via
      // spark.graft.sinks.tornOutputPolicy=error|adopt for dirs an
      // external marker-dropping writer owns — Sinks.tornOutputPolicy).
      // The explicit delete (not just the
      // Overwrite below) matters because this write partitionBy's on
      // `file`: under spark.sql.sources.partitionOverwriteMode=dynamic
      // an Overwrite only replaces partitions present in the new data,
      // so a stale partition of a since-removed input file would
      // survive the rewrite and be adopted as complete forever after.
      val committed = Sinks.isCompleteOutput(fs, p, hconf) ||
        (fs.exists(p) && Sinks.resolveTornOutput(spark, fs, p))
      if (!committed)
        parse(spark, inputGlob, schema, offsetMicros, mab20Workaround)
          .write.mode(SaveMode.Overwrite).partitionBy("file").parquet(out)
      // the pinned schema also reads an all-rejected input's output
      // (only `_SUCCESS`, no part file to infer a schema from); the
      // partition column `file` scans last, hence the select
      val cols = outputSchema(schema)
      spark.read.schema(cols).parquet(out)
        .select(cols.fieldNames.toIndexedSeq.map(c => col(s"`$c`")): _*)
  }

  /** The wide matrix's schema: `file`, `timestamp`, then one double per
    * schema signal. */
  private def outputSchema(schema: CanSchema.Schema): StructType =
    StructType(StructField("file", StringType) +:
      StructField("timestamp", TimestampType) +:
      schema.wideColumns.map(StructField(_, DoubleType)))

  private def parse(spark: SparkSession, inputGlob: String,
                    schema: CanSchema.Schema, offsetMicros: Long,
                    mab20Workaround: Boolean): DataFrame = {
    val frames = Candump.cropToFileRange(
      Candump.frames(spark, inputGlob, offsetMicros))
    // per-(file, chunk) wide matrix in ONE hash aggregate (frame →
    // wide, no long-form explode) — the reference pivots and exports
    // each 1M-line chunk separately (lib/canparser.py:306-339), which
    // is also our parallelism unit for the order-dependent window below
    val wide0 = CanDecode.decodeWide(frames, schema,
      mab20Workaround, keys = Seq("file", "chunk"))
    // A6 + Q10: timestamp-jump outlier filter per chunk, skipped for
    // files whose BASENAME contains "db" (lib/canparser.py:335-336
    // tests the filename, not the directory path)
    val isDb = element_at(split(col("file"), "/"), -1).contains("db")
    TimeSeries.timestampJumpFilter(
        wide0, "timestamp", Seq("file", "chunk"), exempt = isDb)
      .drop("chunk")
  }

  /** Per-file report counters (console report operator, §2.7). TWO
    * passes total, independent of file count: one text scan for input
    * lines, one pass over `wide` grouped by file for output rows — a
    * parquet scan when `wide` is [[run]]'s committed output (a
    * per-file `filter(file === f).count()` loop would re-execute the
    * whole lineage per file — O(files × data)).
    *
    * Per-file ELAPSED, in the reference's semantics (each file timed
    * independently, lib/canparser.py:270, :346-356): pass
    * `perFilePipeline` — a file-path → single-file-pipeline factory —
    * and files are timed with their own bounded runs when the file
    * count is ≤ `maxTimedFiles` (a season has a handful of logs; the
    * cap keeps a 10⁶-file corpus from degrading into O(files × data)).
    * Without a factory, or above the cap, per-file elapsed falls back
    * to the shared pipeline wall clock attributed proportionally by
    * input lines — an attribution of shared work, not a measurement
    * (the documented deviation, now opt-out rather than the only
    * behavior). */
  def report(spark: SparkSession, inputGlob: String, wide: DataFrame,
             perFilePipeline: Option[String => DataFrame] = None,
             maxTimedFiles: Int = 16): Seq[Report] = {
    val lineCounts = Candump.lines(spark, inputGlob)
      .groupBy("file").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val t0 = System.nanoTime()
    val outCounts = wide.groupBy("file").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val elapsed = (System.nanoTime() - t0) / 1e9
    val measured: Map[String, Double] = perFilePipeline match {
      case Some(mk) if lineCounts.size <= maxTimedFiles =>
        lineCounts.keys.map { f =>
          val s0 = System.nanoTime()
          mk(f).count()
          f -> (System.nanoTime() - s0) / 1e9
        }.toMap
      case _ => Map.empty
    }
    val totalLines = math.max(lineCounts.values.sum, 1L)
    lineCounts.keys.toSeq.sorted.map { f =>
      Report(f, lineCounts(f), outCounts.getOrElse(f, 0L),
        measured.getOrElse(f, elapsed * lineCounts(f) / totalLines),
        measured.contains(f))
    }
  }
}
