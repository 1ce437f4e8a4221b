package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SaveMode}
import org.apache.spark.sql.functions._

/** Sinks + timezone display helpers rounding out the SURVEY.md §2.1
  * checklist: S4 parquet (with S9 skip-if-exists), S6 CSV, and the P13
  * tz localize/convert semantics — the engine computes on UTC
  * instants; the reference renders them in America/Sao_Paulo
  * (lib/unifier_with_forecast_data.py:44,59-61, lib/process_gpx_data.py:133-138).
  */
object Sinks {

  val ReferenceTz = "America/Sao_Paulo"

  /** P13: UTC instant → wall-clock column in `tz` (pandas
    * tz_localize("UTC").tz_convert(tz) display parity). */
  def displayInTz(ts: Column, tz: String = ReferenceTz): Column =
    from_utc_timestamp(ts, tz)

  /** P13 inverse: wall-clock in `tz` → UTC instant (tz_localize). */
  def fromTz(ts: Column, tz: String = ReferenceTz): Column =
    to_utc_timestamp(ts, tz)

  /** S6: CSV sink (GPS track / solar dataset exports). */
  def writeCsv(df: DataFrame, path: String): Unit =
    df.write.mode(SaveMode.Overwrite).option("header", "true").csv(path)

  /** S9 completeness test: an output directory counts as COMPLETE
    * only if it carries the job-commit marker (`_SUCCESS`, written by
    * Hadoop's FileOutputCommitter when the whole job committed). A
    * directory with part files but no marker is a TORN output — a
    * driver killed mid-write — and treating it as done would silently
    * feed a partial dataset to every later stage. Deliberate deviation
    * from the reference, which skips on bare existence
    * (lib/canparser.py:315-317) and is equally blind to torn runs.
    *
    * Deployments whose committer is configured NOT to emit markers
    * (`mapreduce.fileoutputcommitter.marksuccessfuljobs=false` —
    * common with S3/cloud committers) fall back to bare existence:
    * requiring a marker that will never be written would classify
    * every complete output as torn and turn skip-if-exists into
    * delete-and-rewrite on every call — strictly worse than the
    * reference-parity blindness the fallback accepts.
    *
    * `conf` must be the conf GOVERNING THE WRITES — the session's
    * resolved Hadoop conf (`sessionState.newHadoopConf()`, which
    * layers runtime `spark.hadoop.*` session settings), NOT
    * `fs.getConf`: the Hadoop FileSystem cache hands back an instance
    * whose conf is whatever first created the FS for the scheme in
    * this JVM, so the read side could disagree with the write side
    * about whether markers exist at all. */
  private[graft] def isCompleteOutput(fs: org.apache.hadoop.fs.FileSystem,
                                      p: Path,
                                      conf: org.apache.hadoop.conf.Configuration)
      : Boolean = {
    val committerWritesMarker = conf.getBoolean(
      "mapreduce.fileoutputcommitter.marksuccessfuljobs", true)
    fs.exists(p) &&
      (!committerWritesMarker || fs.exists(new Path(p, "_SUCCESS")))
  }

  /** Policy for a marker-less output dir (files present, no
    * `_SUCCESS`), read from `spark.graft.sinks.tornOutputPolicy`:
    *
    *   - `rewrite` (default): treat it as a TORN output of a killed
    *     run — delete and rewrite, so restarts converge. This is the
    *     right call when this library owns all writes to the
    *     directory, but it is DESTRUCTIVE for directories populated
    *     by an external writer or a copy tool that drops `_SUCCESS`
    *     (`aws s3 sync`, distcp with marker excludes): their complete
    *     data looks torn and gets wiped.
    *   - `error`: refuse loudly — the operator decides whether to
    *     delete the dir or switch policy. The safe setting when
    *     external writers share the output tree.
    *   - `adopt`: treat the marker-less dir as complete and reuse it
    *     (the reference's bare-existence semantics,
    *     lib/canparser.py:315-317) — for trees known to be produced
    *     by marker-dropping but otherwise atomic tooling. Blind to
    *     genuinely torn runs, exactly like the reference. */
  private[graft] def tornOutputPolicy(
      spark: org.apache.spark.sql.SparkSession): String = {
    val p = spark.conf.get("spark.graft.sinks.tornOutputPolicy", "rewrite")
    require(Set("rewrite", "error", "adopt")(p),
      s"spark.graft.sinks.tornOutputPolicy must be rewrite|error|adopt, got '$p'")
    p
  }

  /** Resolve a marker-less existing output dir per
    * [[tornOutputPolicy]]. Returns true iff the caller should ADOPT
    * the dir as complete; under `rewrite` the dir is deleted here and
    * false returned (caller writes); under `error` this throws. */
  private[graft] def resolveTornOutput(
      spark: org.apache.spark.sql.SparkSession,
      fs: org.apache.hadoop.fs.FileSystem, p: Path): Boolean =
    tornOutputPolicy(spark) match {
      case "adopt" =>
        System.err.println(s"[graft] adopting marker-less output $p " +
          "(spark.graft.sinks.tornOutputPolicy=adopt)")
        true
      case "error" =>
        throw new IllegalStateException(
          s"output $p has files but no _SUCCESS job-commit marker — " +
            "either a prior run died mid-write (delete the dir, or set " +
            "spark.graft.sinks.tornOutputPolicy=rewrite to let graft " +
            "delete-and-rewrite it) or it was produced by an external " +
            "writer that drops markers (set tornOutputPolicy=adopt to " +
            "reuse it as-is)")
      case _ =>
        System.err.println(s"[graft] rewriting torn output $p " +
          "(files present but no _SUCCESS marker — prior run died mid-write)")
        fs.delete(p, true)
        false
    }

  /** S4+S9: parquet sink with skip-if-exists incremental semantics.
    * "Exists" means COMPLETE ([[isCompleteOutput]]): by default a
    * torn dir from a killed run is removed and rewritten, so a
    * restart converges to a full output instead of adopting a partial
    * one — see [[tornOutputPolicy]] for the external-writer escape
    * hatches (`error` / `adopt`). */
  def writeParquetIfAbsent(df: DataFrame, path: String): Boolean = {
    val p = new Path(path)
    val spark = df.sparkSession
    val conf = spark.sessionState.newHadoopConf()
    val fs = p.getFileSystem(conf)
    if (isCompleteOutput(fs, p, conf)) false
    else if (fs.exists(p) && resolveTornOutput(spark, fs, p)) false
    else {
      df.write.parquet(path)
      true
    }
  }

  /** Bucketed parquet table: pre-shuffles ONCE at write time so every
    * later equi-join or aggregation on `bucketCols` is co-located —
    * no Exchange in the join plan (SortMergeJoin reads matching
    * buckets directly). This is the 100 TB shape for repeated joins on
    * a stable key (e.g. telemetry ⋈ per-timestamp reference data, or
    * doc-id joins across dedup passes): pay the shuffle once at ingest
    * instead of per query. Requires a table (bucket metadata lives in
    * the catalog), hence `saveAsTable` rather than a bare path. */
  def writeBucketed(df: DataFrame, table: String, bucketCols: Seq[String],
                    numBuckets: Int): Unit = {
    dropStaleManagedLocation(df, table)
    df.write.mode(SaveMode.Overwrite)
      .bucketBy(numBuckets, bucketCols.head, bucketCols.tail: _*)
      .sortBy(bucketCols.head, bucketCols.tail: _*)
      .format("parquet")
      .saveAsTable(table)
  }

  /** Plain (unbucketed) managed-table overwrite with the same
    * cross-restart re-runnability as [[writeBucketed]] — the one
    * place the stale-location discipline lives for non-bucketed
    * index tables (IVF centroids/stats). */
  def writeTable(df: DataFrame, table: String): Unit = {
    dropStaleManagedLocation(df, table)
    df.write.mode(SaveMode.Overwrite).format("parquet").saveAsTable(table)
  }

  /** Run INDEPENDENT write/DDL units concurrently (optimization-guide
    * §2.6 "overlap independent jobs"): Spark happily schedules several
    * jobs at once inside one application — actions are only sequential
    * because caller code invokes them sequentially, so each unit's
    * driver-side latency (job submit, commit protocol, catalog DDL)
    * overlaps the others' instead of adding up. 4 concurrent 1-row
    * managed-table writes measured at the wall cost of ONE (~165 ms
    * vs ~150 ms each sequential; OPTIMIZATION_r16.md). ONLY for units
    * with no ordering between them — an index's data tables, never the
    * epoch-stamp/meta-commit steps, whose write-order IS the crash
    * discipline. Exceptions propagate (first failure rethrown);
    * callers must treat any throw as "the whole write failed", which
    * every index writer here already does (re-run converges via the
    * Overwrite / A-B-generation semantics). */
  def inParallel(units: (() => Unit)*): Unit = {
    inParallelMap(units)
    ()
  }

  /** [[inParallel]] with results: run independent units concurrently
    * and return their values in input order. */
  def inParallelMap[T](units: Seq[() => T]): Seq[T] =
    if (units.sizeIs <= 1) units.map(_())
    else {
      import scala.concurrent.{Await, ExecutionContext, Future}
      import scala.concurrent.duration.Duration
      val pool = java.util.concurrent.Executors.newFixedThreadPool(
        math.min(units.size, 4))
      implicit val ec: ExecutionContext =
        ExecutionContext.fromExecutor(pool)
      try Await.result(
        Future.sequence(units.map(u => Future(u()))), Duration.Inf)
      finally pool.shutdown()
    }

  /** Commit a new live epoch for a DIRECTORY-backed table rooted at
    * `root` (z-ordered layouts and any other epoch-per-directory
    * store): `root/_graft_live` names the serving epoch subdirectory,
    * and the swap is write-temp + ATOMIC RENAME-OVERWRITE
    * (FileContext rename, posix/HDFS-atomic), so a reader resolves
    * either the old epoch or the new one — never a mix and never a
    * missing pointer. Refuses to point at an epoch directory without
    * a job-commit marker ([[isCompleteOutput]]): a compaction that
    * died mid-write can never be made live, which is the whole crash
    * story — the half-written epoch sits unreferenced beside the
    * still-serving old one until a re-run replaces it. The pointer
    * analogue of the index families' epoch-token + meta-last
    * discipline, for tables addressed by path instead of catalog
    * name. */
  def swapEpochPointer(spark: org.apache.spark.sql.SparkSession,
                       root: String, epochDir: String): Unit = {
    val rootP = new Path(root)
    val conf = spark.sessionState.newHadoopConf()
    val fs = rootP.getFileSystem(conf)
    val target = new Path(rootP, epochDir)
    require(isCompleteOutput(fs, target, conf),
      s"refusing to swap live pointer to '$target' — the epoch " +
        "directory is missing or has no job-commit marker (a compaction " +
        "that died mid-write must never be made live); re-run the epoch " +
        "write, then swap")
    val tmp = new Path(rootP,
      s"_graft_live.tmp.${java.util.UUID.randomUUID()}")
    val out = fs.create(tmp, true)
    out.write(epochDir.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    out.close()
    org.apache.hadoop.fs.FileContext.getFileContext(rootP.toUri, conf)
      .rename(tmp, new Path(rootP, "_graft_live"),
        org.apache.hadoop.fs.Options.Rename.OVERWRITE)
  }

  /** Resolve the live epoch directory of a pointer-rooted table —
    * refuses loudly when the pointer is missing (no epoch ever
    * committed, or a crash before the first swap) or names an epoch
    * that is no longer complete. */
  def resolveEpochPointer(spark: org.apache.spark.sql.SparkSession,
                          root: String): String = {
    val rootP = new Path(root)
    val conf = spark.sessionState.newHadoopConf()
    val fs = rootP.getFileSystem(conf)
    val live = new Path(rootP, "_graft_live")
    require(fs.exists(live),
      s"no live-epoch pointer at $live — the table has no committed " +
        "epoch (write one, then swapEpochPointer)")
    val in = fs.open(live)
    val name = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
      finally in.close()
    val target = new Path(rootP, name.trim)
    require(isCompleteOutput(fs, target, conf),
      s"live-epoch pointer names '$target' but the directory is missing " +
        "or incomplete — the epoch was deleted out from under the " +
        "pointer; re-write and re-swap")
    target.toString
  }

  /** saveAsTable refuses a managed-table name whose warehouse
    * LOCATION survives from an earlier session (the default
    * in-memory catalog forgets tables across JVMs; the filesystem
    * does not). If the table is unknown to this session's catalog
    * but its default location exists, remove the orphan so an
    * Overwrite write is re-runnable across driver restarts.
    *
    * SINGLE-WRITER assumption, stated loudly: the deletion treats a
    * location the session catalog doesn't know as an orphan of a DEAD
    * session. Two live JVMs sharing one spark-warehouse would see
    * each other's managed tables as orphans — don't point concurrent
    * drivers at the same warehouse dir (Spark's default in-memory
    * catalog offers no cross-JVM coordination either way). As a
    * guard, only paths under this session's own warehouse dir are
    * ever deleted, and every deletion is logged. */
  private[graft] def dropStaleManagedLocation(df: DataFrame,
                                              table: String): Unit = {
    val spark = df.sparkSession
    if (!spark.catalog.tableExists(table)) {
      // resolve through the session catalog (current database + name
      // normalization), not a hand-built <warehouse>/<name> guess
      val loc = new Path(org.apache.spark.sql.GraftExpressionBridge
        .defaultManagedTablePath(spark, table))
      val warehouse = new Path(
        spark.conf.get("spark.sql.warehouse.dir")).toUri.getPath
      val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (loc.toUri.getPath.startsWith(warehouse) && fs.exists(loc)) {
        System.err.println(
          s"[graft] removing stale managed-table location $loc " +
            s"(catalog has no table '$table'; prior-session orphan)")
        fs.delete(loc, true)
      }
    }
  }
}
