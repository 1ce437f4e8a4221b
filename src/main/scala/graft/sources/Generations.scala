package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row, SaveMode, SparkSession}
import org.apache.spark.sql.catalyst.TableIdentifier
import org.apache.spark.sql.functions.{array, col, lit}
import org.apache.spark.sql.types._

/** The one commit protocol of every durable index family and of their
  * takedown ledgers (README "Durable generations"). A family declares
  * its tables, its extra meta columns and its build/append/rebuild
  * functions; the protocol steps all live here:
  *
  *   1. [[nextGen]] / [[otherSlot]] pick the A/B generation that is NOT
  *      serving, so a rebuild may lazily read the live one;
  *   2. the family writes that generation's tables;
  *   3. [[commit]] stamps one fresh `_graft_epoch_<uuid>` token file
  *      into every table of the generation, writes the one-row
  *      `${prefix}_meta` (live-generation pointer, epoch, family
  *      columns) LAST, then drops the superseded generation;
  *   4. an in-place append clears the live tables' tokens FIRST
  *      ([[appendBucketed]]) and re-commits at the end;
  *   5. [[open]] reads the meta (plus the ledger meta, in the same
  *      driver action) and refuses any generation whose tables lack
  *      the meta's epoch token.
  *
  * Crash windows: before the meta write the old generation serves
  * untouched. A crash inside the meta write (an Overwrite saveAsTable:
  * drop + rewrite) leaves no resolvable meta, a loud missing-table
  * error with both generations' data intact; re-run the write. After
  * the meta write the new generation serves; a crash before the drop
  * leaves dead tables, never a wrong read. A same-slot rewrite or an
  * append wipes or clears the old token before any row lands, so each
  * torn interleaving REFUSES with an `epoch token` message instead of
  * pairing one generation's data with another's geometry (for an ANN
  * index that would be silent zero recall, not an error). Token files
  * are underscore-prefixed, so Spark's parquet reads never see them. */
object Generations {

  private val Token = "_graft_epoch_"

  /** A committed meta row (every value as its string form) and, when
    * the family keeps one, its resolved takedown-ledger rows. */
  final case class Live(meta: Map[String, String],
                        ledger: Option[DataFrame]) {
    def apply(c: String): String = meta(c)
  }

  /** The generation letter a rebuild writes: the slot not serving. */
  def nextGen(cur: Option[String]): String =
    if (cur.contains("a")) "b" else "a"

  /** The same choice for families whose pointer is a table name: the
    * `base` / `base_b` pair. */
  def otherSlot(live: String, base: String): String =
    if (live == base) s"${base}_b" else base

  /** A fresh whole write of a table-pointer family: `write` the slot
    * that `prefix`'s committed `pointer` column does NOT name (`base`
    * before the first commit), then [[commit]] it with `row(slot,
    * epoch)`, superseding the slot that served. A write over a served
    * prefix thus never rewrites the serving table in place, and a
    * generation a purge or retrain moved to `base_b` is dropped at the
    * commit instead of left behind. */
  def writeSlot(spark: SparkSession, prefix: String, base: String,
                pointer: String, stamp: String => Seq[String])(
      write: String => Unit)(
      row: (String, String) => Seq[(String, Any)]): Unit = {
    val metaTable = s"${prefix}_meta"
    val live =
      if (!spark.catalog.tableExists(metaTable)) None
      else Some(spark.table(metaTable).select(pointer).collect()(0)
        .getString(0))
    val slot = live.fold(base)(otherSlot(_, base))
    write(slot)
    commit(spark, prefix, stamp(slot), live.toSeq)(row(slot, _))
  }

  /** The serving `gen` of `${prefix}_meta`, or None before the first
    * commit — for rebuilds called outside a window (a window already
    * knows it from its [[open]]). */
  def liveGen(spark: SparkSession, prefix: String): Option[String] = {
    val metaTable = s"${prefix}_meta"
    if (!spark.catalog.tableExists(metaTable)) None
    else Some(spark.table(metaTable).collect()(0).getAs[String]("gen"))
  }

  /** Reopen the committed generation of `prefix` in ONE driver action:
    * the meta row, plus (`ledger`) the `${prefix}_tombstones` ledger
    * meta — a union job instead of two sequential 1-row collects, each
    * ~100 ms of fixed floor (OPTIMIZATION_r16.md). `tables` names the
    * generation's epoch-stamped tables from the meta; any of them
    * without the meta's token refuses, as does a torn ledger. */
  def open(spark: SparkSession, prefix: String,
           tables: Map[String, String] => Seq[String],
           ledger: Boolean = true): Live = {
    val metaTable = s"${prefix}_meta"
    val (meta, led) =
      if (ledger) metaWithLedgerMeta(spark, metaTable, ledgerOf(prefix))
      else {
        val r = spark.table(metaTable).collect()(0)
        (r.schema.fieldNames.zip(r.toSeq.map(String.valueOf)).toMap, None)
      }
    val stamped = tables(meta)
    if (stamped.nonEmpty) requireEpoch(spark, stamped, meta("epoch"))
    Live(meta, led.map { case (g, e) =>
      resolveLedgerGen(spark, ledgerOf(prefix), g, e) })
  }

  /** Step 3 of the protocol: stamp `stamp` with a fresh epoch, write
    * the meta row `row(epoch)` LAST, then drop `supersedes`
    * (best-effort). Returns the committed meta as [[open]] would read
    * it, so a window re-measures without re-reading the table. */
  def commit(spark: SparkSession, prefix: String, stamp: Seq[String],
             supersedes: Seq[String] = Nil)(
      row: String => Seq[(String, Any)]): Map[String, String] = {
    val epoch = java.util.UUID.randomUUID().toString
    stamp.foreach(t => touch(spark, tableLocation(spark, t), epoch))
    val cols = row(epoch)
    Sinks.writeTable(metaFrame(spark, cols), s"${prefix}_meta")
    drop(spark, supersedes)
    cols.map { case (k, v) => k -> String.valueOf(v) }.toMap
  }

  /** A whole-generation rebuild of a `gen`-pointer family: `write` the
    * tables of the slot after `cur`, [[commit]] them with
    * `row(gen, epoch)`, and drop `cur`'s tables. */
  def rebuild(spark: SparkSession, prefix: String, cur: Option[String],
              tables: String => Seq[String])(write: String => Unit)(
      row: (String, String) => Seq[(String, Any)]): Map[String, String] = {
    val next = nextGen(cur)
    write(next)
    commit(spark, prefix, tables(next), cur.toSeq.flatMap(tables))(
      row(next, _))
  }

  /** Best-effort removal of a superseded generation's tables and
    * external directories. */
  def drop(spark: SparkSession, tables: Seq[String],
           dirs: Seq[String] = Nil): Unit = {
    tables.foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    dirs.foreach { d =>
      val p = new Path(d)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (fs.exists(p)) fs.delete(p, true)
    }
  }

  /** The poison-first in-place append: clear the live table's epoch
    * tokens, then append `rows` in its existing bucket layout (the
    * corpus side is never rewritten). A crash from here until the
    * caller's [[commit]] leaves a meta whose token is gone, so [[open]]
    * refuses the half-appended generation. Appends are not idempotent:
    * recovery re-runs the append from the batch source, or rebuilds. */
  def appendBucketed(spark: SparkSession, table: String, rows: DataFrame,
                     keys: String*): Unit = {
    val n = bucketCount(spark, table)
      .getOrElse(sys.error(s"$table is not bucketed"))
    clearEpochTokens(spark, table)
    rows.select(spark.table(table).columns.map(col): _*)
      .write.mode(SaveMode.Append)
      .bucketBy(n, keys.head, keys.tail: _*).sortBy(keys.head, keys.tail: _*)
      .format("parquet")
      .saveAsTable(table)
  }

  /** A table's bucket count from the catalog; a rebuild inherits it,
    * so it never silently re-layouts an index. */
  def bucketCount(spark: SparkSession, table: String): Option[Int] =
    spark.sessionState.catalog.getTableMetadata(TableIdentifier(table))
      .bucketSpec.map(_.numBuckets)

  // ── directory-backed generations (the exact index, BPE vocabularies):
  // an EXTERNAL bucketed table plus side files under one directory,
  // committed by a MANIFEST that records the table's epoch.

  /** Write `rows` as the EXTERNAL table `table` at `location`,
    * bucketed+sorted on `key`, then stamp a fresh epoch token inside
    * it; returns the epoch for the directory's MANIFEST. */
  def writeExternal(rows: DataFrame, table: String, location: String,
                    key: String, buckets: Int): String = {
    rows.write.mode(SaveMode.Overwrite).option("path", location)
      .bucketBy(buckets, key).sortBy(key)
      .format("parquet")
      .saveAsTable(table)
    val epoch = java.util.UUID.randomUUID().toString
    touch(rows.sparkSession, new Path(location), epoch)
    epoch
  }

  /** Commit a directory's side files: `fill` writes into a fresh
    * `root/name.tmp`, a MANIFEST (`fields`, then `epoch`) joins them,
    * and one atomic RENAME makes `root/name` visible — a crash leaves
    * the old directory or an ignored tmp, never a half-visible set. */
  def commitManifest(spark: SparkSession, root: String, name: String,
                     fields: Seq[Any], epoch: String)(
      fill: Path => Unit): Unit = {
    val fs = new Path(root).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    val (dst, tmp) = (new Path(root, name), new Path(root, s"$name.tmp"))
    if (fs.exists(tmp)) fs.delete(tmp, true)
    fs.mkdirs(tmp)
    fill(tmp)
    val os = fs.create(new Path(tmp, "MANIFEST"), true)
    try os.write((fields :+ epoch).mkString(" ").getBytes("UTF-8"))
    finally os.close()
    if (fs.exists(dst)) fs.delete(dst, true)
    require(fs.rename(tmp, dst), s"rename $tmp -> $dst failed")
  }

  /** The numeric `fields` of `dir/MANIFEST`, refusing a missing or torn
    * manifest and one whose epoch token is missing from `dataDir`
    * (the side files and the table are from different write attempts:
    * a crash mid-rewrite wipes the old token with the old data). */
  def readManifest(spark: SparkSession, dir: String, fields: Seq[String],
                   dataDir: String, writer: String): Seq[String] = {
    val manifest = new Path(dir, "MANIFEST")
    val fs = manifest.getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(fs.exists(manifest),
      s"no MANIFEST under $dir — torn or missing write (the directory " +
        s"commits by atomic rename); re-run $writer")
    val in = fs.open(manifest)
    val parts = try new String(in.readAllBytes(), "UTF-8").trim.split("\\s+")
      finally in.close()
    require(parts.length == fields.size + 1 &&
        parts.init.forall(_.forall(_.isDigit)),
      s"torn MANIFEST under $dir (${parts.length} tokens, expected " +
        s"${fields.size + 1}: ${(fields :+ "epoch").mkString(" ")}) — " +
        s"re-run $writer")
    require(fs.exists(new Path(dataDir, s"$Token${parts.last}")),
      s"epoch token $Token${parts.last} missing from $dataDir — the " +
        "MANIFEST and this table are from different write attempts " +
        s"(torn rewrite); re-run $writer")
    parts.init.toSeq
  }

  /** Bind `table` to the external data at `location`: a catalog that
    * forgot it (a fresh session) re-registers it as `columns`
    * bucketed on `key`; an EXISTING entry must point at `location`
    * with `buckets` buckets — pairing one directory's MANIFEST with a
    * table registered over another generation's location is the
    * cross-generation mixup this refuses. */
  def attachExternal(spark: SparkSession, table: String, columns: String,
                     key: String, buckets: Int, location: String): Unit =
    if (!spark.catalog.tableExists(table))
      spark.sql(s"CREATE TABLE $table ($columns) USING parquet " +
        s"CLUSTERED BY ($key) SORTED BY ($key) INTO $buckets BUCKETS " +
        s"LOCATION '$location'")
    else {
      val meta = spark.sessionState.catalog
        .getTableMetadata(TableIdentifier(table))
      val p = new Path(location)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val want = p.makeQualified(fs.getUri, fs.getWorkingDirectory)
        .toUri.getPath
      val got = new Path(meta.location).toUri.getPath
      require(got == want,
        s"catalog table '$table' points at $got, not $want — drop it or " +
          "use a per-generation table name alongside per-generation dirs")
      require(meta.bucketSpec.exists(_.numBuckets == buckets),
        s"catalog table '$table' bucket spec ${meta.bucketSpec} does not " +
          s"match the manifest's $buckets buckets")
    }

  /** One maintenance window's measurements and decision. */
  final case class Window[S](pre: S, fired: Boolean, post: S,
                             changed: Boolean)

  /** Run one maintenance window over the reopened generation `live`:
    * `measure` it, and only if `fires` run `repair` — a rebuild that
    * commits through [[commit]], clears what it purged, and returns
    * the committed meta — then re-measure the committed generation.
    * A quiet window writes nothing and re-reads nothing: `post` is
    * `pre` and the meta row stays bit-for-bit as it was.
    *
    * SINGLE WRITER: a window assumes no other writer touches the
    * prefix between its [[open]] and its commit. `changed` (every
    * report's `gen_changed` / `epoch_changed`) reports only THIS
    * window's flip; a concurrent writer is not detected, and two
    * concurrent windows may both fire. */
  def window[S](live: Live)(measure: Live => S)(fires: S => Boolean)(
      repair: (Live, S) => Map[String, String]): Window[S] = {
    val pre = measure(live)
    if (!fires(pre)) Window(pre, fired = false, pre, changed = false)
    else {
      val next = repair(live, pre)
      Window(pre, fired = true, measure(Live(next, None)),
        changed = next != live.meta)
    }
  }

  /** The window of a purge-only family: fire on pending takedowns,
    * `rebuild` the generation without them, clear the ledger. One
    * report row `(pending_tombstones, fired, post_pending,
    * gen_changed)`; see [[window]] for the single-writer rule. */
  def purgeWindow(spark: SparkSession, prefix: String,
                  tables: Map[String, String] => Seq[String])(
      rebuild: Live => Map[String, String]): DataFrame = {
    import spark.implicits._
    val w = window(open(spark, prefix, tables))(
      _.ledger.map(_.count()).getOrElse(0L))(_ > 0L) { (live, _) =>
      val meta = rebuild(live)
      clearLedger(spark, ledgerOf(prefix))
      meta
    }
    Seq((w.pre, w.fired, w.post, w.changed))
      .toDF("pending_tombstones", "fired", "post_pending", "gen_changed")
  }

  private def ledgerOf(prefix: String): String = s"${prefix}_tombstones"

  /** Crash-safe DISTINCT-UNION ledger append — the durable set behind
    * every takedown ledger, a one-table generation under the same
    * protocol: the merge (`live ∪ incoming`, distinct, as a frame — no
    * driver collect, and a crashed half-applied batch just re-runs)
    * writes to the A/B table NOT serving, and the one-row
    * `${ledger}_meta` (gen, epoch) is the commit. Overwriting the
    * serving table instead would leave NO ledger after a crash, which
    * a reader takes for "no takedowns" and silently re-admits removed
    * content.
    *
    * ONE FILE per generation (`coalesce(1)`, no extra shuffle): a
    * ledger is a bounded takedown set in every serving path and each
    * reopen re-lists its files, so one file beats one per shuffle
    * partition (guide §6, output file sizing); the price is a
    * single-task distinct. A ledger past control-plane size would need
    * a partitioned or bucketed generation table written by many tasks,
    * and readers that no longer broadcast it whole. */
  def appendLedger(spark: SparkSession, ledger: String,
                   incoming: DataFrame): Unit = {
    val live = readLedger(spark, ledger)
    val next = nextGen(live.map(_._1))
    val merged = live.map(_._2.unionByName(incoming)).getOrElse(incoming)
      .distinct().coalesce(1)
    Sinks.writeTable(merged, s"${ledger}_$next")
    commit(spark, ledger, Seq(s"${ledger}_$next"),
      live.map { case (g, _) => s"${ledger}_$g" }.toSeq)(e =>
      Seq("gen" -> next, "epoch" -> e))
  }

  /** The committed state of an [[appendLedger]] ledger: `None` = never
    * created (no meta can only mean no append ever COMMITTED — readers
    * treat it as the empty set); `Some((gen, rows))` = the serving
    * generation, epoch-validated. */
  def readLedger(spark: SparkSession,
                 ledger: String): Option[(String, DataFrame)] = {
    val metaTable = s"${ledger}_meta"
    if (!spark.catalog.tableExists(metaTable)) None
    else {
      val meta = spark.table(metaTable).collect()
      require(meta.length == 1, s"$metaTable must hold exactly one row")
      val gen = meta(0).getString(0)
      Some((gen,
        resolveLedgerGen(spark, ledger, gen, meta(0).getString(1))))
    }
  }

  /** Resolve an already-read ledger meta row: a meta whose generation
    * table is missing or carries another epoch refuses loudly rather
    * than serving an empty set. */
  private[graft] def resolveLedgerGen(spark: SparkSession, ledger: String,
                                      gen: String,
                                      epoch: String): DataFrame = {
    val genTable = s"${ledger}_$gen"
    require(spark.catalog.tableExists(genTable),
      s"ledger meta ${ledger}_meta names generation '$gen' but $genTable " +
        "does not exist — the ledger was torn out from under its " +
        "commit record; restore the table or re-file the takedowns " +
        "(serving an empty ledger would silently re-admit " +
        "taken-down content)")
    requireEpoch(spark, Seq(genTable), epoch)
    spark.table(genTable)
  }

  /** The merged read behind [[open]]: a meta table's first row as
    * column → string (numeric columns round-trip losslessly through
    * their string cast) plus the ledger meta's (gen, epoch) when the
    * ledger exists — one union job of two 1-file scans. */
  private[graft] def metaWithLedgerMeta(
      spark: SparkSession, metaTable: String,
      ledger: String): (Map[String, String], Option[(String, String)]) = {
    val meta = spark.table(metaTable)
    val metaCols = array(meta.columns.map(c => col(c).cast("string")): _*)
    if (!spark.catalog.tableExists(s"${ledger}_meta")) {
      val r = meta.select(metaCols.as("__v")).collect()
      (meta.columns.zip(r(0).getSeq[String](0)).toMap, None)
    } else {
      val rows = meta.select(lit("m").as("__src"), metaCols.as("__v"))
        .unionAll(spark.table(s"${ledger}_meta")
          .select(lit("l").as("__src"),
            array(col("gen").cast("string"),
              col("epoch").cast("string")).as("__v")))
        .collect()
      val l = rows.filter(_.getString(0) == "l")
      require(l.length == 1, s"${ledger}_meta must hold exactly one row")
      val mv = rows.find(_.getString(0) == "m")
        .getOrElse(sys.error(s"$metaTable holds no rows"))
        .getSeq[String](1)
      val lv = l(0).getSeq[String](1)
      (meta.columns.zip(mv).toMap, Some((lv(0), lv(1))))
    }
  }

  /** Drop a committed ledger — the physical-purge endpoint. Meta drops
    * FIRST, so a crash mid-clear leaves "never created" (correct: the
    * purge already happened), never a meta naming a dropped table. */
  def clearLedger(spark: SparkSession, ledger: String): Unit =
    drop(spark, Seq(s"${ledger}_meta", s"${ledger}_a", s"${ledger}_b"))

  /** Delete every epoch token from a table's data directory. */
  private[graft] def clearEpochTokens(spark: SparkSession,
                                      table: String): Unit = {
    val loc = tableLocation(spark, table)
    val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
    Option(fs.globStatus(new Path(loc, s"$Token*")))
      .getOrElse(Array.empty)
      .foreach(st => fs.delete(st.getPath, false))
  }

  /** Refuse a generation any of whose tables lacks `epoch`'s token. */
  private[graft] def requireEpoch(spark: SparkSession, tables: Seq[String],
                                  epoch: String): Unit =
    tables.foreach { t =>
      val loc = tableLocation(spark, t)
      val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
      require(fs.exists(new Path(loc, s"$Token$epoch")),
        s"epoch token $Token$epoch missing from table '$t' ($loc) — " +
          "the index meta and this data table are from different write " +
          "attempts (torn same-prefix rebuild); re-run the index write, " +
          "or write rebuilds to a fresh prefix")
    }

  private def touch(spark: SparkSession, dir: Path, epoch: String): Unit =
    dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .create(new Path(dir, s"$Token$epoch"), true).close()

  private def tableLocation(spark: SparkSession, table: String): Path =
    new Path(spark.sessionState.catalog.getTableMetadata(
      TableIdentifier(table)).location)

  /** A one-row meta frame typed as `Seq(...).toDF` would type it. */
  private def metaFrame(spark: SparkSession,
                        cols: Seq[(String, Any)]): DataFrame = {
    val fields = cols.map { case (name, v) =>
      val t = v match {
        case _: Int => IntegerType
        case _: Long => LongType
        case _: Double => DoubleType
        case _: String => StringType
        case other => sys.error(s"meta column $name: unsupported $other")
      }
      StructField(name, t, nullable = t == StringType)
    }
    spark.createDataFrame(java.util.Arrays.asList(Row(cols.map(_._2): _*)),
      StructType(fields))
  }
}
