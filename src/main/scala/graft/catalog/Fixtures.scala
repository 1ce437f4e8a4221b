package graft
package catalog

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Fixtures and oracle fragments that more than one catalog family uses. */
private[catalog] object Fixtures {

  private[catalog] def t(s: SparkSession, dir: String, name: String): DataFrame = {
    // events.parquet has shipped with TWO timestamp physical layouts
    // across testdata generations: ns-precision TIMESTAMP(NANOS)
    // (rejected by Spark's reader unless read as long — floor to the
    // µs DuckDB also sees) and plain µs TIMESTAMP (inferred as NTZ).
    // Branch on the ACTUAL column type so either layout loads; the
    // NTZ→timestamp cast is wall-clock-preserving under the session's
    // UTC zone, matching DuckDB's naive read.
    if (name == "events") {
      s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      val raw = s.read.parquet(s"$dir/events.parquet")
      raw.schema("ts").dataType match {
        case org.apache.spark.sql.types.LongType =>
          raw.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
        case _ => raw.withColumn("ts", $"ts".cast("timestamp"))
      }
    } else s.read.parquet(s"$dir/$name.parquet")
  }

  /** q86/q89 shared benchmark fixture: 12-word interior slice of
    * every 13th document — planted containment the decontamination
    * and screening tiers must both catch. */
  private[catalog] def benchSliceFixture(docs: DataFrame): DataFrame =
    docs.filter($"doc_id" % 13 === 0)
      .select($"doc_id",
        concat_ws(" ", slice(split(trim($"text"), "\\s+"), 3, 12))
          .as("text"))

  // the second-suite sibling (q169/q170's "new eval suite lands"
  // fixture): different stride, offset and a disjoint bench_id space
  private[catalog] def benchSliceFixtureB(docs: DataFrame): DataFrame =
    docs.filter($"doc_id" % 11 === 0)
      .select(($"doc_id" + 1000000L).as("doc_id"),
        concat_ws(" ", slice(split(trim($"text"), "\\s+"), 5, 12))
          .as("text"))

  /** `df`'s rows collected and re-served as a local relation: a result
    * read before a generation swap outlives the swap's drop. */
  private[catalog] def localCopy(df: DataFrame): DataFrame =
    df.sparkSession.createDataFrame(
      java.util.Arrays.asList(df.collect(): _*), df.schema)

  /** A q21 fixture frame's payload hex from `events` columns: sig 0x11,
    * CURR = user_id (u16le), DUTY = event_id % 256, flags byte =
    * event_id % 4 and one pad byte; a `short` payload stops after DUTY
    * (4 bytes, a length reject). */
  private[catalog] def canPayload(short: Boolean): Column = {
    val b = (c: Column) => lpad(hex(c), 2, "0")
    val head = Seq(lit("11"), b(expr("user_id % 256")),
      b(expr("user_id div 256")), b(expr("event_id % 256")))
    concat((if (short) head
      else head ++ Seq(b(expr("event_id % 4")), lit("00"))): _*)
  }

  /** The q21 candump fixture LINES — a synthetic candump corpus
    * derived from `events`. Payload layout mirrors
    * [[graft.sources.CanFixtures]]: sig 0x11, CURR=user_id (u16le),
    * DUTY=event_id%256, flags byte=event_id%4, one byte of padding to
    * satisfy the Q3 over-counted length (6). Injected rejects:
    * garbage non-frame text, unknown topic 0x22 every 101st event,
    * short 4-byte frame every 103rd. Shared by the batch decode gates
    * (q21/q22, via [[canLong]]) and the streaming decode gate (q79,
    * which writes these lines as text files and parses them through
    * [[graft.streaming.StreamingParse.decodedStream]]). */
  private[catalog] def canLines(events: DataFrame): DataFrame = {
    val (payloadOk, payloadShort) = (canPayload(short = false),
      canPayload(short = true))
    val topicStr = when(expr("event_id % 101 = 0"), lit("022")).otherwise(lit("021"))
    val payload = when(expr("event_id % 103 = 0"), payloadShort).otherwise(payloadOk)
    val lines = events.select(
      format_string("(%d.%06d) can0 %s#%s",
        expr("unix_micros(ts) div 1000000"), expr("unix_micros(ts) % 1000000"),
        topicStr, payload).as("line"),
      lit("gen.log").as("file"))
    val garbage = events.sparkSession.range(1).select(
      lit("(1580415599.609) can0 0z1#XYZW not-a-frame").as("line"),
      lit("gen.log").as("file"))
    lines.unionByName(garbage)
  }

  /** The one per-JVM fixture memo. `memo(key)(build)` runs `build`
    * once per key and hands back its result (a path or a table name)
    * ever after: fixtures are INPUT data, a deterministic function of
    * the sf tables, so rebuilding them on every invocation would bill
    * their Spark jobs to each timed run of the gate itself. Keys carry
    * the sf dir, so specs at sf0.001 and a bench at sf0.1 never share
    * an entry. */
  private val memos =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  private[catalog] def memo(key: String)(build: => String): String =
    memos.computeIfAbsent(key, _ => build)

  /** All fixture dirs sit under one temp root, deleted at JVM exit. */
  private lazy val fixtureRoot: Path = {
    val root = Files.createTempDirectory("graft")
    Runtime.getRuntime.addShutdownHook(new Thread(() => deleteTree(root)))
    root
  }
  private val fixtureDirs = new java.util.concurrent.atomic.AtomicInteger()

  /** A memoized fixture dir: created and filled once per key. Numbered
    * names keep the paths short: a plan's `Location` string truncates
    * at `spark.sql.maxMetadataStringLength` (100), and PlanSpec pins
    * q65's season stage path inside one. */
  private[catalog] def fixtureDir(key: String)(fill: Path => Unit): String =
    memo(key) {
      val dir = Files.createDirectory(
        fixtureRoot.resolve(fixtureDirs.incrementAndGet().toString))
      fill(dir)
      dir.toString
    }

  /** Reusable season-pipeline output dir, one per query tag, WIPED on
    * every call (so the S9 skip-if-exists never short-circuits a timed
    * re-run); repeated bench/verify runs must not accumulate season
    * parquet in /tmp. */
  private[catalog] def seasonOutDir(tag: String): String = {
    val p = Paths.get(fixtureDir(s"out $tag")(_ => ()))
    if (Files.exists(p)) Files.walk(p).sorted(java.util.Comparator.reverseOrder())
      .iterator().asScala.filterNot(_ == p).foreach(Files.deleteIfExists(_))
    p.toString
  }

  private def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      Files.walk(p).sorted(java.util.Comparator.reverseOrder())
        .iterator().asScala.foreach(Files.deleteIfExists(_))
    }

  /** Streaming-gate fixtures (q77–q79), memoized per sfDir:
    * `events/` holds the events table as several
    * parquet files (so `maxFilesPerTrigger` yields several
    * micro-batches and cross-batch watermark/state is actually
    * exercised) PLUS one sentinel row 400 days past the real range,
    * written as a separate file whose mtime is forced 60 s later —
    * the file source processes oldest-mtime first (FileStreamSource
    * sorts fetched files by modification timestamp unless
    * `latestFirst` is set), so the sentinel arrives in the FINAL
    * micro-batch, driving the closing watermark
    * past every real bin (append-mode aggregations then flush them
    * all, while the sentinel's own bin stays in state and never
    * emits). `candump/` holds the q21 fixture lines as text files
    * for the streaming decode gate. */
  private[catalog] def streamFixtures(s: SparkSession, d: String): String =
    fixtureDir(s"stream $d") { dir =>
      val ev = t(s, d, "events")
        .select(col("ts"), col("user_id"), col("event_id"), col("value"),
          col("event_type"))
      val evDir = dir.resolve("events")
      ev.repartition(4).write.parquet(evDir.toString)
      val maxTs = ev.agg(max(col("ts"))).collect()(0).getTimestamp(0)
      val sentinelTs =
        new java.sql.Timestamp(maxTs.getTime + 400L * 24 * 3600 * 1000)
      val sentinel = s.range(1).select(
        lit(sentinelTs).as("ts"),
        lit(-1L).cast(ev.schema("user_id").dataType).as("user_id"),
        lit(-1L).cast(ev.schema("event_id").dataType).as("event_id"),
        lit(0.0).as("value"), lit("__sentinel").as("event_type"))
      val stage = dir.resolve("sentinel_stage")
      sentinel.coalesce(1).write.parquet(stage.toString)
      val part = Files.list(stage).iterator().asScala
        .find(_.getFileName.toString.startsWith("part-")).get
      val dst = evDir.resolve("part-99999-sentinel.snappy.parquet")
      Files.move(part, dst)
      Files.setLastModifiedTime(dst, java.nio.file.attribute.FileTime
        .fromMillis(System.currentTimeMillis() + 60000L))
      canLines(t(s, d, "events")).select(col("line"))
        .repartition(2).write.text(dir.resolve("candump").toString)
      // documents/: the q114 ingestion stream — the non-accepted docs,
      // where every %3==1 doc is a DISGUISED RE-CRAWL of the accepted
      // doc just below it (case flip, digits rewritten, punctuation
      // and padding added — exactly the variation the CCNet hash key
      // collapses) and %3==2 docs are novel. Deterministic function
      // of `documents`, so the DuckDB oracle regenerates it exactly.
      val allDocs = t(s, d, "documents")
        .select(col("doc_id"), col("lang"), col("text"))
      val below = allDocs.select((col("doc_id") + 1).as("doc_id"),
        col("text").as("__src"))
      allDocs.filter(col("doc_id") % 3 =!= 0)
        .join(below, Seq("doc_id"), "left")
        .select(col("doc_id"),
          when(col("doc_id") % 3 === 1 && col("__src").isNotNull,
            concat(lit("  "), upper(translate(col("__src"),
              "0123456789", "5555555555")), lit(" !!! ")))
          .otherwise(col("text")).as("text"))
        .repartition(4).write.parquet(dir.resolve("documents").toString)
      // documents_plain/: the UNMODIFIED corpus as a multi-file stream
      // source (q115 scores the same docs the batch calibration saw —
      // parity must hold row-for-row)
      allDocs.select(col("doc_id"), col("lang"), col("text"))
        .repartition(4)
        .write.parquet(dir.resolve("documents_plain").toString)
      // embeddings_stream/: the q120 vector-admission stream — the
      // non-accepted embeddings, where every %3==1 vector is a
      // disguised RE-EMBED of the accepted vector just below it
      // (x·1.001 + 0.0005 — same direction, so it lands its source's
      // max-cosine IVF cell) and %3==2 vectors are novel.
      // Deterministic function of `embeddings`, so the DuckDB oracle
      // regenerates it exactly.
      val emb = t(s, d, "embeddings").select(col("vec_id"), col("embedding"))
      val embBelow = emb.select((col("vec_id") + 1).as("vec_id"),
        col("embedding").as("__src"))
      emb.filter(col("vec_id") % 3 =!= 0)
        .join(embBelow, Seq("vec_id"), "left")
        .select(col("vec_id"),
          when(col("vec_id") % 3 === 1 && col("__src").isNotNull,
            expr("transform(__src, x -> CAST(x AS DOUBLE) * 1.001 + 0.0005)"))
          .otherwise(expr("transform(embedding, x -> CAST(x AS DOUBLE))"))
          .as("embedding"))
        .repartition(4).write.parquet(dir.resolve("embeddings_stream").toString)
      // events_sorted/: time-RANGE-partitioned files with ascending
      // mtimes, so the file source (oldest-mtime first) delivers each
      // user's events in event-time order ACROSS micro-batches — the
      // in-order-source premise StatefulSessionize documents (its
      // per-batch sort handles intra-batch disorder; q80 gates the
      // cross-batch state machine against the batch window SQL)
      val sortedDir = dir.resolve("events_sorted")
      ev.repartitionByRange(4, col("ts")).sortWithinPartitions("ts")
        .write.parquet(sortedDir.toString)
      Files.list(sortedDir).iterator().asScala.toSeq
        .filter(_.getFileName.toString.startsWith("part-"))
        .sortBy(_.getFileName.toString)
        .zipWithIndex.foreach { case (p, i) =>
          Files.setLastModifiedTime(p, java.nio.file.attribute.FileTime
            .fromMillis(System.currentTimeMillis() + i * 1000L))
        }
    }

  /** `rows` (media_id, payload) written as four parquet files under a
    * fresh temp dir named by `tag` and read back as a file stream, one
    * file per micro-batch: the media admission gates' arrival stream. */
  private[catalog] def mediaStream(s: SparkSession,
                                   rows: Seq[(Long, Array[Byte])],
                                   tag: String): DataFrame = {
    val dir = Files.createTempDirectory(tag)
    dir.toFile.deleteOnExit()
    s.createDataFrame(rows).toDF("media_id", "payload")
      .repartition(4).write.parquet(s"$dir/in")
    val sch = s.read.parquet(s"$dir/in").schema
    s.readStream.schema(sch)
      .option("maxFilesPerTrigger", 1).parquet(s"$dir/in")
  }

  /** Run a streaming frame to completion (Trigger.AvailableNow) into a
    * memory sink and return the materialized table — the harness that
    * lets a `queries` entry gate a STREAMING operator against the
    * batch DuckDB oracle. The sink name is deterministic per gate
    * (`tag`) and the previous run's temp view is dropped first:
    * memory-sink rows live on the driver heap, so unique-per-
    * invocation names would accumulate a full output copy per bench
    * warm/timed/retry run (q79 holds ~half a million decoded rows at
    * sf0.1 — four stranded copies is real GC pressure for every
    * query benched after it). */
  private[catalog] def runStreamToTable(s: SparkSession, df: DataFrame,
                               mode: String, tag: String): DataFrame = {
    val name = s"graft_stream_$tag"
    s.catalog.dropTempView(name)
    val q = df.writeStream.format("memory").queryName(name)
      .outputMode(mode)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    s.table(name)
  }

  /** `embedding` as doubles, scaled by 1.001 and shifted by 0.0005:
    * the same direction, so a planted copy's nearest neighbour is its
    * source. */
  private[catalog] def perturbedEmbedding: Column =
    expr("transform(embedding, x -> CAST(x AS DOUBLE) * 1.001 + 0.0005)")

  /** The ANN gates' planted queries: perturbed copies of the first ten
    * vectors, ids +10,000. */
  private[catalog] def plantedQueries(emb: DataFrame): DataFrame =
    emb.filter($"vec_id" < 10)
      .select(($"vec_id" + 10000L).as("vec_id"),
        perturbedEmbedding.as("embedding"))

  /** Winnowing over `src`'s token lists `t` (4-gram md5 hashes, window
    * 4, rightmost minimum): each `id`'s hash list in `hs` and its
    * selected fingerprint positions in `sel`. */
  private[catalog] def winnowSql(src: String, id: String, hs: String,
                        sel: String): String =
    s"""$hs AS (SELECT $id,
             [('0x' || substring(md5(array_to_string(t[p : p + 3], ' ')),
                 1, 15))::BIGINT
               for p in generate_series(1, greatest(len(t) - 3, 1))] AS h
           FROM $src),
         $sel AS (SELECT DISTINCT $id,
             s - 1 + list_max([i for i in generate_series(1, len(sl))
               if sl[i] = list_min(sl)]) AS pos
           FROM (SELECT $id, h, least(4, len(h)) AS win FROM $hs) x,
             LATERAL (SELECT unnest(generate_series(1, len(h) - win + 1))
               AS s),
             LATERAL (SELECT h[s : s + win - 1] AS sl)),"""

  /** The incremental-dedup batch (q56's fixture): odd docs plus
    * perturbed copies of every 14th doc (ids +1,000,000) and of every
    * 14th-plus-7 doc (ids +2,000,000); [[decontamBatchSql]] is its SQL. */
  private[catalog] def incrementalBatch(docs: DataFrame): DataFrame =
    docs.filter($"doc_id" % 2 === 1)
      .unionByName(docs.filter($"doc_id" % 14 === 0)
        .select(($"doc_id" + 1000000L).as("doc_id"),
          concat($"text", lit(" xyzzy qbf")).as("text")))
      .unionByName(docs.filter($"doc_id" % 14 === 7)
        .select(($"doc_id" + 2000000L).as("doc_id"),
          concat($"text", lit(" plugh tail")).as("text")))

  /** The incremental-dedup batch: odd docs plus two appended-tail
    * strata of every 14th doc, tokenized into 3-word shingles (bsh). */
  private[catalog] def decontamBatchSql: String =
    """batch AS (
           SELECT doc_id, lower(trim(text)) tx
           FROM documents WHERE doc_id % 2 = 1
           UNION ALL
           SELECT doc_id + 1000000, lower(trim(text || ' xyzzy qbf'))
           FROM documents WHERE doc_id % 14 = 0
           UNION ALL
           SELECT doc_id + 2000000, lower(trim(text || ' plugh tail'))
           FROM documents WHERE doc_id % 14 = 7),
         bt AS (SELECT doc_id, regexp_split_to_array(tx, '\s+') t FROM batch),
         bsh AS (SELECT DISTINCT doc_id, array_to_string(t[i:i+3], ' ') s
           FROM bt, LATERAL (SELECT unnest(generate_series(1,
             greatest(len(t)-3, 1))) AS i)),
         ot AS (SELECT doc_id, regexp_split_to_array(tx, '\s+') t FROM olds),"""

  /** The 3-word shingle overlap of the decontamination oracles: the
    * accepted docs' shingle set (osh) beside the batch's (bsh), both
    * set sizes, and every batch/accepted pair's intersection (hx). */
  private[catalog] def shingleOverlapSql: String =
    """osh AS (SELECT DISTINCT doc_id, array_to_string(t[i:i+3], ' ') s
           FROM ot, LATERAL (SELECT unnest(generate_series(1,
             greatest(len(t)-3, 1))) AS i)),
         bsz AS (SELECT doc_id, count(*) sz FROM bsh GROUP BY 1),
         osz AS (SELECT doc_id, count(*) sz FROM osh GROUP BY 1),
         hx AS (SELECT b.doc_id bid, o.doc_id oid, count(*) i
           FROM bsh b JOIN osh o ON b.s = o.s GROUP BY 1, 2),"""

  /** The batch's own near-duplicate components: batch pairs at shingle
    * Jaccard >= 0.5, their transitive closure, and each doc's
    * component (the smallest doc id reachable). */
  private[catalog] def batchComponentsSql: String =
    """wx AS (SELECT a.doc_id a, b.doc_id b, count(*) i FROM bsh a
           JOIN bsh b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1, 2),
         wpairs AS (SELECT a, b FROM wx
           JOIN bsz sa ON sa.doc_id = a JOIN bsz sb ON sb.doc_id = b
           WHERE i*1.0/(sa.sz + sb.sz - i) >= 0.5),
         edges AS (SELECT a x, b y FROM wpairs UNION SELECT b, a FROM wpairs),
         reach AS (
           WITH RECURSIVE r(x, y) AS (
             SELECT x, y FROM edges
             UNION
             SELECT r.x, e.y FROM r JOIN edges e ON r.y = e.x)
           SELECT x, y FROM r),
         comp AS (SELECT x AS doc_id, least(x, min(y)) AS comp
           FROM reach GROUP BY x),"""

  /** Shared by q09 (batch gap sessionization) and q80 (its stateful
    * streaming face): identical session assignment. */
  private[catalog] def sessionizeOracleSql: String =
    """WITH s AS (SELECT user_id, event_id, ts,
         CASE WHEN lag(ts) OVER w IS NULL
                OR ts - lag(ts) OVER w > INTERVAL 30 MINUTE
              THEN 1 ELSE 0 END AS nw
       FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
       SELECT user_id, event_id, CAST(sum(nw) OVER
         (PARTITION BY user_id ORDER BY ts, event_id
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
       FROM s ORDER BY user_id, event_id"""

  /** Shared by q08 (batch tumbling resample) and q77 (its streaming
    * face): the stream's flushed bins must equal the batch SQL. */
  private[catalog] def resampleOracleSql: String =
    """SELECT event_type,
       make_timestamp(CAST(floor(epoch(ts)/3600)*3600 AS BIGINT)*1000000) AS bucket_ts,
       round(sum(value),2) AS sum_value, count(*) AS n,
       round(sum(value),2)/count(*) AS mean_value
       FROM events GROUP BY 1,2 ORDER BY 1,2"""

  // $"..." interpolator without importing a session's implicits
  private[catalog] implicit class Dollar(val sc: StringContext) {
    def $(args: Any*): Column = col(sc.s(args: _*))
  }
}
