package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** S1/P1-P4 — candump text scan + frame extraction.
  *
  * Input: SocketCAN dump lines like
  * `(1580415599.609366) can0 011#E4360F0000780216`.
  *
  * Replicates the reference regex admission semantics
  * (lib/canparser.py:274-283): case-insensitive ASCII, a line may
  * carry multiple frames (pandas `extractall` → `regexp_extract_all`
  * + explode), malformed lines silently dropped, payload 2-8 hex byte
  * pairs with a trailing `(?!\w)` guard.
  *
  * Scale design: one `spark.read.text` over all files (splittable at
  * block boundaries), `input_file_name()` tags per-file semantics,
  * `monotonically_increasing_id()` captures file order BEFORE any
  * shuffle (partition ids follow file-split order, so the id sorts by
  * file position). All extraction is codegen'd Column work — no UDFs.
  */
object Candump {

  /** Fixed widths shared by [[frameRegex]] and the substring-arithmetic
    * field extraction in [[frameFields]] — change them TOGETHER
    * (CandumpSpec locks the assembled pattern so a drive-by regex edit
    * fails a test instead of silently mis-parsing). */
  val TsSecondsWidth = 10
  val TsMicrosWidth = 6
  val TopicWidth = 3

  /** Java-regex port of the reference pattern. Python's re.ASCII is
    * Java's default for \d/\w; (?i) covers IGNORECASE. Named groups
    * become positional: 1=timestamp, 2=interface, 3=topic, 4=payload. */
  val frameRegex: String =
    s"(?i)\\((\\d{$TsSecondsWidth}\\.\\d{$TsMicrosWidth})\\)\\s(\\w+)\\s" +
      s"([0-9a-f]{$TopicWidth})#((?:[0-9a-f]{2}){2,8})(?!\\w)"

  /** Read candump files into a frame table:
    * (file, line_id, match_no, ts, interface, topic, payload_hex).
    * `ts` is µs-exact (string seconds.micros → long µs → timestamp).
    * `offsetMicros` applies the per-dataset clock offset
    * (lib/canparser.py:63-66, :205).
    */
  def frames(spark: SparkSession, path: String,
             offsetMicros: Long = 0L): DataFrame =
    framesFromLines(lines(spark, path), offsetMicros)

  /** The text lines of every file `path` names, as (line, file).
    * A glob is resolved HERE, once on the driver, and Spark reads the
    * matched paths with their glob metacharacters escaped: handed the
    * glob itself, Spark's single-path streaming-sink probe stats the
    * pattern as a file and logs a benign `FileNotFoundException` stack
    * trace on every read. `file` (`input_file_name()`) is the string
    * the glob read yields; a path that matches nothing fails, naming
    * it. */
  def lines(spark: SparkSession, path: String): DataFrame = {
    val pattern = new Path(path)
    val fs = pattern.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val matched = Option(fs.globStatus(pattern)).getOrElse(Array.empty)
      .map(_.getPath.toString.flatMap {
        case c if "\\{}[]*?".indexOf(c) >= 0 => s"\\$c"
        case c => c.toString
      })
    require(matched.nonEmpty, s"Path does not exist: $path")
    spark.read.textFile(matched.toSeq: _*).toDF("line")
      .withColumn("file", input_file_name())
  }

  /** Same extraction over an in-memory `line` column (e.g. generated
    * test corpora or a Structured Streaming text source). Expects
    * columns (line, file). */
  def framesFromLines(linesIn: DataFrame, offsetMicros: Long = 0L): DataFrame = {
    // chunk = input split: the unit of the reference's per-chunk
    // semantics (1M-line pandas chunks, lib/canparser.py:287-317) and
    // our parallelism unit for the order-dependent windows (crop Q2,
    // jump filter A6). Captured BEFORE any shuffle.
    val lines = linesIn
      .withColumn("chunk", spark_partition_id())
      .withColumn("line_id", monotonically_increasing_id())
    // pandas extractall: every non-overlapping match in the line.
    lines
      .select(col("file"), col("chunk"), col("line_id"),
        posexplode(regexp_extract_all(col("line"), lit(frameRegex), lit(0)))
          .as(Seq("match_no", "frame")))
      .select(Seq(col("file"), col("chunk"), col("line_id"),
        col("match_no")) ++ frameFields(offsetMicros): _*)
      .withColumn("ts", timestamp_micros(col("ts_micros")))
  }

  /** The fields of a matched `frame` column — interface, payload_hex,
    * ts_micros (plus `offsetMicros`) and topic — for the batch scan
    * above and the streaming one
    * ([[graft.streaming.StreamingParse.framesStream]]) alike. A
    * matched frame has a fixed-width timestamp prefix
    * "(ssssssssss.uuuuuu) " and exactly one '#', so the fields are
    * substring arithmetic: the regex runs ONCE per line instead of
    * once per extracted group (5x fewer regex executions on the hot
    * path). */
  def frameFields(offsetMicros: Long = 0L): Seq[Column] = {
    val head = substring_index(col("frame"), "#", 1) // "(…) iface 011"
    val secStart = 2                                 // after '('
    val usStart = secStart + TsSecondsWidth + 1      // after "ssssssssss."
    Seq(element_at(split(head, "\\s+"), 2).as("interface"),
      upper(substring_index(col("frame"), "#", -1)).as("payload_hex"),
      (expr(s"CAST(substring(frame, $secStart, $TsSecondsWidth) AS BIGINT)" +
            s" * 1000000L + CAST(substring(frame, $usStart, $TsMicrosWidth) AS BIGINT)")
        + lit(offsetMicros)).as("ts_micros"),
      conv(substring(head, -TopicWidth, TopicWidth), 16, 10)
        .cast("int").as("topic"))
  }

  /** P2/Q2 — timestamp crop: keep rows between the FIRST and LAST
    * frame's timestamps in chunk order (raw positions, not min/max —
    * lib/canparser.py:209-212, applied per 1M-line chunk in the
    * reference). Interleaved garbage outside that range is removed.
    *
    * Scale shape: `min_by/max_by` partially aggregate map-side, so the
    * bounds exchange carries ONE row per (file, chunk) regardless of
    * input size, and the join back is a broadcast hash join — the big
    * side never shuffles (a whole-partition window here would
    * shuffle+sort every frame). The bounds side recomputes the text
    * scan + single-pass regex — cheaper than caching the whole frame
    * table at scale.
    *
    * CAVEAT: the double evaluation is only safe when `frames`' lineage
    * is deterministic (a file scan + narrow projections, as in
    * ParseStage): both subtrees must read the same rows in the same
    * placement. The lineage embeds `spark_partition_id`/
    * `monotonically_increasing_id`; over a shuffled or streaming
    * upstream the two subtrees could observe different row placement,
    * so persist such an input before calling this.
    */
  def cropToFileRange(frames: DataFrame): DataFrame = {
    val ord = struct(col("line_id"), col("match_no"))
    val bounds = frames.groupBy(col("file"), col("chunk"))
      .agg(min_by(col("ts"), ord).as("__first_ts"),
           max_by(col("ts"), ord).as("__last_ts"))
    frames.join(broadcast(bounds), Seq("file", "chunk"))
      .filter(col("ts") >= col("__first_ts") && col("ts") <= col("__last_ts"))
      .drop("__first_ts", "__last_ts")
  }
}
