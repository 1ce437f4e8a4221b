package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** S8 — MongoDB-dump → candump converter
  * (convert_json_to_candump.py:45-162): records
  * `{bytes: ["159","4",...], date: "2020-02-14 15:44:54.944",
  * mod: 250, top: 33}` become
  * `(1581695094.944000) can0 021#fa9f04f600f600` — payload is the
  * module byte followed by the data bytes, lowercase hex; timestamp
  * is the naive date read as UTC with exactly 10.6 epoch digits.
  * Fully distributed: from_json + transform + format_string, no UDFs.
  */
object CandumpConverter {

  val recordSchema: StructType = StructType(Seq(
    StructField("bytes", ArrayType(StringType)),
    StructField("date", StringType),
    StructField("mod", IntegerType),
    StructField("top", IntegerType)))

  /** records (bytes array-of-string, date string, mod, top) → candump
    * line column `line`, sorted by date (the reference sorts the CSV
    * by date before conversion — convert_json_to_candump.py:130). */
  def toCandumpLines(records: DataFrame): DataFrame = {
    val ts = to_timestamp(col("date"))
    val payload = concat(
      lpad(lower(hex(col("mod"))), 2, "0"),
      array_join(transform(col("bytes"),
        b => lpad(lower(hex(b.cast("int"))), 2, "0")), ""))
    records
      .filter(size(col("bytes")) > 0) // empty-bytes records skipped
      .withColumn("__us", unix_micros(ts))
      .select(col("date"), format_string("(%d.%06d) can0 %s#%s",
        expr("__us div 1000000"), pmod(col("__us"), lit(1000000L)),
        lpad(lower(hex(col("top"))), 3, "0"), payload).as("line"))
      .orderBy(col("date"))
      .select("line")
  }

  /** CSV variant (columns date, top, mod, bytes-as-JSON-string):
    * parse `bytes` with from_json, drop incomplete rows
    * (convert_json_to_candump.py:121-134). Quotes inside a quoted
    * field are doubled, as RFC 4180 writers (mongoexport, pandas)
    * emit them. */
  def fromCsv(spark: SparkSession, path: String): DataFrame = {
    val raw = spark.read.option("header", "true").option("escape", "\"")
      .csv(path)
    toCandumpLines(raw
      .withColumn("bytes", from_json(col("bytes"), ArrayType(StringType)))
      .withColumn("mod", col("mod").cast("int"))
      .withColumn("top", col("top").cast("int"))
      .na.drop(Seq("date", "top", "mod", "bytes")))
  }

  /** JSON-records variant (one array file or JSONL). */
  def fromJson(spark: SparkSession, path: String): DataFrame =
    toCandumpLines(spark.read.option("multiLine", "true")
      .schema(recordSchema).json(path))
}
