package graft

import org.apache.spark.sql.SparkSession

/** The one place a `SparkSession` is built: Bench, Verify, Census and
  * the specs all run on this config, so measurement and correctness
  * see the same planner. Log level WARN.
  *
  * The AQE empty-relation exclusion ([[GuardMetrics.excludeEmptyRelationRule]])
  * is deliberately NOT part of it: the harnesses that report guard
  * metrics opt in explicitly, and the specs test default planning.
  */
object GraftSession {
  /** Core count for `local[n]`; unset means every available processor. */
  val CoresEnv = "SPARK_GRAFT_CPUS"

  /** A positive integer, or (when unset) `availableProcessors`. Anything
    * else — `*`, `0`, a typo — fails naming the variable and the value. */
  def parseCores(raw: Option[String]): Int = raw match {
    case None => Runtime.getRuntime.availableProcessors
    case Some(v) => v.trim.toIntOption.filter(_ > 0).getOrElse(
      throw new IllegalArgumentException(
        s"$CoresEnv must be a positive integer, got '$v'"))
  }

  def cores: Int = parseCores(sys.env.get(CoresEnv))

  /** The shared config, as `SparkConf` key → value. */
  def conf(cores: Int): Seq[(String, String)] = Seq(
    "spark.master" -> s"local[$cores]",
    "spark.sql.shuffle.partitions" -> cores.toString,
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.adaptive.enabled" -> "true",
    // a single big text/parquet file (the candump corpus is few large
    // logs) still fans out across all cores
    "spark.sql.files.maxPartitionBytes" -> s"${16 * 1024 * 1024}",
    // one sorted spill file per map task instead of the bypass writer's
    // R files per map task: ~10× less task time on the low-R
    // control-plane shuffles (OPTIMIZATION_r16.md). At production R (in
    // the thousands, above the default 200) bypass never fires anyway.
    "spark.shuffle.sort.bypassMergeThreshold" -> "1",
    "spark.ui.enabled" -> "false")

  /** `warehouseDir`, when given, is where managed tables land (the specs
    * use a fresh temp dir); otherwise Spark's default. */
  def create(cores: Int = GraftSession.cores,
             warehouseDir: Option[String] = None): SparkSession = {
    val b = SparkSession.builder().appName("graft")
    conf(cores).foreach { case (k, v) => b.config(k, v) }
    warehouseDir.foreach(b.config("spark.sql.warehouse.dir", _))
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
