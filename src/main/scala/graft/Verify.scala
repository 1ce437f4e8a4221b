package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // args: <sfDir> <outDir> [queryName...] — extra names restrict the
    // dump to a subset (dev loop); the driver passes exactly two.
    val (sfDir, outDir, only) = (args(0), args(1), args.drop(2).toSet)
    val spark = GraftSession.create()
    new java.io.File(outDir).mkdirs()
    // skew-guard visibility: a capped hot bucket trades recall, so any
    // non-zero dropped-bucket count on a gate corpus must be LOUD (the
    // oracles are exhaustive — a drop that changes results fails the
    // gate, but a drop that happens not to is still a warning sign)
    val guards = GuardMetrics.register(spark)
    GuardMetrics.excludeEmptyRelationRule(spark)
    SparkEntry.queries
      .filter { case (name, _) => only.isEmpty || only(name) }
      .foreach { case (name, fn) =>
      try {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        val drained = guards.drain()
        if (drained.nonEmpty) GuardMetrics.report("verify", name, drained)
      }
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      // the documented driver discipline (operators persist gram/
      // signature/survivor tables intra-query and rely on the driver
      // clearing between queries, as Bench does): without this the
      // 103-query dump accumulates every operator's session-lifecycle
      // cache in one shared heap
      finally spark.catalog.clearCache()
    }
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${jsonString(k)}: ${jsonString(v)}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }

  /** JSON string escape: backslash, quote, and ALL control chars (<0x20)
    * — a tab or CR in builder-authored SQL would otherwise make the
    * driver's json.load fail and silently zero the round's correctness. */
  private[graft] def jsonString(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
