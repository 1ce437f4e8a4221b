package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.catalog._

/** Driver contract — see SURVEY.md §7.
  *
  * Each catalog entry exercises one operator family from SURVEY.md §2
  * against the driver-generated synthetic tables; its oracle is ANSI
  * SQL producing the identical result in DuckDB. The entries live in
  * family files under `graft/catalog/`, each query beside its oracle;
  * `queries` and `oracleSql` are views of that one list.
  */
object SparkEntry {

  private lazy val catalog: Seq[CatalogEntry] = Seq(
    RelationalQueries.entries, PaperPathQueries.entries,
    DedupQueries.entries, VectorQueries.entries, TextQueries.entries,
    ImageQueries.entries, AudioVideoQueries.entries,
    LifecycleQueries.entries, CascadeQueries.entries).flatten

  lazy val queries: Map[String, (SparkSession, String) => DataFrame] =
    catalog.map(e => e.name -> e.query).toMap

  lazy val oracleSql: Map[String, String] =
    catalog.flatMap(e => e.oracle.map(e.name -> _)).toMap

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * Mini end-to-end slice: resample → dense grid → interpolate. */
  def entry(spark: SparkSession): DataFrame =
    queries("q11_interpolate")(spark, "/root/testdata/sf0.001")
}
