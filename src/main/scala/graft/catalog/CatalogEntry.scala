package graft
package catalog

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One catalog query: the frame it builds over the tables in an
  * sf directory, beside the DuckDB SQL that must produce the same rows
  * (same column names, same deterministic ORDER BY, float-stable
  * arithmetic). `oracle` is `None` for the entries no SQL can replay. */
final case class CatalogEntry(name: String,
                              query: (SparkSession, String) => DataFrame,
                              oracle: Option[String])
