package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Schema-cached parquet reads — the metastore analogue for the
  * path-addressed tables and index artifacts this library serves.
  *
  * A bare `spark.read.parquet(path)` infers the schema by reading
  * file footers, and that inference is a Spark JOB — one driver
  * round-trip per `DataFrame` construction, before a single row is
  * needed. Query functions here are re-invoked per bench attempt and
  * build each frame from scratch, so the footer job recurs: probing
  * one query showed 8+ such jobs per construction (every
  * `Tables.*` call and every persisted-index read), adding up to a
  * measurable fixed tax on all 331 queries. A catalog-backed
  * deployment (Hive metastore, Iceberg) never pays it — the schema
  * comes from table METADATA; this cache is that behavior for bare
  * paths: infer once per (JVM, path, contents), serve every later read
  * with the explicit schema, which skips inference entirely.
  *
  * An entry holds the `version` it was inferred at — the artifact
  * store's fingerprint of what is at the path, which [[Artifacts.read]]
  * passes in — so a path rewritten in place (with a wider schema, say)
  * is inferred afresh. This caches schema METADATA only — never rows,
  * never results; every read still scans the parquet freshly.
  */
object SchemaCache {
  private val cache =
    new java.util.concurrent.ConcurrentHashMap[String, (String, StructType)]()

  private[sources] def parquet(s: SparkSession, path: String,
                               version: String): DataFrame = {
    val hit = cache.get(path)
    if (hit != null && hit._1 == version) s.read.schema(hit._2).parquet(path)
    else {
      val df = s.read.parquet(path)
      cache.put(path, (version, df.schema))
      df
    }
  }
}
