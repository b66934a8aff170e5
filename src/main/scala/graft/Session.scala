package graft

import org.apache.spark.sql.SparkSession

/** The one place a `main` builds its SparkSession, so Bench, Verify,
  * Soak and the dev probes run every query under the same settings.
  * SessionFactorySpec fails if `src/main` builds a session anywhere
  * else.
  */
object Session {

  /** A local session on `cpus` cores: shuffle width = cores, AQE on,
    * UTC session time, no UI, WARN logging without the known-benign
    * warnings (see [[Logs]]).
    */
  def local(cpus: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // Long multi-query runs: shuffle files and broadcasts are only
      // reclaimed when the ContextCleaner sees their handles GC'd, and
      // the default periodic-GC interval (30min) is longer than a full
      // suite - hundreds of executions accumulate, and late queries pay
      // the pressure (observed: 5-15x inflation on the soak tail with
      // per-query plans unchanged). A 2min floor keeps cleanup flowing.
      .config("spark.cleaner.periodicGC.interval", "2min")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    Logs.quietNoise()
    spark
  }
}
