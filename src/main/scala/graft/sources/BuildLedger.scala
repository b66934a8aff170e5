package graft.sources

/** Build-time ledger for every persisted artifact: [[Artifacts]]
  * records each build it actually ran (cache hits record nothing),
  * keyed by the artifact directory name, with the wall seconds it took.
  *
  * The bench reads this to report one-time build cost separately from
  * steady-state probe timings: a cold-cache run shows every artifact
  * the warm-up forced into existence; a steady-state run honestly
  * shows `{}`.
  */
object BuildLedger {
  private val ledger =
    new java.util.concurrent.ConcurrentHashMap[String, Double]()

  private[sources] def record(kind: String, seconds: Double): Unit = {
    ledger.put(kind, seconds)
    ()
  }

  /** artifact kind -> build seconds, for every index this JVM built. */
  def log: Map[String, Double] = {
    import scala.jdk.CollectionConverters._
    ledger.asScala.toMap
  }
}
