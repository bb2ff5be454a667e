package graft.pit

/** Read access to the as-of join's package-private counters, which the
  * benchmark records next to its metrics.
  */
object BenchHooks {
  /** Sampled hot-key detection jobs submitted since the JVM started. */
  def detectionJobs: Long = AsOfJoin.detectionJobs.get
}
