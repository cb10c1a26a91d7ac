package graft.operators

/** Shared gate helper for the bounded driver fast paths (PageRank / HITS /
  * LPA / walks / k-core / union-find components / Markov).
  *
  * `SPARK_GRAFT_DRIVER_EDGE_LIMIT` can only LOWER an operator's configured
  * limit — setting it to 0 forces every graph loop onto the distributed
  * path, which is the verification hook that lets the SQL oracle certify
  * the at-scale plan end-to-end (the driver loops are spec-pinned
  * bit-identical, but an independent oracle sweep of the distributed loops
  * needs them to actually run). It can never raise a limit past an
  * operator's ceiling: the env value is min'd with the caller's limit.
  */
private[graft] object DriverPath {
  private val EnvVar = "SPARK_GRAFT_DRIVER_EDGE_LIMIT"

  /** The override an env value sets, if any; a value that is not a whole
    * number fails with an error naming the variable and the value. */
  private[graft] def parseLimit(raw: Option[String]): Option[Long] =
    raw.map(v => v.trim.toLongOption.getOrElse(throw new IllegalArgumentException(
      s"$EnvVar must be a whole number of edges, got '$v'")))

  // lazy, so a malformed value fails at first use with the error above
  // rather than as an ExceptionInInitializerError of this object
  private lazy val envLimit: Option[Long] = parseLimit(sys.env.get(EnvVar))

  /** The caller-configured driver-path limit, lowered by the env override
    * when one is set. */
  def effective(limit: Long): Long =
    envLimit.fold(limit)(math.min(_, limit))
}
