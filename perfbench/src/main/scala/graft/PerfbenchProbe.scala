package graft

/** Read-only access to engine counters that are private to `graft`. */
object PerfbenchProbe {
  /** Parquet footers the bloom-prover cache has opened: one per (file,
    * column) key it did not hold. */
  def bloomFooterOpens: Long = graft.core.BloomPruning.footerOpens.get
}
