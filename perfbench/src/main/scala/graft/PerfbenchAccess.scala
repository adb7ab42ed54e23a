package graft

/** Read-only view of graft's package-private telemetry for the
  * benchmark harness: the SessionMemo (hits, builds) counters.
  */
object PerfbenchAccess {
  def memoCounters: (Long, Long) = SessionMemo.counters
}
