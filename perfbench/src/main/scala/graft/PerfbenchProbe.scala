package graft

/** Read-only views of engine counters that are private to `graft`, for the
  * benchmark's traced runs. Reading a counter does not change the engine.
  */
object PerfbenchProbe {
  /** Small log-file reads so far: commit JSONs, `_last_checkpoint`, `.crc`. */
  def logReads: Long = graft.delta.DeltaLog.logReads.get
}
