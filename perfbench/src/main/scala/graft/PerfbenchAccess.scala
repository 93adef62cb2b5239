package graft

/** Between-entry scratch cleanup, the same call `Bench` and `Verify` make
  * between registered entries; `Scratch` is package-private. */
object PerfbenchAccess {
  def sweep(): Unit = analytics.Scratch.sweep()
}
