package graft

/** The host-speed probe of [[Bench]], exposed to the benchmark harness so its
  * host record carries the same index as Bench's artifacts. */
object BenchProbe {
  def hostSpeedSeconds(): Double = Bench.calibrate()
}
