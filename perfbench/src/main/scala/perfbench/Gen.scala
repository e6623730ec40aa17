package perfbench

import scala.util.Random

object Gen {
  /** SplitMix64 finalizer: neighbouring inputs give unrelated outputs. */
  def mix(x0: Long): Long = {
    var x = x0 + 0x9e3779b97f4a7c15L
    x = (x ^ (x >>> 30)) * 0xbf58476d1ce4e5b9L
    x = (x ^ (x >>> 27)) * 0x94d049bb133111ebL
    x ^ (x >>> 31)
  }

  /** An independent random stream for item `i` of stream `stream` under
    * `seed`: the same triple always yields the same draws.
    */
  def rng(seed: Long, stream: Long, i: Long): Random =
    new Random(mix(mix(mix(seed) ^ stream) ^ i))
}
