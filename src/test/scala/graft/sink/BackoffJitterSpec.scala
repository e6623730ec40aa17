package graft.sink

import org.scalatest.funsuite.AnyFunSuite

/** A conflicted writer sleeps a uniform draw from [d/2, d], d the
  * exponential backoff cap, so rivals that conflicted together spread out
  * instead of retrying in lockstep.
  */
class BackoffJitterSpec extends AnyFunSuite {

  test("each sleep lies in [d/2, d]; the draws differ; a zero base never sleeps") {
    val saved = SnapshotTable.backoffBaseMs
    try {
      SnapshotTable.backoffBaseMs = 1000L
      for (attempt <- Seq(0, 1, 3, 4, 60)) {
        val d = SnapshotTable.backoffMs(attempt)
        val draws = Seq.fill(200)(SnapshotTable.backoffSleepMs(attempt))
        assert(draws.forall(w => w >= d / 2 && w <= d), s"attempt=$attempt d=$d draws=$draws")
        assert(draws.distinct.size > 1, s"attempt=$attempt: every draw was ${draws.head}")
      }
      SnapshotTable.backoffBaseMs = 0L
      assert(Seq.fill(50)(SnapshotTable.backoffSleepMs(2)).forall(_ == 0L))
    } finally SnapshotTable.backoffBaseMs = saved
  }
}
