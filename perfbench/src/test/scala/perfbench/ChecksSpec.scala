package perfbench

import org.scalatest.funsuite.AnyFunSuite

/** Every correctness check must fail on a planted wrong result. */
class ChecksSpec extends AnyFunSuite {

  private val rows = Seq(Seq("click", 12L), Seq("purchase", 3L), Seq("view", 40L))

  test("a read result must equal the model's answer, in any order") {
    assert(Checks.sameRows(rows, rows.reverse))
    assert(!Checks.sameRows(rows, rows.updated(1, Seq("purchase", 4L))), "a wrong count")
    assert(!Checks.sameRows(rows, rows.tail), "a missing row")
    assert(!Checks.sameRows(rows, rows :+ Seq("view", 40L)), "a duplicated row")
    assert(Checks.sameRows(Seq(Seq(0.1 + 0.2)), Seq(Seq(0.3))), "summation order is not an error")
  }

  test("a table summary catches a changed, lost or extra row") {
    val table = Seq(Seq("e1", "u1", "click", 1L, "{}"), Seq("e2", "u2", "view", 2L, "{}"))
    val ok = Checks.summary(table)
    assert(Checks.summary(table.reverse) == ok)
    assert(Checks.summary(table.updated(0, Seq("e1", "u1", "click", 1L, "{}#u"))) != ok)
    assert(Checks.summary(table.tail) != ok)
    assert(Checks.summary(table :+ table.head) != ok)
  }

  test("live snapshots must be exactly the acknowledged commits") {
    assert(Checks.snapshotMismatch(Seq(1L, 2L, 3L), Set(1L, 2L, 3L)).isEmpty)
    assert(Checks.snapshotMismatch(Seq(1L, 2L, 3L, 4L), Set(1L, 2L, 3L)).isDefined, "an extra snapshot")
    assert(Checks.snapshotMismatch(Seq(1L, 3L), Set(1L, 2L, 3L)).isDefined, "a lost commit")
    assert(Checks.snapshotMismatch(Seq(1L, 2L, 2L, 3L), Set(1L, 2L, 3L)).isDefined, "a repeated snapshot")
  }

  test("planted duplicate pairs must share a group") {
    val planted = Seq((1L, 2L), (3L, 4L))
    assert(Checks.groupRecall(planted, Map(1L -> 9L, 2L -> 9L, 3L -> 5L, 4L -> 5L)) == 1.0)
    assert(Checks.groupRecall(planted, Map(1L -> 9L, 2L -> 9L, 3L -> 5L, 4L -> 6L)) == 0.5)
    assert(Checks.groupRecall(planted, Map(1L -> 9L, 2L -> 9L)) == 0.5, "an ungrouped pair is missed")
  }

  test("a reported near-duplicate pair below the threshold is caught") {
    val a = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    assert(Checks.jaccard(a, a) == 1.0)
    val far = "one two three four five six seven eight nine ten"
    assert(Checks.jaccard(a, far) < CorpusCuration.MinJaccard)
  }

  test("approximate search recall against the exact top-k") {
    val exact = Set((1L, 10L), (1L, 11L), (2L, 20L), (2L, 21L))
    assert(Checks.recallAtK(exact, exact) == 1.0)
    assert(Checks.recallAtK(exact, Set((1L, 10L), (2L, 99L))) == 0.25)
  }

  test("a chunk audit row fails when any invariant is broken") {
    val text = "some document text"
    val md5 = Checks.md5(text)
    val n = text.length
    assert(Checks.cdcRowOk(md5, n, 1, n, keysInjective = true, boundariesValid = true, text))
    assert(!Checks.cdcRowOk(Checks.md5("other"), n, 1, n, true, true, text), "wrong reassembly")
    assert(!Checks.cdcRowOk(md5, n - 1, 1, n, true, true, text), "a gap")
    assert(!Checks.cdcRowOk(md5, n, 2, n, true, true, text), "a shifted start")
    assert(!Checks.cdcRowOk(md5, n, 1, n - 1, true, true, text), "a short end")
    assert(!Checks.cdcRowOk(md5, n, 1, n, false, true, text), "colliding keys")
    assert(!Checks.cdcRowOk(md5, n, 1, n, true, false, text), "an invalid boundary")
  }
}
