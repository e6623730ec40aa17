package perfbench

import org.scalatest.funsuite.AnyFunSuite

class GenSpec extends AnyFunSuite {

  test("ingest inputs are a function of the seed") {
    val a = new IngestGen(7)
    val b = new IngestGen(7)
    assert((0 until 5).map(a.batch) == (0 until 5).map(b.batch))
    assert(a.initialProfiles == b.initialProfiles)
    val keys = a.initialProfiles.map(_.user).toIndexedSeq
    def changes(g: IngestGen) = { var n = 0; g.changes(3, keys, () => { n += 1; s"new$n" }) }
    assert(changes(a) == changes(b))
    assert(a.batch(0) != new IngestGen(8).batch(0))
  }

  test("ingest batches carry unique ids, and upserts repeat some keys") {
    val g = new IngestGen(3)
    val ids = (0 until 20).flatMap(g.batch).map(_.id)
    assert(ids.distinct.size == ids.size)
    val c = g.changes(1, g.initialProfiles.map(_.user).toIndexedSeq, () => "fresh")
    assert(c.map(_.user).distinct.size < c.size)
  }

  test("the corpus is a function of the seed") {
    val a = new CorpusGen(5)
    val b = new CorpusGen(5)
    assert(a.corpus == b.corpus)
    assert(a.images._1.map { case (i, p) => (i, p.toSeq) } == b.images._1.map { case (i, p) => (i, p.toSeq) })
    assert(a.vectors._1.map { case (i, v) => (i, v.toSeq) } == b.vectors._1.map { case (i, v) => (i, v.toSeq) })
    assert(a.corpus._1 != new CorpusGen(6).corpus._1)
  }

  test("the corpus plants what the checks look for") {
    val g = new CorpusGen(11)
    val (docs, exact, near) = g.corpus
    val text = docs.map(d => d.id -> d.text).toMap
    assert(docs.count(_.text.length >= 100000) == g.LongDocs)
    assert(exact.forall { case (a, b) => text(a) == text(b) })
    assert(near.forall { case (a, b) => Checks.jaccard(text(a), text(b)) >= CorpusCuration.MinJaccard })
    assert(g.images._2.size == g.NearImages)
  }
}
