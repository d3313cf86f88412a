package perfbench

import org.scalatest.funsuite.AnyFunSuite

class GenSpec extends AnyFunSuite {

  private def importFile(g: ImportGen) =
    (0 until g.parts).flatMap(p => g.fileOrder(p).map { case (k, o) => g.line(k, o) })

  test("a fixed seed gives the same inputs, another seed different ones") {
    val a = ImportGen(7, 3000)
    assert(importFile(a) == importFile(ImportGen(7, 3000)))
    assert(importFile(a) != importFile(ImportGen(8, 3000)))

    val c = CorpusGen(7, 2000)
    val texts = (0L until 2000).map(c.text)
    assert(texts == (0L until 2000).map(CorpusGen(7, 2000).text))
    assert(texts != (0L until 2000).map(CorpusGen(8, 2000).text))
    assert(c.plants == CorpusGen(7, 2000).plants)

    val m = MergeGen(7, 10000, 180, 20, 800)
    val m2 = MergeGen(7, 10000, 180, 20, 800)
    for (j <- 0 until 5) {
      assert(m.batchKeys(j) == m2.batchKeys(j))
      assert(m.batchKeys(j).map(m.batchValue(j, _)) == m2.batchKeys(j).map(m2.batchValue(j, _)))
      assert(m.lookupKeys(j, 50) == m2.lookupKeys(j, 50))
    }
    assert(m.batchKeys(0) != MergeGen(8, 10000, 180, 20, 800).batchKeys(0))
  }

  test("import files: every source key once, duplicates later in its file") {
    val g = ImportGen(3, 20000)
    val files = (0 until g.parts).map(g.fileOrder(_).toVector)
    assert(files.forall(_.size > 4000))
    val firsts = files.flatten.filter(_._2 == 0).map(_._1)
    assert(firsts.sorted == (0 until 20000))
    files.foreach { order =>
      val pos = order.zipWithIndex.toMap
      order.filter(_._2 == 1).foreach { case (k, _) => assert(pos((k, 1)) > pos((k, 0))) }
    }
    val dups = files.flatten.count(_._2 == 1)
    assert(dups > 200 && dups < 600)
    assert(g.rows == 20000 + dups)
    assert(g.unionKeys == 25000)
  }

  test("expected import rows: last duplicate wins, update-only-if-null keeps") {
    val g = ImportGen(5, 20000)
    val dup = (0 until 20000).find(k => g.isDup(k) && g.inTarget(k) &&
      g.target(k).note.isEmpty && g.source(k, 0).note.nonEmpty).get
    val e = g.expected(dup).get
    assert(e.amountFr == g.source(dup, 1).amountFr)
    assert(e.note == g.source(dup, 0).note) // first non-null source note
    val kept = (0 until 20000).find(k => g.inTarget(k) && !g.isDup(k) &&
      g.target(k).note.nonEmpty).get
    assert(g.expected(kept).get.note == g.target(kept).note)
    val targetOnly = g.sourceKeys + 1
    assert(g.expected(targetOnly).contains(g.target(targetOnly)))
  }

  test("merge batches touch only recent keys and create past the end") {
    val m = MergeGen(1, 100000, 1800, 200, 8000)
    for (j <- 0 until 10) {
      val ks = m.batchKeys(j)
      assert(ks.distinct.size == 2000)
      assert(ks.forall(k => k >= m.sizeBefore(j) - 8000 && k < m.sizeBefore(j + 1)))
    }
  }

  test("planted near-duplicates drop the base's last word") {
    val c = CorpusGen(11, 5000)
    assert(c.plants.nonEmpty)
    c.plants.foreach { case (b, n) =>
      assert(b < n)
      val (tb, tn) = (c.text(b), c.text(n))
      assert(tb.startsWith(tn + " "))
      assert(tb.split(" ").length >= 30)
      assert(ExactJaccard(tb, tn) > 0.9)
    }
  }
}
