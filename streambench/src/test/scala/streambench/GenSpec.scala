package streambench

import org.scalatest.funsuite.AnyFunSuite

class GenSpec extends AnyFunSuite {

  /** Every generator's output for one seed, serialized to bytes. */
  private def inputs(seed: Long): Array[Byte] = {
    val cdf = Gen.zipfCdf(2000)
    val parts =
      (0 until 20).map(i => Gen.newsletterLong(seed, i).toString) ++
      (0L until 500L).map(i => Gen.slackEvent(seed, i, cdf, 100, 1700000000000L + i).toString) ++
      (0 until 50).map(i => Gen.corpusDoc(seed, i, 1500).toString) ++
      (0 until 3).map(c => Gen.indexCycle(seed, c, 1500, 100, 3).toString) ++
      (0 until 200).map(i => Gen.failureOf(seed, s"U1: ev$i").toString)
    parts.mkString("\u0001").getBytes("UTF-8")
  }

  test("the same seed gives byte-identical inputs") {
    assert(java.util.Arrays.equals(inputs(7), inputs(7)))
    assert(!java.util.Arrays.equals(inputs(7), inputs(8)))
  }

  test("long newsletters exceed the block budget and hit every cleaning branch") {
    val bodies = (0 until 40).map(i => Gen.newsletterLong(3, i).body)
    assert(bodies.forall(_.length > Pipelines.BlockBudget))
    Seq("Together With", "TLDR ", "Love TLDR? Tell your friends and get rewards!",
        "How did we do today?", "Content-Type:", "\r\n", "<b>", "\n[", "by ", ".png",
        "https://example.com/", "café").foreach { marker =>
      assert(bodies.exists(_.contains(marker)), marker)
    }
    assert(bodies.exists(_.linesIterator.exists(l => l.nonEmpty && l == l.toUpperCase &&
      l.exists(_.isLetter))), "ALL-CAPS heading")
  }

  test("index cycles: fresh ids never repeat and replays re-deliver admitted ids") {
    val cycles = (0 until 4).map(c => Gen.indexCycle(11, c, 1500, 100, 3))
    val fresh = cycles.flatMap(cy => cy.docs.take(cy.fresh).map(_._1))
    assert(fresh.distinct.size == fresh.size)
    cycles.zipWithIndex.foreach { case (cy, c) =>
      val replayed = cy.docs.drop(cy.fresh).map(_._1)
      assert(replayed.size == cy.replayed && cy.replayed == 10)
      if (c == 0) assert(replayed.forall(_ < 1500))
      else assert(replayed.toSet.subsetOf(cycles(c - 1).docs.take(100).map(_._1).toSet))
      assert(cy.forget.toSet.subsetOf(cy.docs.take(cy.fresh).map(_._1).toSet))
    }
  }

  test("the index corpus has the shape of the documents table") {
    val docs = (0 until 2000).map(i => Gen.corpusDoc(5, i, 2000))
    val words = docs.map(_._2.split(" "))
    val dups = words.filter(_.last == "dup")
    assert(words.flatten.toSet.size == 31)
    assert(words.map(w => w.size - (if (w.last == "dup") 1 else 0)).forall(n => n >= 10 && n <= 100))
    assert(dups.size > 60 && dups.size < 140)
    val en = docs.count(_._3 == "en")
    assert(en > 700 && en < 900 && docs.map(_._3).toSet.size == 5)
    assert(docs.map(_._4).toSet.size == 20)
    val cy = Gen.indexCycle(5, 0, 2000, 100, 3)
    assert(cy.docs.take(cy.fresh).forall(_._2.endsWith(" dup")))
  }
}
