package bench

import org.scalatest.funsuite.AnyFunSuite

class GenSpec extends AnyFunSuite {
  private val size = Size.smoke

  test("the same seed gives the same inputs; another seed does not") {
    val a = Gen.corpus(5, size)
    val b = Gen.corpus(5, size)
    val c = Gen.corpus(6, size)
    assert(a.docs.map(d => (d.id, d.text, d.rating, d.vec.toSeq)) ==
      b.docs.map(d => (d.id, d.text, d.rating, d.vec.toSeq)))
    assert(a.docs.map(_.text) != c.docs.map(_.text))
    def stream(s: Long) = Gen.requests(s, Gen.corpus(s, size), 50).map(Workloads.body)
    assert(stream(5) == stream(5))
    assert(stream(5) != stream(6))
    val s1 = new Gen.Schedule(5, a)
    val s2 = new Gen.Schedule(5, b)
    val live = a.docs.map(_.id)
    assert(s1.next(live).batch1.map(d => (d.id, d.text)) == s2.next(live).batch1.map(d => (d.id, d.text)))
  }

  test("phrase counts are the documents the phrase occurs in, and never zero") {
    val c = Gen.corpus(5, Size.full)
    for (p <- Gen.Phrases) {
      val n = c.docs.count(_.text.split(" ").sliding(p.split(" ").length)
        .exists(_.mkString(" ") == p))
      assert(c.phraseCounts(p) == n, p)
      assert(n > 0, p)
    }
    // vocabulary words never contain a phrase letter
    assert(Gen.vocabulary(1000).forall(_.forall(ch => ch >= 'a' && ch <= 'p')))
  }

  test("request mix follows 70/15/10/5") {
    val rs = Gen.requests(1, Gen.corpus(1, size), 20000)
    def share(f: Request => Boolean) = rs.count(f).toDouble / rs.length
    assert(math.abs(share { case q: QueryRequest => q.ratingAtLeast.isEmpty && q.contains.isEmpty; case _ => false } - 0.70) < 0.02)
    assert(math.abs(share { case q: QueryRequest => q.ratingAtLeast.isDefined; case _ => false } - 0.15) < 0.02)
    assert(math.abs(share { case q: QueryRequest => q.contains.isDefined; case _ => false } - 0.10) < 0.02)
    assert(math.abs(share(_.isInstanceOf[GetRequest]) - 0.05) < 0.02)
  }

  test("a mutation cycle upserts half updates, half inserts, and deletes live untouched ids") {
    val c = Gen.corpus(2, size)
    val live = c.docs.map(_.id)
    val cy = new Gen.Schedule(2, c).next(live)
    val liveSet = live.toSet
    for (b <- Seq(cy.batch1, cy.batch2)) {
      assert(b.length == size.batchRows)
      assert(b.count(d => liveSet(d.id)) == size.batchRows / 2)
      assert(b.map(_.id).distinct.length == b.length)
    }
    assert(cy.batch1.map(_.id).toSet.intersect(cy.batch2.map(_.id).toSet).isEmpty)
    assert(cy.deletes.length == size.deleteRows && cy.deletes.forall(liveSet))
    assert(cy.deletes.toSet.intersect((cy.batch1 ++ cy.batch2).map(_.id).toSet).isEmpty)
  }
}
