package bench

/** Correctness checks on the answers the engine gives. Each returns None
  * when the answer is right and a message when it is wrong; the workloads
  * count every message into `failed`. Pure functions, so the benchmark's
  * own test can hand each one a wrong answer. */
object Checks {
  private def fail(cond: Boolean, msg: => String): Option[String] =
    if (cond) None else Some(msg)

  def countIs(what: String, expected: Long, got: Long): Option[String] =
    fail(got == expected, s"$what: count $got, expected $expected")

  def dimIs(expected: Int, got: Option[Int]): Option[String] =
    fail(got.contains(expected), s"dim() = $got, expected Some($expected)")

  /** A stored vector queried exactly must come back first at distance 0. */
  def selfFirst(id: String, ids: Seq[String], dists: Seq[Double]): Option[String] =
    fail(ids.headOption.contains(id) && dists.headOption.contains(0.0),
      s"self query for $id returned ${ids.take(3)} at ${dists.take(3)}")

  /** `get(where_document=$contains)` must return exactly the documents the
    * generator planted the phrase in, each containing it. */
  def containsAll(phrase: String, expected: Int, ids: Seq[String],
                  docs: Seq[String]): Option[String] =
    fail(ids.length == expected && ids.distinct.length == ids.length &&
      docs.forall(_.contains(phrase)),
      s"$$contains '$phrase': ${ids.length} ids (${ids.distinct.length} distinct), " +
        s"expected $expected; ${docs.count(!_.contains(phrase))} without the phrase")

  /** A served `query` answer: n results, distances ascending. */
  def queryShape(n: Int, ids: Seq[String], dists: Seq[Double]): Option[String] =
    fail(ids.length == n && dists.length == n && ids.distinct.length == n &&
      dists.zip(dists.drop(1)).forall { case (a, b) => a <= b },
      s"query answered ${ids.length} ids / ${dists.length} distances, expected $n ascending")

  def whereHolds(atLeast: Int, ratings: Seq[String]): Option[String] =
    fail(ratings.forall(r => r != null && r.toDouble >= atLeast),
      s"where rating >= $atLeast returned ratings ${ratings.distinct.map(String.valueOf).sorted}")

  def docsContain(phrase: String, docs: Seq[String]): Option[String] =
    fail(docs.forall(d => d != null && d.contains(phrase)),
      s"where_document '$phrase' returned ${docs.count(d => d == null || !d.contains(phrase))} docs without it")

  /** `get(ids)` returns exactly the requested ids, id-ordered. */
  def getIds(requested: Seq[String], got: Seq[String]): Option[String] =
    fail(got == requested.distinct.sorted, s"get(${requested.take(5)}) returned ${got.take(5)}")

  /** Read-your-writes: after an upsert each id reads back its new text. */
  def readsOwnWrites(expected: Map[String, String], ids: Seq[String],
                     docs: Seq[String]): Option[String] = {
    val got = ids.zip(docs).toMap
    fail(got == expected,
      s"read after upsert: ${expected.count { case (k, v) => !got.get(k).contains(v) }} " +
        s"of ${expected.size} ids missing or stale")
  }

  def deletedGone(ids: Seq[String]): Option[String] =
    fail(ids.isEmpty, s"get of deleted ids returned ${ids.take(5)}")

  /** BM25 top-n: at most n hits, scores non-increasing. */
  def keywordShape(n: Int, scores: Seq[Double]): Option[String] =
    fail(scores.nonEmpty && scores.length <= n &&
      scores.zip(scores.drop(1)).forall { case (a, b) => a >= b },
      s"keywordTopK returned ${scores.length} scores (n=$n), ordered=${scores == scores.sortBy(-_)}")

  def httpOk(status: Int, body: String): Option[String] =
    fail(status == 200, s"HTTP $status: ${body.take(200)}")
}
