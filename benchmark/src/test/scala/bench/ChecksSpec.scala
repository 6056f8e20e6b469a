package bench

import org.scalatest.funsuite.AnyFunSuite

/** Every correctness check passes on the right answer and fails on a
  * wrong one — the benchmark's `failed` count can only be trusted if the
  * checks can fail. */
class ChecksSpec extends AnyFunSuite {
  private def passes(r: Option[String]): Unit = assert(r.isEmpty, r)
  private def fails(r: Option[String]): Unit = assert(r.isDefined)

  test("count conservation and model count") {
    passes(Checks.countIs("hydrated", 5000, 5000))
    fails(Checks.countIs("hydrated", 5000, 4999))
  }

  test("collection dim") {
    passes(Checks.dimIs(64, Some(64)))
    fails(Checks.dimIs(64, Some(63)))
    fails(Checks.dimIs(64, None))
  }

  test("a stored vector comes back first at distance 0") {
    passes(Checks.selfFirst("7", Seq("7", "3"), Seq(0.0, 1.5)))
    fails(Checks.selfFirst("7", Seq("3", "7"), Seq(0.0, 0.0)))
    fails(Checks.selfFirst("7", Seq("7", "3"), Seq(1e-3, 1.5)))
    fails(Checks.selfFirst("7", Nil, Nil))
  }

  test("$contains returns exactly the planted documents") {
    passes(Checks.containsAll("zephyr", 2, Seq("1", "2"), Seq("a zephyr", "zephyr b")))
    fails(Checks.containsAll("zephyr", 3, Seq("1", "2"), Seq("a zephyr", "zephyr b")))
    fails(Checks.containsAll("zephyr", 2, Seq("1", "1"), Seq("a zephyr", "zephyr b")))
    fails(Checks.containsAll("zephyr", 2, Seq("1", "2"), Seq("a zephyr", "plain")))
  }

  test("query shape: n distinct ids, ascending distances") {
    passes(Checks.queryShape(3, Seq("a", "b", "c"), Seq(0.1, 0.2, 0.2)))
    fails(Checks.queryShape(3, Seq("a", "b"), Seq(0.1, 0.2)))
    fails(Checks.queryShape(3, Seq("a", "b", "c"), Seq(0.3, 0.2, 0.4)))
    fails(Checks.queryShape(3, Seq("a", "a", "c"), Seq(0.1, 0.2, 0.4)))
  }

  test("where and where_document filters hold on every hit") {
    passes(Checks.whereHolds(4, Seq("4", "5")))
    fails(Checks.whereHolds(4, Seq("4", "3")))
    fails(Checks.whereHolds(4, Seq("4", null)))
    passes(Checks.docsContain("quartz", Seq("x quartz", "quartz")))
    fails(Checks.docsContain("quartz", Seq("x quartz", "quart z")))
  }

  test("get by ids, read-your-writes, deletes") {
    passes(Checks.getIds(Seq("9", "10"), Seq("10", "9")))
    fails(Checks.getIds(Seq("9", "10"), Seq("10")))
    passes(Checks.readsOwnWrites(Map("1" -> "new"), Seq("1"), Seq("new")))
    fails(Checks.readsOwnWrites(Map("1" -> "new"), Seq("1"), Seq("old")))
    fails(Checks.readsOwnWrites(Map("1" -> "new", "2" -> "x"), Seq("1"), Seq("new")))
    passes(Checks.deletedGone(Nil))
    fails(Checks.deletedGone(Seq("4")))
  }

  test("keyword top-n: bounded, non-empty, scores non-increasing") {
    passes(Checks.keywordShape(3, Seq(2.0, 1.0, 1.0)))
    fails(Checks.keywordShape(3, Nil))
    fails(Checks.keywordShape(2, Seq(2.0, 1.0, 0.5)))
    fails(Checks.keywordShape(3, Seq(1.0, 2.0)))
  }

  test("served answers: status, shape and filters are checked per request") {
    val q = QueryRequest(Array(0f, 1f), Some(4), Some("quartz"))
    def body(ids: Seq[String], dists: Seq[Double], ratings: Seq[Int], docs: Seq[String]) =
      s"""{"ids":[${Json(ids)}],"distances":[${Json(dists)}],""" +
        s""""documents":[${Json(docs)}],"embeddings":null,""" +
        s""""metadatas":[${Json(ratings.map(r => Map("rating" -> r.toString)))}]}"""
    val ids = (1 to Gen.K).map(_.toString)
    val dists = (1 to Gen.K).map(_.toDouble)
    val good = body(ids, dists, Seq.fill(Gen.K)(5), Seq.fill(Gen.K)("quartz"))
    assert(Workloads.checkResponse(q, 200, good).flatten.isEmpty)
    assert(Workloads.checkResponse(q, 500, good).flatten.nonEmpty)
    assert(Workloads.checkResponse(q, 200,
      body(ids.tail, dists.tail, Seq.fill(Gen.K - 1)(5), Seq.fill(Gen.K - 1)("quartz"))).flatten.nonEmpty)
    assert(Workloads.checkResponse(q, 200,
      body(ids, dists, 3 +: Seq.fill(Gen.K - 1)(5), Seq.fill(Gen.K)("quartz"))).flatten.nonEmpty)
    assert(Workloads.checkResponse(q, 200,
      body(ids, dists, Seq.fill(Gen.K)(5), "other" +: Seq.fill(Gen.K - 1)("quartz"))).flatten.nonEmpty)
    val g = GetRequest(Seq("3", "1"))
    assert(Workloads.checkResponse(g, 200, """{"ids":["1","3"]}""").flatten.isEmpty)
    assert(Workloads.checkResponse(g, 200, """{"ids":["1"]}""").flatten.nonEmpty)
  }
}
