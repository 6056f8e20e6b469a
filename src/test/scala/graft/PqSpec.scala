package graft

import org.apache.spark.sql.functions._
import graft.operators.{Ann, Knn}

/** Product-quantization (Ann.PqModel / pqEncode / queryPqAdc /
  * queryPqRefined / queryIvfPq): codebook shape, encode correctness
  * against a driver-side argmin, the ADC ≈ exact-distance relationship,
  * the degenerate exact case (ksub = corpus), the two-stage refine's
  * recall dominance over ADC alone, and the residual model's per-cell
  * tables. */
class PqSpec extends SparkTestBase {
  import spark.implicits._

  private lazy val emb = spark.read.parquet(sf("embeddings"))
  private lazy val model =
    Ann.buildPqSeeded(emb, "vec_id", "embedding", dim = 64, m = 4, seedIds = 1L to 16L)

  test("codebooks: m subspaces of ksub centroids, each subDim wide, from the seed rows") {
    assert(model.m == 4 && model.subDim == 16 && model.ksub == 16)
    val seed3 = emb.filter(col("vec_id") === 3)
      .select(col("embedding").cast("array<double>")).as[Seq[Double]].head()
    // seed order: code c is seed id c+1 — so code 2 in subspace 1 is
    // elements 16..31 of vec_id 3
    assert(model.codebooks(1)(2).toSeq == seed3.slice(16, 32))
  }

  test("unknown seed id and non-dividing m fail loudly") {
    intercept[RuntimeException] {
      Ann.buildPqSeeded(emb, "vec_id", "embedding", 64, 4, Seq(999999L))
    }
    intercept[IllegalArgumentException] {
      Ann.PqModel(64, 5, Array.fill(5)(Array(Array(0.0))))
    }
  }

  test("encode matches a driver-side argmin over every subspace") {
    val sample = emb.filter(col("vec_id") < 50)
    val got = Ann.pqEncode(sample, "embedding", model)
      .select(col("vec_id"), col("codes"))
      .as[(Long, Seq[Int])].collect().toMap
    val raw = sample.select(col("vec_id"), col("embedding").cast("array<double>"))
      .as[(Long, Seq[Double])].collect()
    raw.foreach { case (id, v) =>
      val expect = (0 until model.m).map { s =>
        val sub = v.slice(s * model.subDim, (s + 1) * model.subDim)
        model.codebooks(s).zipWithIndex.map { case (c, code) =>
          val d = sub.zip(c).map { case (a, b) => (a - b) * (a - b) }.sum
          (d, code)
        }.min._2 // ties to lowest code via tuple ordering
      }
      assert(got(id) == expect, s"codes diverge for vec_id=$id")
    }
  }

  test("seed rows encode to their own codes with ADC partial 0 there") {
    val codes = Ann.pqEncode(emb.filter(col("vec_id") === 5L), "embedding", model)
      .select("codes").as[Seq[Int]].head()
    assert(codes == Seq(4, 4, 4, 4)) // seed id 5 = code 4 in every subspace
    val q = emb.filter(col("vec_id") === 5L).select("embedding").as[Seq[Float]].head()
    val lut = Ann.pqLut(model, q)
    (0 until 4).foreach(s => assert(lut(s)(4) == 0.0))
  }

  test("ADC distance approximates exact squared L2 (quantization error bounded)") {
    val q = emb.filter(col("vec_id") === 0L).select("embedding").as[Seq[Float]].head()
    val encoded = Ann.pqEncode(emb, "embedding", model)
    val adc = Ann.queryPqAdc(encoded, model, "vec_id", q, k = 500)
      .as[(Long, Double)].collect().toMap
    val exact = emb.select(col("vec_id"),
        graft.functions.Distances.l2Sq(col("embedding"), typedLit(q)).as("d"))
      .as[(Long, Double)].collect().toMap
    // ADC replaces each subvector by its codebook centroid: the error per
    // subspace is bounded by the corpus's own quantization radius. Check a
    // loose corpus-level sanity: mean |adc − exact| well under mean exact.
    val diffs = adc.keys.map(id => math.abs(adc(id) - exact(id))).toSeq
    val meanExact = exact.values.sum / exact.size
    assert(diffs.sum / diffs.size < meanExact,
      s"ADC error ${diffs.sum / diffs.size} not under mean exact $meanExact")
  }

  test("degenerate exact case: every row a seed makes ADC rank = exact rank") {
    val tiny = emb.filter(col("vec_id") < 32)
    val m32 = Ann.buildPqSeeded(tiny, "vec_id", "embedding", 64, 4, 0L until 32L)
    val q = tiny.filter(col("vec_id") === 0L).select("embedding").as[Seq[Float]].head()
    val encoded = Ann.pqEncode(tiny, "embedding", m32)
    val adcTop = Ann.queryPqAdc(encoded, m32, "vec_id", q, k = 10, excludeIds = Seq(0L))
      .select("vec_id").as[Long].collect().toSeq
    val exactTop = tiny.filter(col("vec_id") =!= 0L)
      .select(col("vec_id"),
        graft.functions.Distances.l2Sq(col("embedding"), typedLit(q)).as("d"))
      .orderBy(col("d"), col("vec_id")).limit(10)
      .select("vec_id").as[Long].collect().toSeq
    // every row is its own codebook entry → ADC distance = exact squared
    // L2 up to the round-to-6 fold, so the rankings agree
    assert(adcTop == exactTop)
  }

  test("refined top-k recall dominates ADC-only and hits >= 8/10 at m=8") {
    // m=8 (8-wide subspaces): the q136 config — random 64-dim vectors
    // quantize poorly in 16-wide subspaces (measured 3/10 at fetchN=50)
    // but well in 8-wide ones (measured 9/10), the standard PQ m dial
    val m8 = Ann.buildPqSeeded(emb, "vec_id", "embedding", 64, 8, 1L to 16L)
    val q = emb.filter(col("vec_id") === 0L).select("embedding").as[Seq[Float]].head()
    val encoded = Ann.pqEncode(emb, "embedding", m8)
    val exact = Knn.topK(emb, "vec_id", "embedding", q, 10, "l2",
        excludeIds = Seq(0L)).select("vec_id").as[Long].collect().toSet
    val adcOnly = Ann.queryPqAdc(encoded, m8, "vec_id", q, 10, Seq(0L))
      .select("vec_id").as[Long].collect().toSet
    val refined = Ann.queryPqRefined(encoded, emb, m8, "vec_id", "embedding",
        q, k = 10, fetchN = 50, space = "l2", excludeIds = Seq(0L))
      .select("vec_id").as[Long].collect().toSet
    val rAdc = adcOnly.intersect(exact).size
    val rRef = refined.intersect(exact).size
    // refined ∩ exact ⊇ adcOnly ∩ exact by construction: any exact-top-10
    // member inside the shortlist wins the exact re-rank
    assert(rRef >= rAdc, s"refine lost recall: $rRef < $rAdc")
    assert(rRef >= 8, s"refined recall too low: $rRef/10")
  }

  test("queryPqRefined broadcasts the shortlist onto the raw-vector scan") {
    val q = emb.filter(col("vec_id") === 0L).select("embedding").as[Seq[Float]].head()
    val encoded = Ann.pqEncode(emb, "embedding", model)
    val plan = Ann.queryPqRefined(encoded, emb, model, "vec_id", "embedding",
      q, 10, 30).queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), s"no broadcast join in:\n$plan")
  }

  test("fetchN < k fails loudly") {
    intercept[IllegalArgumentException] {
      Ann.queryPqRefined(emb, emb, model, "vec_id", "embedding",
        Seq.fill(64)(0f), k = 10, fetchN = 5)
    }
  }

  test("writePq/readPq round-trip: same codes, same codebooks, same ADC ranking") {
    val encoded = Ann.pqEncode(emb, "embedding", model)
    val dir = java.nio.file.Files.createTempDirectory(
      java.nio.file.Paths.get("/root/repo/target"), "pq").toString
    Ann.writePq(encoded, "vec_id", model, dir)
    val (back, m2) = Ann.readPq(spark, dir)
    assert(m2.dim == model.dim && m2.m == model.m && m2.ksub == model.ksub)
    (0 until model.m).foreach { s =>
      (0 until model.ksub).foreach { c =>
        assert(m2.codebooks(s)(c).toSeq == model.codebooks(s)(c).toSeq) } }
    val q = emb.filter(col("vec_id") === 0L).select("embedding").as[Seq[Float]].head()
    val a = Ann.queryPqAdc(encoded, model, "vec_id", q, 10, Seq(0L))
      .as[(Long, Double)].collect().toSeq
    val b = Ann.queryPqAdc(back, m2, "vec_id", q, 10, Seq(0L))
      .as[(Long, Double)].collect().toSeq
    assert(a == b)
  }

  test("readPq fails loudly on a missing or corrupt sidecar") {
    val dir = java.nio.file.Files.createTempDirectory(
      java.nio.file.Paths.get("/root/repo/target"), "pq-bad").toString
    emb.limit(1).select("vec_id").write.mode("overwrite").parquet(dir)
    intercept[IllegalArgumentException] { Ann.readPq(spark, dir) }
    java.nio.file.Files.write(java.nio.file.Paths.get(dir, "_pq_codebooks.txt"),
      "garbage header\n0 0 1.0".getBytes)
    intercept[IllegalArgumentException] { Ann.readPq(spark, dir) }
  }

  test("queryIvfPq: probing all cells equals plain PQ refine; fewer cells can only shrink") {
    val m8 = Ann.buildPqSeeded(emb, "vec_id", "embedding", 64, 8, 1L to 16L)
    val ivf = Ann.buildIvfSeeded(emb, "vec_id", "embedding", 0L until 4L)
    val encoded = Ann.pqEncode(ivf.assigned, "embedding", m8)
    val q = emb.filter(col("vec_id") === 0L).select("embedding").as[Seq[Float]].head()
    val all = Ann.queryIvfPq(encoded, ivf, m8, emb, "vec_id", "embedding",
        q, 10, nprobe = 4, fetchN = 50, space = "l2", excludeIds = Seq(0L))
      .select("vec_id").as[Long].collect().toSeq
    val plain = Ann.queryPqRefined(Ann.pqEncode(emb, "embedding", m8), emb, m8,
        "vec_id", "embedding", q, 10, fetchN = 50, space = "l2", excludeIds = Seq(0L))
      .select("vec_id").as[Long].collect().toSeq
    // nprobe = nlist: the cell filter admits everything, so IVFPQ must
    // reproduce the cell-less PQ pipeline exactly
    assert(all == plain)
    val pruned = Ann.queryIvfPq(encoded, ivf, m8, emb, "vec_id", "embedding",
        q, 10, nprobe = 1, fetchN = 50, space = "l2", excludeIds = Seq(0L))
      .select("vec_id").as[Long].collect().toSet
    assert(pruned.size <= 10)
  }

  test("residual PQ: seed rows encode to their own codes; refined recall at least matches raw IVFPQ") {
    val ivf = Ann.buildIvfSeeded(emb, "vec_id", "embedding", 0L until 8L)
    // PQ seeds disjoint from cell seeds: a cell seed's residual is the
    // zero vector (it IS its cell's centroid), which would degenerate the
    // codebook into ties resolved to the lowest zero code
    val rpq = Ann.buildPqResidualSeeded(ivf.assigned, "vec_id", "embedding",
      ivf.centroids, 64, 8, 10L to 25L)
    val enc = Ann.pqEncodeResidual(ivf.assigned, "embedding", ivf.centroids, rpq)
    // a seed's residual IS codebook entry (seed-10) in every subspace
    val seedCodes = enc.filter(col("vec_id") === 15L).select("codes").as[Seq[Int]].head()
    assert(seedCodes == Seq.fill(8)(5))
    val q = emb.filter(col("vec_id") === 0L).select("embedding").as[Seq[Float]].head()
    val exact = Knn.topK(emb, "vec_id", "embedding", q, 10, "l2",
        excludeIds = Seq(0L)).select("vec_id").as[Long].collect().toSet
    val res = Ann.queryIvfPq(enc, ivf, rpq, emb, "vec_id", "embedding",
        q, 10, nprobe = 8, fetchN = 50, space = "l2", excludeIds = Seq(0L))
      .select("vec_id").as[Long].collect().toSet
    // same layout/fetchN raw-PQ comparison point (q136 config, all cells probed)
    val rawPq = Ann.buildPqSeeded(emb, "vec_id", "embedding", 64, 8, 1L to 16L)
    val rawEnc = Ann.pqEncode(ivf.assigned, "embedding", rawPq)
    val raw = Ann.queryIvfPq(rawEnc, ivf, rawPq, emb, "vec_id", "embedding",
        q, 10, nprobe = 8, fetchN = 50, space = "l2", excludeIds = Seq(0L))
      .select("vec_id").as[Long].collect().toSet
    val (rRes, rRaw) = (res.intersect(exact).size, raw.intersect(exact).size)
    // residuals concentrate near zero, so the same ksub codes resolve
    // finer detail — Jegou's argument; on THIS corpus measured equal or
    // better, never worse by more than one hit (seed-sampled codebooks
    // are noisy at ksub=16)
    assert(rRes >= rRaw - 1, s"residual recall $rRes collapsed vs raw $rRaw")
    assert(rRes >= 6, s"residual refined recall too low: $rRes/10")
  }

  test("residual PQ query is deterministic and ADC is non-negative") {
    val ivf = Ann.buildIvfSeeded(emb, "vec_id", "embedding", 0L until 4L)
    val rpq = Ann.buildPqResidualSeeded(ivf.assigned, "vec_id", "embedding",
      ivf.centroids, 64, 8, 10L to 25L)
    val enc = Ann.pqEncodeResidual(ivf.assigned, "embedding", ivf.centroids, rpq).cache()
    val q = emb.filter(col("vec_id") === 3L).select("embedding").as[Seq[Float]].head()
    def run() = Ann.queryIvfPq(enc, ivf, rpq, emb, "vec_id", "embedding",
        q, 5, nprobe = 2, fetchN = 20).select("vec_id", "adc")
      .as[(Long, Double)].collect().toSeq
    val a = run(); val b = run()
    assert(a == b)
    assert(a.forall(_._2 >= 0.0))
    enc.unpersist()
  }

  /** The residual IVF-PQ read written out by hand, stage by stage: one
    * lookup table per probed cell over `q − centroid(cell)`, the row's
    * cell picking its table, an `(adc, id)` ordered shortlist of fetchN,
    * then the exact re-rank of the shortlist's raw vectors. */
  private def residualByHand(enc: org.apache.spark.sql.DataFrame, ivf: Ann.IvfModel,
                             rpq: Ann.PqModel, q: Seq[Float], k: Int, nprobe: Int,
                             fetchN: Int, exclude: Long): Seq[(Long, Double, Double)] = {
    import org.apache.spark.sql.types.DecimalType
    val cells = Ann.nearestCells(ivf, q, nprobe).sorted
    val cents = ivf.centroids.toMap
    def adc(cell: Int) = {
      val lut = Ann.pqLutD(rpq, q.indices.map(j => q(j).toDouble - cents(cell)(j)))
      (0 until rpq.m).map { s =>
        round(element_at(typedLit(lut(s).toSeq), col("codes").getItem(s) + 1), 6)
          .cast(DecimalType(18, 6))
      }.reduce(_ + _).cast(DecimalType(18, 6)).cast("double")
    }
    val adcCol = cells.tail.foldLeft(when(col("cell") === cells.head, adc(cells.head))) {
      (acc, c) => acc.when(col("cell") === c, adc(c))
    }
    val shortlist = enc.filter(col("cell").isin(cells: _*) && col("vec_id") =!= exclude)
      .select(col("vec_id"), adcCol.as("adc")).orderBy(col("adc"), col("vec_id")).limit(fetchN)
    emb.select("vec_id", "embedding").join(broadcast(shortlist), Seq("vec_id"))
      .select(col("vec_id"), col("adc"),
        graft.functions.Distances.l2Sq(col("embedding"), typedLit(q)).as("d"))
      .orderBy(col("d"), col("vec_id")).limit(k)
      .select(col("vec_id"), graft.functions.Distances.roundz(col("adc"), 4),
        graft.functions.Distances.roundz(col("d"), 4))
      .as[(Long, Double, Double)].collect().toSeq
  }

  test("queryIvfPq reads a residual model through its per-cell tables") {
    val ivf = Ann.buildIvfSeeded(emb, "vec_id", "embedding", 0L until 8L)
    val rpq = Ann.buildPqResidualSeeded(ivf.assigned, "vec_id", "embedding",
      ivf.centroids, 64, 8, 10L to 25L)
    val enc = Ann.pqEncodeResidual(ivf.assigned, "embedding", ivf.centroids, rpq).cache()
    for (qid <- Seq(0L, 3L); nprobe <- Seq(2, 8)) {
      val q = emb.filter(col("vec_id") === qid).select("embedding").as[Seq[Float]].head()
      val got = Ann.queryIvfPq(enc, ivf, rpq, emb, "vec_id", "embedding",
          q, 10, nprobe = nprobe, fetchN = 50, space = "l2", excludeIds = Seq(qid))
        .as[(Long, Double, Double)].collect().toSeq
      assert(got == residualByHand(enc, ivf, rpq, q, 10, nprobe, 50, qid),
        s"query $qid nprobe $nprobe")
    }
    enc.unpersist()
  }

  test("the PQ reads without centroids reject a residual model, naming queryIvfPq") {
    val ivf = Ann.buildIvfSeeded(emb, "vec_id", "embedding", 0L until 4L)
    val rpq = Ann.buildPqResidualSeeded(ivf.assigned, "vec_id", "embedding",
      ivf.centroids, 64, 8, 10L to 25L)
    val enc = Ann.pqEncodeResidual(ivf.assigned, "embedding", ivf.centroids, rpq)
    val q = Seq.fill(64)(0.5f)
    for (read <- Seq[() => Any](
        () => Ann.queryPqAdc(enc, rpq, "vec_id", q, 10),
        () => Ann.queryPqRefined(enc, emb, rpq, "vec_id", "embedding", q, 10, 50))) {
      val e = intercept[IllegalArgumentException](read())
      assert(e.getMessage.contains("queryIvfPq"), e.getMessage)
    }
  }

  test("size-aware PQ dials: integer-exact, clamped, monotone in n") {
    // floors
    assert(Ann.pqKsubFor(1) == 16)
    assert(Ann.pqKsubFor(128) == 16)
    assert(Ann.pqFetchNFor(0, 10) == 40)
    assert(Ann.pqFetchNFor(100, 10) == 40)
    // the linear band: truncating division, no float ratio
    assert(Ann.pqKsubFor(500) == 62)
    assert(Ann.pqKsubFor(2048) == 256)
    assert(Ann.pqFetchNFor(500, 10) == 125)
    assert(Ann.pqFetchNFor(5000, 10) == 1250)
    // ceilings: one-byte codes; broadcast-bounded shortlists
    assert(Ann.pqKsubFor(1000000000L) == 256)
    assert(Ann.pqFetchNFor(1000000000L, 10) == Ann.MaxFetchN)
    // monotone non-decreasing across the band edges
    val ns = Seq(1L, 100L, 128L, 129L, 500L, 2047L, 2048L, 1L << 20)
    assert(ns.map(Ann.pqKsubFor) == ns.map(Ann.pqKsubFor).sorted)
    assert(ns.map(Ann.pqFetchNFor(_, 10)) == ns.map(Ann.pqFetchNFor(_, 10)).sorted)
    intercept[IllegalArgumentException](Ann.pqKsubFor(0))
    intercept[IllegalArgumentException](Ann.pqFetchNFor(10, 0))
  }
}
