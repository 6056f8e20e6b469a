package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Observation}
import org.apache.spark.sql.functions._

import graft.expressions.GraftExtensions
import graft.functions.Distances

/** Deduplication operators for large-scale training-data pipelines.
  *
  * The hydrated collection's `add()` already rejects duplicate ids
  * (Chroma semantics, reference sas:177-190); these operators extend that to
  * CONTENT duplication — exact text, near-duplicate text (MinHash/SimHash/
  * n-gram Jaccard) and near-duplicate embeddings — the standard LLM
  * training-data cleaning stack.
  *
  * Scale notes (100 TB):
  *  - Exact dedup is one hash-shuffle on the dedup key; keep-min-id uses a
  *    map-side-combinable `min` agg, not a window (no per-group sort).
  *  - MinHash/SimHash signatures are computed map-side (narrow); candidate
  *    generation joins on band keys / hamming blocks so the cross-product is
  *    confined to same-bucket pairs — never an O(n²) global cross join.
  *  - All hashes use Spark's codegen'd xxhash64 — no UDFs.
  */
object Dedup {

  /** Exact dedup on `keyCols`, keeping the row with min `idCol` per group.
    * Implemented as min-id agg + semi-join back (map-side combinable),
    * avoiding a window sort over every group.
    */
  def exactDedup(df: DataFrame, keyCols: Seq[String], idCol: String): DataFrame = {
    val keep = df.groupBy(keyCols.map(col): _*).agg(min(col(idCol)).as(idCol))
    // null-SAFE key equality (<=>): groupBy puts null keys in one group, and
    // a null-unsafe semi-join would then drop that whole group (its min-id
    // row included) — silent data loss, not dedup.
    val l = df.alias("l"); val r = keep.alias("r")
    val cond = keyCols.map(c => col(s"l.$c") <=> col(s"r.$c"))
      .reduce(_ && _) && col(s"l.$idCol") === col(s"r.$idCol")
    l.join(r, cond, "left_semi")
  }

  /** Word-level shingles (n-grams) of a text column, as ARRAY<STRING>.
    * Compiled single-call form ([[graft.expressions.StrShingles]]) —
    * values identical to [[wordShinglesHof]], which pays ~one interpreted
    * lambda per shingle and dominated the signature pass at corpus scale. */
  def wordShingles(textCol: Column, n: Int): Column = {
    import org.apache.spark.sql.GraftColumnShim
    GraftColumnShim.column(graft.expressions.StrShingles(
      GraftColumnShim.expression(textCol), n))
  }

  /** Expression-tree form of [[wordShingles]], kept as the cross-check
    * reference for the compiled implementation. */
  def wordShinglesHof(textCol: Column, n: Int): Column = {
    val tokens = split(textCol, "\\s+")
    val idx = sequence(lit(0), greatest(size(tokens) - n, lit(0)))
    when(size(tokens) < n, array(array_join(tokens, " ")))
      .otherwise(transform(idx, i => array_join(slice(tokens, i + 1, lit(n)), " ")))
  }

  // p = 2^31−1 (Mersenne prime) keeps a·h+b < 2^62 — no long overflow
  // under ANSI arithmetic while still giving a 31-bit hash space.
  private val MinHashP = 2147483647L
  // LCG-derived permutation constants, fixed and deterministic.
  private def permA(i: Int): Long = ((i * 1103515245L + 12345L) % (MinHashP - 1)) + 1
  private def permB(i: Int): Long = (i * 69069L + 362437L) % MinHashP

  /** Default token/shingle hash: codegen'd xxhash64 (fast, good avalanche,
    * engine-specific). Swap in [[portableHash]] when the pipeline must be
    * verifiable bit-for-bit against a non-Spark oracle. */
  val xxHash: Column => Column = c => xxhash64(c)

  /** Engine-portable hash ([[graft.expressions.StrHash]]): same value is
    * computable in plain SQL on any engine — the oracle-checked choice. */
  val portableHash: Column => Column = c => GraftExtensions.strHash(c)

  /** MinHash signature as a single array Column: for each of `numHashes`
    * permutations i, min over shingles s of (a_i·xxhash64(s)+b_i) mod p.
    * Lambda-expression form — convenient but interpreted (no codegen); for
    * bulk signing prefer [[minHashSignatures]], which produces identical
    * values through whole-stage-codegen'd aggregation.
    */
  def minHashSignature(shingles: Column, numHashes: Int,
      hashFn: Column => Column = xxHash): Column = {
    val hashed = transform(shingles, s => pmod(hashFn(s), lit(MinHashP)))
    val perms = sequence(lit(0), lit(numHashes - 1))
    transform(perms, i => {
      val a = pmod(i * lit(1103515245L) + lit(12345L), lit(MinHashP - 1)) + 1
      val b = pmod(i * lit(69069L) + lit(362437L), lit(MinHashP))
      array_min(transform(hashed, h => pmod(a * h + b, lit(MinHashP))))
    })
  }

  /** Bulk MinHash signing, relational form: explode shingles to rows, hash
    * with codegen'd xxhash64, take `numHashes` map-side-combinable `min`
    * aggregations. Same values as [[minHashSignature]], but the whole plan
    * stays in whole-stage codegen and the only shuffle is the partial-agg
    * combine on `id` — the shape that survives a 100 TB corpus (no giant
    * per-row arrays, no interpreted lambdas on the hot path).
    *
    * @return (id, sig ARRAY<BIGINT>[numHashes])
    */
  def minHashSignatures(
      df: DataFrame, idCol: String, textCol: String,
      shingleSize: Int, numHashes: Int,
      hashFn: Column => Column = xxHash): DataFrame =
    minHashSignaturesOver(
      df.select(col(idCol).as("id"), wordShingles(col(textCol), shingleSize).as("shingles")),
      numHashes, hashFn)

  /** [[minHashSignatures]] over a pre-shingled `(id, shingles)` frame. */
  def minHashSignaturesOver(
      shingled: DataFrame, numHashes: Int,
      hashFn: Column => Column = xxHash): DataFrame = {
    val hashed = shingled.select(col("id"), explode(col("shingles")).as("sh"))
      .withColumn("h", pmod(hashFn(col("sh")), lit(MinHashP)))
    val minCols = (0 until numHashes).map { i =>
      min(pmod(lit(permA(i)) * col("h") + lit(permB(i)), lit(MinHashP))).as(s"m$i")
    }
    hashed.groupBy("id").agg(minCols.head, minCols.tail: _*)
      .select(col("id"), array((0 until numHashes).map(i => col(s"m$i")): _*).as("sig"))
  }

  /** MinHash+LSH near-dup candidate pairs: signatures banded into
    * `numBands`; docs sharing any band bucket become a candidate pair
    * (idA < idB). Verification (true Jaccard) is the caller's second stage.
    */
  def minHashCandidates(
      df: DataFrame, idCol: String, textCol: String,
      shingleSize: Int = 3, numHashes: Int = 16, numBands: Int = 4,
      maxBucketSize: Int = 1000, hashFn: Column => Column = xxHash,
      dropObs: Option[Observation] = None): DataFrame =
    minHashCandidatesOver(
      df.select(col(idCol).as("id"), wordShingles(col(textCol), shingleSize).as("shingles")),
      numHashes, numBands, maxBucketSize, hashFn, dropObs)

  /** [[minHashCandidates]] over a pre-shingled `(id, shingles)` frame —
    * lets a caller that also needs the shingle sets downstream (e.g.
    * [[nearDedup]]'s Jaccard verification) shingle the corpus ONCE.
    * MinHash is duplicate-invariant (`min` over hashes), so distinct or
    * raw shingle arrays give identical signatures.
    *
    * No silent caps: pass `dropObs` to observe `excluded_rows` — the total
    * bucket-membership mass the `maxBucketSize` guard drops (a doc counts
    * once per oversized band bucket it lands in); rides the bucket
    * aggregate's own materialization, no extra pass. Same caveat as
    * [[embeddingNearDupLsh]]'s dropObs: a missing key means the observed
    * subtree was pruned with an empty result (indeterminate) — audit with
    * [[minHashExcludedRows]], never assume zero. */
  def minHashCandidatesOver(
      shingled: DataFrame, numHashes: Int, numBands: Int,
      maxBucketSize: Int, hashFn: Column => Column,
      dropObs: Option[Observation] = None): DataFrame = {
    val bands = bandKeyRows(shingled, numHashes, numBands, hashFn)
    // One signature pass + ONE shuffle (groupBy band key), then pair
    // expansion inside each bucket — never a self-join (which would
    // recompute the whole signature pipeline for both sides) and never a
    // global cross product. maxBucketSize guards a hot bucket going
    // quadratic.
    val grouped = bands.groupBy("band", "rows").agg(collect_list(col("id")).as("ids"))
    val groupedObs = dropObs.map(o => grouped.observe(o,
      sum(when(size(col("ids")) > maxBucketSize, size(col("ids")).cast("long"))
        .otherwise(0L)).as("excluded_rows"))).getOrElse(grouped)
    val buckets = groupedObs.filter(size(col("ids")).between(2, maxBucketSize))
    val sorted = sort_array(col("ids"))
    buckets.select(explode(flatten(transform(sorted, (x, i) =>
        transform(slice(sorted, i + 2, size(sorted)), y =>
          struct(x.as("a"), y.as("b")))))).as("p"))
      .select(col("p.a").as("id_a"), col("p.b").as("id_b")).distinct()
  }

  /** SimHash (64-bit): sign-sum of per-token hash bits weighted +1/−1.
    * bit_j(doc) = 1 iff Σ_tokens sign(bit_j(xxhash64(token))) > 0.
    */
  def simHash(tokens: Column): Column = {
    val hashed = transform(tokens, t => xxhash64(t))
    val bits = sequence(lit(0), lit(63))
    val bitSums = transform(bits, j =>
      aggregate(hashed, lit(0),
        (s, h) => s + when(call_function("bit_get", h, j) === 1, 1).otherwise(-1)))
    aggregate(
      zip_with(bitSums, bits, (s, j) =>
        when(s > 0, call_function("shiftleft", lit(1L), j)).otherwise(lit(0L))),
      lit(0L), (acc, x) => acc.bitwiseOR(x))
  }

  /** Hamming distance between two 64-bit SimHash values. */
  def hammingDist64(a: Column, b: Column): Column =
    bit_count(a.bitwiseXOR(b))

  /** Per-bit sign term of bit `j` of SimHash, derived from a 31-bit token
    * hash `h` by the fixed LCG permutation family: bit j of token =
    * whether `(a_j·h+b_j) mod p` lands in the upper half of [0, p). */
  private def simHashBitTerm(h: Column, j: Int): Column =
    when(pmod(lit(permA(j)) * h + lit(permB(j)), lit(MinHashP)) * 2 >= MinHashP,
      lit(1)).otherwise(lit(-1))

  /** Bulk SimHash, relational + engine-portable form: explode tokens, hash
    * each with [[portableHash]] (mod p), derive 64 pseudo-random bits per
    * token from the `(a_j·h+b_j) mod p` permutation family, and take 64
    * map-side-combinable conditional SUMs per document — the same
    * one-pass-codegen shape as the language-ID and fingerprint operators.
    * bit_j(doc) = 1 iff Σ_tokens (±1 per token) > 0.
    *
    * Unlike [[simHash]] (xxhash64 + interpreted lambdas), every value here
    * is reproducible in plain SQL on any engine, and the plan is
    * whole-stage-codegen end to end: the only shuffle is the partial-agg
    * combine on `id`.
    *
    * @return (id, simhash BIGINT) — bit 63 maps to Long.MinValue.
    */
  def simHashes(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val tokens = df.select(col(idCol).as("id"),
      explode(split(col(textCol), "\\s+")).as("tk"))
    val hashed = tokens.withColumn("h", pmod(portableHash(col("tk")), lit(MinHashP)))
    val sums = (0 until 64).map(j => sum(simHashBitTerm(col("h"), j)).as(s"s$j"))
    val bitVals = (0 until 64).map(j =>
      // distinct powers of two: SUM of terms == bitwise OR; bit 63 is the
      // sign bit, representable only as Long.MinValue
      when(col(s"s$j") > 0, lit(if (j == 63) Long.MinValue else 1L << j))
        .otherwise(lit(0L)))
    hashed.groupBy("id").agg(sums.head, sums.tail: _*)
      .select(col("id"), bitVals.reduce(_ + _).as("simhash"))
  }

  /** n-gram Jaccard similarity between two token-array columns. */
  def jaccard(a: Column, b: Column): Column =
    jaccardOfSets(array_distinct(a), array_distinct(b))

  /** [[jaccard]] over arrays already known to be duplicate-free — skips
    * the per-comparison array_distinct (pays off when one stored set is
    * compared against many candidates). */
  def jaccardOfSets(ad: Column, bd: Column): Column = {
    val inter = size(array_intersect(ad, bd)).cast("double")
    inter / (size(ad) + size(bd) - inter)
  }

  /** End-to-end near-duplicate REMOVAL: MinHash+LSH candidate pairs →
    * true shingle-set Jaccard verification → drop the higher id of each
    * verified pair (greedy "keep first" policy — the standard large-scale
    * approximation; a transitive chain a~b~c loses both b and c even if
    * a≁c directly, which is the conservative direction for training-data
    * cleaning). Cost shape: one signature pass + bucket join + a
    * candidates-only verify join — never an O(n²) similarity matrix.
    */
  def nearDedup(
      df: DataFrame, idCol: String, textCol: String, minJaccard: Double,
      shingleSize: Int = 3, numHashes: Int = 16, numBands: Int = 8,
      maxBucketSize: Int = 1000, hashFn: Column => Column = xxHash): DataFrame = {
    // EXACT pre-collapse (r5, caught by the sf10 scale audit): verbatim
    // copies are trivially near-dups — identical shingle sets share every
    // band bucket and verify at Jaccard 1 — so they must never reach the
    // signature pipeline: a corpus that is mostly copies (the web-crawl
    // reality, and the 100× replica's construction) otherwise pays
    // C(copies, 2) candidate pairs PER GROUP. Each text group collapses
    // to its min id first; the representative carries the group through
    // LSH, the other members drop unconditionally — exactly the rows the
    // uncollapsed pipeline drops, at linear instead of quadratic cost
    // (sf10: q54 134 s → linear in the unique-text count). Shingling also
    // now runs once per UNIQUE text. With a bucket cap the collapsed form
    // is strictly better: copies can no longer overflow a bucket and
    // silently suppress their own drops. Null-text rows never shingle, so
    // they bypass collapse and survive, as before. The text-keyed shuffle
    // is one exact-dedup pass; at real scale key it by a 128-bit content
    // hash instead of the raw text (kept raw here for oracle replay).
    val keyed = df.select(col(idCol).as("id"), col(textCol).as("__txt"))
    val reps = keyed.filter(col("__txt").isNotNull)
      .groupBy("__txt").agg(min(col("id")).as("id"))
    val sets = reps.select(col("id"),
      array_distinct(wordShingles(col("__txt"), shingleSize)).as("shingles"))
    val cand = minHashCandidatesOver(sets, numHashes, numBands, maxBucketSize, hashFn)
    val verified = cand
      .join(sets.select(col("id").as("id_a"), col("shingles").as("__sha")), Seq("id_a"))
      .join(sets.select(col("id").as("id_b"), col("shingles").as("__shb")), Seq("id_b"))
      .filter(jaccardOfSets(col("__sha"), col("__shb")) >= minJaccard)
    val nonReps = keyed.filter(col("__txt").isNotNull)
      .join(reps.select(col("__txt"), col("id").as("__rid")), Seq("__txt"))
      .filter(col("id") =!= col("__rid")).select(col("id"))
    val dropped = verified.select(col("id_b").as("id")).unionByName(nonReps)
      .distinct().select(col("id").as(idCol))
    df.join(dropped, Seq(idCol), "left_anti")
  }

  /** Transitive near-duplicate CLUSTERS from a verified pair list:
    * connected components by iterative min-label propagation. Near-dup
    * pairs are not transitive facts — a∼b and b∼c usually means a, b, c
    * are all one boilerplate family — so cluster-level dedup (keep one doc
    * per component) is the policy most pipelines actually want;
    * [[nearDedup]]'s greedy pairwise drop is its one-pass approximation.
    *
    * 100 TB shape: the pair list is LSH-confined (tiny vs the corpus), and
    * each round is ONE hash join + min-aggregate over it, converging in
    * O(component diameter) rounds — boilerplate families are dense, so
    * real diameters are small. `localCheckpoint` truncates the growing
    * lineage each round (the classic iterative-algorithm failure mode:
    * round N replans rounds 1..N-1). Scale note: localCheckpoint stores
    * blocks on executors with NO lineage to recompute them — on a real
    * cluster a lost executor kills the job mid-iteration; there, swap in
    * reliable `checkpoint()` (HDFS/object-store backed) at the same call
    * site. Throws if `maxIter` rounds don't
    * converge — a silently-partial clustering would merge nothing loudly.
    *
    * Output: (id, cluster) for every id appearing in `pairs`, cluster =
    * the component's minimum id (deterministic canonical representative).
    */
  def dupClusters(pairs: DataFrame, idACol: String, idBCol: String,
                  maxIter: Int = 50, checkpointDir: Option[String] = None): DataFrame = {
    // Per-round lineage truncation is mandatory (the iterative plan would
    // otherwise grow without bound). The default localCheckpoint stores
    // blocks on executors — cheapest, but on a real cluster a lost
    // executor kills the job mid-iteration (no lineage left to
    // recompute). Pass `checkpointDir` (an HDFS/S3/shared path; set as
    // the session's checkpoint dir) to switch every round to RELIABLE
    // checkpoints that survive executor loss — the right trade at 100 TB,
    // where a long connected-components job WILL see failures.
    checkpointDir.foreach(pairs.sparkSession.sparkContext.setCheckpointDir)
    // Reliable mode persists BEFORE checkpointing: the eager checkpoint
    // runs one job to compute the round (populating the cache) and a
    // second to write the files — without the cache that second job
    // recomputes the whole round lineage. The cache drops as soon as the
    // checkpoint is materialized. Checkpoint files accumulate under
    // `checkpointDir` for the run's duration (the returned frame reads
    // the last one); the caller owns the directory's cleanup after
    // consuming the result — standard Spark reliable-checkpoint hygiene.
    def truncate(df: DataFrame): DataFrame =
      if (checkpointDir.isEmpty) df.localCheckpoint()
      else {
        val cached = df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val ck = cached.checkpoint()
        cached.unpersist()
        ck
      }
    // undirected edge list, both directions. No distinct: a duplicated
    // input pair only duplicates rows INTO the min-aggregate, it cannot
    // change the min — one shuffle saved per build.
    val e = truncate(pairs.select(col(idACol).as("s"), col(idBCol).as("t"))
      .union(pairs.select(col(idBCol).as("s"), col(idACol).as("t"))))
    // the seed derives from the already-checkpointed edge list by one
    // distinct — folding it into round 1's job saves the eager
    // materialization job a per-seed truncate() would run (the round-1
    // checkpoint truncates its lineage anyway)
    var labels = e.select(col("s").as("id")).distinct().withColumn("lbl", col("id"))
    var iter = 0
    var changed = 1L
    // only read on non-convergence AFTER at least one round (maxIter<=0
    // errors on its own, never through this sentinel seed)
    var lastStep: DataFrame = labels.withColumn("nlbl", col("lbl"))
    // One propagation STEP as a pure frame transform: labels(id,lbl) →
    // (id, lbl = previous label, nlbl = stepped label), with the step's
    // changed-row count attached as an observe() metric. `stepIdx` picks
    // the pointer-jumping variant (see the loop comment below).
    def step(lbls: DataFrame, stepIdx: Int,
             obs: org.apache.spark.sql.Observation): DataFrame = {
      // gather-min from neighbors; one join + one combiner-friendly
      // min-aggregate per step. Pointer jumping (label ← label's label,
      // O(log diameter) rounds) measured SLOWER as an every-round step —
      // near-dup components are dense and shallow, so the extra self-join
      // outweighs the saved rounds — but still-converging after 8 rounds
      // means a genuinely long chain is present, and from there the jump
      // turns the remaining O(diameter) rounds into O(log diameter):
      // dense graphs never pay for it, chains cannot exhaust maxIter.
      //
      // FUSED round (one join + ONE aggregate): the id's own label row
      // unions the gathered neighbor labels, so min(cand) over the group
      // IS least(lbl, min neighbor) — including the no-neighbor case (the
      // self row alone) — and max over the single self-tagged row
      // re-attaches the previous label without a second join that would
      // shuffle `labels` again every round. Exactly equivalent: min over
      // {lbl} ∪ {neighbor labels} = least(lbl, coalesce(nmin, lbl)).
      val gathered = e
        .join(lbls.select(col("id").as("t"), col("lbl").as("cand")), Seq("t"))
        .select(col("s").as("id"), col("cand"), lit(false).as("self"))
      val selfRows = lbls.select(col("id"), col("lbl").as("cand"), lit(true).as("self"))
      val prop = gathered.unionByName(selfRows)
        .groupBy("id")
        .agg(max(when(col("self"), col("cand"))).as("lbl"),
          min(col("cand")).as("plbl"))
        .select(col("id"), col("lbl"), col("plbl"))
      val stepped =
        if (stepIdx < 8) prop.select(col("id"), col("lbl"), col("plbl").as("nlbl"))
        else prop
          .join(prop.select(col("id").as("plbl"), col("plbl").as("jlbl")), Seq("plbl"), "left")
          .select(col("id"), col("lbl"),
            least(col("plbl"), coalesce(col("jlbl"), col("plbl"))).as("nlbl"))
      stepped.observe(obs, sum(when(col("nlbl") < col("lbl"), 1L).otherwise(0L)).as("chg"))
    }
    // fail CLOSED: only an empty edge set (sum over zero rows = null)
    // may read as "converged" — a missing or mistyped metric would
    // otherwise return wrong clusters as premature convergence
    def chgOf(obs: org.apache.spark.sql.Observation): Long =
      obs.get.get("chg") match {
        case Some(l: java.lang.Long) => l.longValue()
        case Some(null) => 0L
        case other => throw new IllegalStateException(
          s"convergence metric missing or mistyped: $other")
      }
    // TWO steps per materialized job:
    // each job pays a checkpoint write of the label table plus per-job
    // scheduling; composing two exact propagation steps into one plan
    // halves both — same joins, half the barriers — and stays exact
    // because a step is a pure labels→labels function (the composed job
    // IS two sequential rounds). Both steps' changed-counts ride the one
    // materialization as separate observe() metrics; the loop exits on
    // the LAST step's count, identical to stepping singly (a job whose
    // first step already converged runs one identity second step —
    // harmless, and only possible in the job that detects convergence).
    // An odd maxIter ends on a single-step job.
    while (changed > 0 && iter < maxIter) {
      val nSteps = math.min(2, maxIter - iter)
      val obs1 = org.apache.spark.sql.Observation()
      val s1 = step(labels, iter, obs1)
      val (stepped, lastObs) =
        if (nSteps == 2) {
          val obs2 = org.apache.spark.sql.Observation()
          val s2 = step(s1.select(col("id"), col("nlbl").as("lbl")), iter + 1, obs2)
          (s2, obs2)
        } else (s1, obs1)
      // the changed-row count rides the checkpoint's own materialization
      // as an observe() metric — one job per round, not a count job plus
      // a checkpoint job
      val next = truncate(stepped)
      changed = chgOf(lastObs)
      labels = next.select(col("id"), col("nlbl").as("lbl"))
      lastStep = next
      iter += nSteps
    }
    if (changed != 0) {
      // degenerate budget: no round ever ran, so the pre-seeded sentinel
      // frame carries no real movement — '1 labels still moving' with an
      // empty sample would misreport; name the actual problem instead
      if (iter == 0) throw new IllegalArgumentException(
        s"dupClusters needs maxIter >= 1 to run even one propagation round, got $maxIter")
      // LOUD and actionable: name a bounded sample of the ids whose labels
      // were still moving — the caller can inspect exactly which chain is
      // longer than the round budget instead of guessing (r12 VERDICT #8)
      val moving = lastStep.filter(col("nlbl") < col("lbl"))
        .select(col("id")).limit(20).collect().map(_.get(0)).mkString(", ")
      throw new IllegalStateException(
        s"dupClusters did not converge in $maxIter rounds ($changed labels " +
          s"still moving; sample ids: $moving) — with pointer jumping active " +
          "from round 8 this means a component of diameter >> 2^(maxIter-8): " +
          "raise maxIter, or inspect whether the pair list accidentally " +
          "chains the whole corpus (an LSH band too coarse)")
    }
    labels.select(col("id"), col("lbl").as("cluster"))
  }

  /** Pick the kept document per duplicate cluster — the step that turns
    * [[dupClusters]]'s labels into a dedup DECISION: of each cluster keep
    * the highest-quality member (ties broken by smallest id, so the pick
    * is deterministic under any partitioning). `members` is (id, cluster)
    * as dupClusters emits; `scored` maps ids to a quality score (any
    * orderable double — composite quality, length, recency).
    *
    * The argmax is a single max over (score, −id) structs — lexicographic
    * struct ordering IS the tie rule, so one combiner-friendly aggregate
    * replaces the window-rank idiom (which would sort every cluster's
    * members; at 100 TB the boilerplate cluster with 10⁷ members makes
    * that sort the job). Members missing from `scored` stay in the count
    * but score −∞ — they can be kept only if the whole cluster is
    * unscored, never silently dropped.
    *
    * Output: (cluster, n_members, rep_id, rep_score).
    */
  def clusterRepresentatives(
      members: DataFrame, idCol: String, clusterCol: String,
      scored: DataFrame, scoredIdCol: String, scoreCol: String): DataFrame = {
    val m = members.select(col(idCol).cast("long").as("__id"),
      col(clusterCol).cast("long").as("cluster"))
    val sc = scored.select(col(scoredIdCol).cast("long").as("__sid"),
      col(scoreCol).cast("double").as("__score"))
    m.join(sc, m("__id") === sc("__sid"), "left")
      .select(col("cluster"), col("__id"),
        coalesce(col("__score"), lit(Double.NegativeInfinity)).as("__score"))
      .groupBy("cluster")
      .agg(count(lit(1)).as("n_members"),
        max(struct(col("__score").as("s"), (-col("__id")).as("i"))).as("__best"))
      .select(col("cluster"), col("n_members"),
        (-col("__best").getField("i")).as("rep_id"),
        col("__best").getField("s").as("rep_score"))
  }

  /** Corpus-level line dedup (the CCNet paragraph-dedup shape, Wenzek et
    * al. 2020): across the WHOLE corpus, keep only the first occurrence of
    * every distinct line — first = smallest (id, line-index) — and rebuild
    * each document from its surviving lines. The standard kill for
    * navigation chrome, cookie banners and boilerplate headers that
    * repeat across millions of pages.
    *
    * Scale shape: lines reduce map-side to fixed-width keys — (h1, h2) =
    * `hash` of the line and of its reverse — so the dedup exchange
    * carries ~24-byte long tuples, never line strings; the keeper per key
    * IS the group's min (id, idx) struct, so there is no join back; the
    * per-doc index list re-aggregates on the id (longs again); and
    * [[graft.expressions.LinesAt]] rebuilds the text at scan time from
    * the original document joined on id. Line text never crosses an
    * exchange. (The q83 lesson applied corpus-wide: mostly-unique keys
    * defeat partial aggregation, so what the exchange CARRIES is the
    * whole cost — ship longs, not strings.)
    *
    * `hash` defaults to the engine-portable spread hash so the full chain
    * oracles; its ~30-bit range pairs to ~60 bits here, which collides
    * eventually — at real corpus scale pass `xxhash64(_)` (the collision
    * note on [[graft.expressions.StrHash]]).
    *
    * Output: (idCol, n_lines, n_kept, cleaned) — `cleaned` keeps document
    * line order; a doc whose every line occurred earlier elsewhere comes
    * back empty, never null.
    */
  def dedupLinesAcrossCorpus(df: DataFrame, idCol: String, textCol: String,
      hash: Column => Column = graft.operators.Mixture.spreadHash): DataFrame = {
    import org.apache.spark.sql.GraftColumnShim
    val lines = df.select(col(idCol).cast("long").as("__id"),
        posexplode(split(col(textCol), "\n")).as(Seq("__idx", "__line")))
      .select(col("__id"), col("__idx"),
        hash(col("__line")).as("__h1"), hash(reverse(col("__line"))).as("__h2"))
    val keepers = lines.groupBy("__h1", "__h2")
      .agg(min(struct(col("__id"), col("__idx"))).as("__keep"))
      .select(col("__keep.__id").as("__id"), col("__keep.__idx").as("__idx"))
    val perDoc = keepers.groupBy("__id")
      .agg(sort_array(collect_list(col("__idx"))).as("__idxs"),
        count(lit(1)).as("n_kept"))
    val joined = df.join(perDoc, df(idCol).cast("long") === perDoc("__id"), "left")
    val cleaned = GraftColumnShim.column(graft.expressions.LinesAt(
      GraftColumnShim.expression(col(textCol)),
      GraftColumnShim.expression(coalesce(col("__idxs"),
        array().cast("array<int>")))))
    joined.select(col(idCol),
      size(split(col(textCol), "\n")).cast("long").as("n_lines"),
      coalesce(col("n_kept"), lit(0L)).as("n_kept"),
      cleaned.as("cleaned"))
  }

  /** Duplicate-passage detection — the substring-level dedup signal of
    * "Deduplicating Training Data Makes Language Models Better" (Lee et
    * al., 2022), relationalized: slide an n-token window over every
    * document, count how many DISTINCT documents contain each passage,
    * and report per document how many of its distinct passages recur
    * elsewhere (plus the widest spread). Docs with a high duplicated-
    * passage share are boilerplate/mirror candidates that doc-level
    * near-dedup misses.
    *
    * 100 TB shape: one compiled shingle pass ([[wordShingles]]), then two
    * hash-partitioned aggregates (by passage, then by doc) and a
    * passage-keyed join whose right side holds only passages that
    * actually recur — no suffix array, no driver state, no O(n²) stage.
    * Skew guard: a passage's posting count is capped by `countDistinct`,
    * not a collected list, so a boilerplate passage shared by millions of
    * docs costs one combiner-friendly count, never a hot-key list build. */
  def duplicatePassages(
      df: DataFrame, idCol: String, textCol: String,
      n: Int = 5, minDocs: Int = 2): DataFrame = {
    require(minDocs >= 2, s"minDocs must be >= 2, got $minDocs")
    val sh = df.select(col(idCol).as("id"),
      explode(array_distinct(wordShingles(col(textCol), n))).as("passage"))
    // (id, passage) pairs are unique after the per-doc array_distinct, so a
    // plain count IS the distinct-doc count — no distinct-agg expand phase
    val recurring = sh.groupBy("passage")
      .agg(count(lit(1)).as("n_docs"))
      .filter(col("n_docs") >= minDocs)
    sh.join(recurring, Seq("passage"))
      .groupBy("id")
      .agg(count(lit(1)).as("n_dup_passages"), max(col("n_docs")).as("max_spread"))
  }

  /** Benchmark decontamination: corpus documents sharing ANY word n-gram
    * with an eval/benchmark set — the standard leakage check a training
    * pipeline runs before a corpus ships (n=8..13 word-gram overlap is the
    * usual published criterion).
    *
    * 100 TB shape: the eval side is tiny next to a training corpus, so its
    * distinct shingle set BROADCASTS; the corpus pays ONE compiled shingle
    * pass ([[wordShingles]]) and a map-side broadcast semi-join — corpus
    * rows never shuffle; only the matched-id distinct (bounded by the
    * contamination count, not the corpus) exchanges at the end. */
  def contaminated(corpus: DataFrame, idCol: String, textCol: String,
                   evalSet: DataFrame, evalTextCol: String, n: Int = 8): DataFrame = {
    val cs = corpus.select(col(idCol).as("id"),
      explode(wordShingles(col(textCol), n)).as("sh"))
    val es = evalSet
      .select(explode(wordShingles(col(evalTextCol), n)).as("sh")).distinct()
    cs.join(broadcast(es), Seq("sh"), "left_semi").select("id").distinct()
  }

  /** VERIFY PRIMITIVE ONLY — all-pairs embedding-cosine similarity over an
    * already-bounded candidate set (a sample, or one LSH bucket's rows).
    * The join is O(n²) in its input; the scale path for whole-corpus
    * embedding near-dup is [[embeddingNearDupLsh]], which feeds THIS shape
    * nothing bigger than a bucket. */
  def embeddingNearDup(
      df: DataFrame, idCol: String, vecCol: String, minSim: Double): DataFrame = {
    val a = df.select(col(idCol).as("id_a"), col(vecCol).as("va"))
    val b = df.select(col(idCol).as("id_b"), col(vecCol).as("vb"))
    a.join(b, col("id_a") < col("id_b"))
      .withColumn("sim", Distances.cosineSim(col("va"), col("vb")))
      .filter(col("sim") >= minSim)
      .select("id_a", "id_b", "sim")
  }

  /** Bucket-width sizing for the SRP LSH paths: the smallest nBits that
    * keeps EXPECTED bucket occupancy ≤ `targetBucket` under a uniform
    * spread — ceil(log2(n / targetBucket)), floored at 1.
    *
    * Within-bucket pair work grows with occupancy², so occupancy — not
    * data size — is the scale knob: the sf10 audit measured
    * [[embeddingNearDupLsh]] at ×32 for 100× data with nBits pinned at 8,
    * all of it candidate-pair inflation. Re-sizing nBits as the corpus
    * grows keeps per-bucket work flat; the recall lost to narrower
    * buckets is bought back with `tables` (amplification multiplies
    * recall across tables at linear cost) rather than a coarser bucket
    * space (which pays quadratically). The count that feeds this is one
    * cheap row-count scan — at 100 TB, drive it from table statistics
    * instead. */
  def nBitsFor(n: Long, targetBucket: Int): Int = {
    require(n >= 0 && targetBucket >= 1,
      s"need n >= 0 and targetBucket >= 1, got n=$n targetBucket=$targetBucket")
    // INTEGER-EXACT on purpose (ceil-div then bit-length), not
    // ceil(log(x)/log(2)): the libm ratio sits on an exact integer
    // whenever buckets is a power of two, where last-ulp differences
    // between runtimes flip the ceil — this dial must compute the same
    // width on every engine that replays it (the q113 oracle does, via
    // `<<` comparisons; see also the Lm scaladoc's no-log rationale).
    val buckets = (n + targetBucket - 1) / targetBucket
    if (buckets <= 2) 1
    else 64 - java.lang.Long.numberOfLeadingZeros(buckets - 1)
  }

  /** [[nBitsFor]]'s twin for CENTROID-CELL paths ([[semDedup]], seeded
    * IVF): the cell count that keeps per-cell occupancy ≈ `targetOccupancy`
    * as the corpus grows — within-cell pair work is O(occupancy²), so a
    * FIXED nlist is quadratic in corpus growth (the r12 verdict measured
    * ×2.4 at 10× for the sized path vs the pinned one). INTEGER-ONLY
    * (truncating division + clamps, the q148 dial discipline) so an
    * oracle recomputes the identical cell count from COUNT(*); the floor
    * of 16 keeps tiny corpora from degenerating into one global cell,
    * the ceiling bounds the centroid table the assignment broadcasts. */
  def cellsFor(n: Long, targetOccupancy: Long = 250L, maxCells: Int = 65536): Int = {
    require(n >= 0 && targetOccupancy >= 1,
      s"need n >= 0 and targetOccupancy >= 1, got n=$n targetOccupancy=$targetOccupancy")
    math.min(maxCells.toLong, math.max(16L, n / targetOccupancy)).toInt
  }

  /** Embedding-cosine near-dup pairs AT SCALE: sign-random-projection LSH
    * ([[Ann.srpBucket]], deterministic + engine-portable) confines the
    * pair expansion to same-bucket rows — never a global O(n²) self-join.
    *
    * Cost shape at 100 TB: the bucket assignment is one codegen'd map-only
    * pass; the bucket histogram is at most tables·2^nBits rows, so the
    * hot-bucket allowlist BROADCASTS; the self-join shuffles both sides on
    * `(tbl, bucket)` and expands pairs only inside buckets, with buckets
    * past `maxBucketSize` excluded (same guard as
    * [[minHashCandidatesOver]]).
    *
    * Recall/cost dials (P(bit match) = 1 − θ/π per projection):
    *  - fewer bits → bigger buckets → more recall AND more candidate pairs
    *  - `probes` > 1 additionally checks buckets at Hamming distance 1
    *    (bits 0..probes-2 flipped) — multi-probe recall without re-hashing
    *  - `tables` > 1 hashes each row into L INDEPENDENT tables (disjoint
    *    runs of the projection sequence via [[Ann.srpBucket]]'s bitOffset)
    *    and unions candidates: recall 1−(1−p^nBits)^L — the standard LSH
    *    amplification, and the lever that reaches high recall on true
    *    near-dups (p→1) while random pairs (p≈0.5) stay excluded. Cost is
    *    one exploded copy of the bucket-assignment stream per table; the
    *    corpus itself is still never self-joined outside buckets.
    *
    * No silent caps: pass `dropObs` to observe `excluded_rows` — the total
    * bucket-membership mass dropped by the `maxBucketSize` guard (a row
    * counts once per oversized (tbl, bucket) it lands in). At 100 TB a
    * popular boilerplate bucket overflowing is exactly where the
    * duplicates are; the metric makes that loss visible. It rides the
    * histogram's own materialization — no extra pass — BUT Spark only
    * reports observed metrics for plan subtrees that survive in the final
    * adaptive plan: a run whose RESULT is empty (e.g. every bucket
    * overflowed) prunes the observed histogram with it (AQE
    * empty-relation propagation), so a MISSING `excluded_rows` key means
    * "indeterminate — audit with [[lshExcludedRows]]", never "zero".
    *
    * @param dim   embedding dimension (srpBucket needs it at plan time)
    * @param nBits bucket width in bits (bucket space = 2^nBits per table).
    *              FIXED nBits does not survive a big scale-up: the sf10
    *              replica (100× sf0.1) measured ×32 wall on this operator
    *              because 2^8 buckets at 100× occupancy quadratically
    *              inflates within-bucket pair work. Size it from the
    *              corpus with [[nBitsFor]] and buy recall back with
    *              `tables`, not with a coarser bucket space.
    */
  def embeddingNearDupLsh(
      df: DataFrame, idCol: String, vecCol: String, minSim: Double,
      dim: Int, nBits: Int = 8, maxBucketSize: Int = 1000,
      probes: Int = 1, tables: Int = 1,
      dropObs: Option[Observation] = None): DataFrame = {
    require(probes >= 1 && probes <= nBits + 1,
      s"probes must be in [1, nBits+1], got $probes (probe 1 = own bucket, probe p = bit p-2 flipped)")
    require(tables >= 1, s"tables must be >= 1, got $tables")
    val bk = srpTableBuckets(df, idCol, vecCol, dim, nBits, tables)
    // singleton buckets can never form a SAME-bucket pair, so with a
    // single probe they are pruned outright; under multi-probe a singleton
    // can still pair across a bit-flip, so only the oversized-bucket guard
    // may drop rows there (per table: a row pruned in one table still
    // pairs through its other tables)
    val minOccupancy = if (probes == 1) 2 else 1
    val hist = bk.groupBy("tbl", "bucket").count()
    val histObs = dropObs.map(o => hist.observe(o,
      sum(when(col("count") > maxBucketSize, col("count")).otherwise(0L))
        .as("excluded_rows"))).getOrElse(hist)
    val ok = histObs
      .filter(col("count").between(minOccupancy, maxBucketSize)).select("tbl", "bucket")
    val bounded = bk.join(broadcast(ok), Seq("tbl", "bucket"))
    // side a probes its own bucket plus `probes - 1` single-bit flips;
    // side b stays at its own bucket, so every candidate pair differs by
    // at most one projection sign between the two probe sets
    val probed =
      if (probes == 1) bounded.withColumn("pbucket", col("bucket"))
      else bounded.withColumn("pbucket", explode(array(
        col("bucket") +: (0 until probes - 1).map(b =>
          col("bucket").bitwiseXOR(lit(1L << b))): _*)))
    val a = probed.select(col("tbl"), col("pbucket").as("jb"),
      col("id").as("id_a"), col("v").as("va"))
    val b = bounded.select(col("tbl"), col("bucket").as("jb"),
      col("id").as("id_b"), col("v").as("vb"))
    val pairs = a.join(b, Seq("tbl", "jb")).filter(col("id_a") < col("id_b"))
      .withColumn("sim", Distances.cosineSim(col("va"), col("vb")))
      .filter(col("sim") >= minSim)
      .select("id_a", "id_b", "sim")
    // multi-probe can reach the same pair from both endpoints' flip sets;
    // multi-table reaches it once per co-located table
    if (probes == 1 && tables == 1) pairs else pairs.distinct()
  }

  /** Per-(table, bucket) SRP assignment stream: one row per (input row,
    * table). Shared by [[embeddingNearDupLsh]] and [[lshExcludedRows]] so
    * the audit sees exactly the buckets the join saw. */
  private def srpTableBuckets(
      df: DataFrame, idCol: String, vecCol: String,
      dim: Int, nBits: Int, tables: Int): DataFrame =
    if (tables == 1)
      df.select(col(idCol).as("id"), col(vecCol).as("v"),
        lit(0).as("tbl"), Ann.srpBucket(col(vecCol), dim, nBits).as("bucket"))
    else
      df.select(col(idCol).as("id"), col(vecCol).as("v"),
        explode(array((0 until tables).map(t => struct(lit(t).as("tbl"),
          Ann.srpBucket(col(vecCol), dim, nBits, t * nBits).as("bucket"))): _*)).as("tb"))
        .select(col("id"), col("v"), col("tb.tbl").as("tbl"), col("tb.bucket").as("bucket"))

  /** Exact audit of [[embeddingNearDupLsh]]'s `maxBucketSize` guard: the
    * total bucket-membership mass sitting in overflowing buckets, as its
    * own job (one map-only assignment pass + a ≤ tables·2^nBits-row agg).
    * This is the reliable form of the `dropObs` metric — use it whenever
    * the observation comes back without the `excluded_rows` key (see the
    * caveat there); at 100 TB it costs one extra corpus scan, which is
    * the price of a trustworthy answer to "what did the cap drop?". */
  def lshExcludedRows(
      df: DataFrame, idCol: String, vecCol: String, dim: Int,
      nBits: Int = 8, maxBucketSize: Int = 1000, tables: Int = 1): Long =
    srpTableBuckets(df, idCol, vecCol, dim, nBits, tables)
      .groupBy("tbl", "bucket").count()
      .filter(col("count") > maxBucketSize)
      .agg(coalesce(sum(col("count")), lit(0L)).as("excluded"))
      .head().getLong(0)

  /** (id, band, rows) band-bucket keys of the minHash signature pipeline.
    * Bucket key = the band slice ITSELF (band index + rowsPerBand longs),
    * not a hash of it: a hash collision between different slices would
    * silently merge buckets (false candidates an oracle can't reproduce),
    * and grouping on the raw key costs only a slightly wider shuffle key.
    * Shared by [[minHashCandidatesOver]] and [[minHashExcludedRows]]. */
  private def bandKeyRows(
      shingled: DataFrame, numHashes: Int, numBands: Int,
      hashFn: Column => Column): DataFrame = {
    require(numBands >= 1 && numBands <= numHashes && numHashes % numBands == 0,
      s"numBands ($numBands) must divide numHashes ($numHashes) — a remainder would be " +
        "silently ignored, and numBands > numHashes degenerates every doc into the same buckets")
    val rowsPerBand = numHashes / numBands
    minHashSignaturesOver(shingled, numHashes, hashFn).select(
      col("id"),
      posexplode(transform(sequence(lit(0), lit(numBands - 1)),
        b => slice(col("sig"), b * rowsPerBand + 1, lit(rowsPerBand)))))
      .select(col("id"), col("pos").as("band"), col("col").as("rows"))
  }

  /** Exact audit of the minHash band-bucket cap, mirroring
    * [[lshExcludedRows]]: total (doc, band) memberships in overflowing
    * band buckets — its own job over the signature pipeline. */
  def minHashExcludedRows(
      df: DataFrame, idCol: String, textCol: String,
      shingleSize: Int = 3, numHashes: Int = 16, numBands: Int = 4,
      maxBucketSize: Int = 1000, hashFn: Column => Column = xxHash): Long =
    bandKeyRows(
      df.select(col(idCol).as("id"), wordShingles(col(textCol), shingleSize).as("shingles")),
      numHashes, numBands, hashFn)
      .groupBy("band", "rows").count()
      .filter(col("count") > maxBucketSize)
      .agg(coalesce(sum(col("count")), lit(0L)).as("excluded"))
      .head().getLong(0)

  /** Ingest-time dedup gate: classify an incoming BATCH against the
    * EXISTING corpus — `dup_exact` (text already stored verbatim),
    * `dup_near` (MinHash-LSH band match with shingle-Jaccard ≥
    * `minJaccard` against any corpus doc), else `kept`. This is the gate
    * a continuously-hydrated collection runs on every increment: the
    * ingest-side counterpart of the within-corpus [[nearDedup]], with
    * exact precedence over near (a verbatim copy reports as exact even
    * when it also band-matches).
    *
    * 100 TB shape: the corpus is the big side and NEVER shuffles — every
    * corpus pass is map-side against a BROADCAST batch derivative
    * (texts, band keys, candidate pairs: all bounded by the batch). The
    * exact probe, the band-key match, and the Jaccard verify each stream
    * the corpus once; the only exchanges are batch-bounded distincts. A
    * matched corpus band bucket larger than `maxBucketSize` is excluded
    * (the [[minHashCandidatesOver]] guard, computed only over matched
    * buckets — counting them is a map-side partial agg on few keys, so
    * even a boilerplate mega-bucket costs a count, not a pair
    * explosion). At real scale, persist the corpus band keys at ingest —
    * they are exactly the signature table this function recomputes — and
    * the gate touches no corpus text outside the verified candidates.
    */
  def dedupAgainstCorpus(
      batch: DataFrame, corpus: DataFrame, idCol: String, textCol: String,
      minJaccard: Double = 0.7, shingleSize: Int = 3,
      numHashes: Int = 16, numBands: Int = 8, maxBucketSize: Int = 1000,
      hashFn: Column => Column = xxHash): DataFrame = {
    // exact: corpus text stream probes the broadcast batch texts
    val bTexts = batch.select(col(idCol).as("__bid"), col(textCol).as("__t"))
    val exact = corpus.select(col(textCol).as("__t"))
      .join(broadcast(bTexts), Seq("__t"))
      .select(col("__bid")).distinct()
    // near: band keys both sides; the batch side broadcasts throughout
    val bSh = batch.select(col(idCol).as("id"),
      wordShingles(col(textCol), shingleSize).as("shingles"))
    val cSh = corpus.select(col(idCol).as("id"),
      wordShingles(col(textCol), shingleSize).as("shingles"))
    val bKeys = bandKeyRows(bSh, numHashes, numBands, hashFn)
      .select(col("id").as("__nbid"), col("band"), col("rows"))
    val cMatched = bandKeyRows(cSh, numHashes, numBands, hashFn)
      .join(broadcast(bKeys.select("band", "rows").distinct()), Seq("band", "rows"))
    val ok = cMatched.groupBy("band", "rows").count()
      .filter(col("count") <= maxBucketSize).select("band", "rows")
    val pairs = cMatched.join(broadcast(ok), Seq("band", "rows"))
      .join(broadcast(bKeys), Seq("band", "rows"))
      .select(col("id").as("__cid"), col("__nbid")).distinct()
    val bDs = bSh.select(col("id").as("__nbid"), array_distinct(col("shingles")).as("__bdsh"))
    val near = cSh.select(col("id").as("__cid"), array_distinct(col("shingles")).as("__cdsh"))
      .join(broadcast(pairs), Seq("__cid"))
      .join(broadcast(bDs), Seq("__nbid"))
      .filter(jaccardOfSets(col("__cdsh"), col("__bdsh")) >= minJaccard)
      .select(col("__nbid")).distinct()
    batch
      .join(broadcast(exact.select(col("__bid").as(idCol), lit(1).as("__ex"))),
        Seq(idCol), "left")
      .join(broadcast(near.select(col("__nbid").as(idCol), lit(1).as("__nr"))),
        Seq(idCol), "left")
      .withColumn("verdict",
        when(col("__ex") === 1, "dup_exact")
          .when(col("__nr") === 1, "dup_near")
          .otherwise("kept"))
      .drop("__ex", "__nr")
  }

  /** SemDeDup (Abbas et al. 2023, "SemDeDup: Data-efficient learning at
    * web-scale through semantic deduplication"): drop semantically
    * near-identical rows from an embedded corpus. Rows arrive already
    * partitioned into centroid cells (a `cell` column —
    * [[Ann.assignCells]] / [[Ann.buildIvfSeeded]] output); within each
    * cell, a row is dropped iff some SMALLER-id same-cell row reaches
    * cosine `minSim` (keep-min-id, the representative rule shared with
    * [[exactDedup]]). Cross-cell pairs are never examined — that
    * approximation IS the algorithm (it bounds the pair expansion), and
    * with centroid-partitioned cells, near-identical embeddings only
    * separate when they straddle a centroid boundary.
    *
    * 100 TB shape: both self-join sides shuffle ONCE on `cell`; pair work
    * is O(occupancy²) per cell, so cell occupancy — nlist at build time,
    * ≈ n / target — is the scale knob, the same sizing rule [[nBitsFor]]
    * applies to SRP buckets. Unlike the LSH candidate paths, no cell is
    * ever skipped by a cap: dropping a bucket there only loses candidate
    * pairs, but skipping a cell here would flip KEEP decisions — size
    * cells, don't cap them. With seeded assignment the cells, the pair
    * set, and every keep decision replay in a plain-SQL oracle (q86).
    */
  def semDedup(assigned: DataFrame, idCol: String, vecCol: String,
               minSim: Double): DataFrame = {
    require(assigned.columns.contains("cell"),
      "semDedup input must carry a `cell` column (Ann.assignCells / buildIvfSeeded output)")
    val a = assigned.select(col("cell"), col(idCol).as("__id_a"), col(vecCol).as("__va"))
    val b = assigned.select(col("cell"), col(idCol).as("__id_b"), col(vecCol).as("__vb"))
    val drops = a.join(b, Seq("cell"))
      .filter(col("__id_b") < col("__id_a") &&
        Distances.cosineSim(col("__va"), col("__vb")) >= minSim)
      .select(col("__id_a").as(idCol)).distinct()
    // left_anti on the drop list: null ids never match an anti key, so a
    // null-id row is retained (it cannot have been a drop candidate — the
    // `<` comparison is null-rejecting on both sides)
    assigned.join(drops, Seq(idCol), "left_anti")
  }

  /** Embedding-space decontamination: corpus rows whose cosine similarity
    * to ANY eval/benchmark embedding reaches `minSim`, with per-row hit
    * count and max similarity. The n-gram form ([[contaminated]]) catches
    * verbatim leakage; this form catches paraphrased leakage — the two
    * run side by side in a modern pre-training pipeline.
    *
    * 100 TB shape: the eval side is tiny next to a training corpus, so
    * its (id, vec) rows BROADCAST; the corpus pays one map-side
    * broadcast nested-loop pass (corpus rows never shuffle) and only the
    * flagged-row aggregate — bounded by the contamination mass, not the
    * corpus — exchanges at the end. Cost is O(|corpus|·|eval|·d) exact;
    * when the eval set outgrows a broadcast, prune with the SRP buckets
    * ([[embeddingNearDupLsh]]'s machinery) first.
    *
    * Output: (id, n_eval_hits, max_sim) per contaminated corpus row.
    */
  def contaminatedEmbeddings(
      corpus: DataFrame, idCol: String, vecCol: String,
      evalSet: DataFrame, evalVecCol: String, minSim: Double): DataFrame = {
    val ev = evalSet.select(col(evalVecCol).as("__ev"))
    corpus.select(col(idCol).as("id"), col(vecCol).as("__v"))
      .crossJoin(broadcast(ev))
      .withColumn("__sim", Distances.cosineSim(col("__v"), col("__ev")))
      .filter(col("__sim") >= minSim)
      .groupBy("id")
      .agg(count(lit(1)).as("n_eval_hits"), max(col("__sim")).as("max_sim"))
  }
}
