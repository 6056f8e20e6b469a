package graft.operators

import org.apache.spark.ml.clustering.KMeans
import org.apache.spark.ml.functions.array_to_vector
import org.apache.spark.ml.linalg.Vector
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.expressions.GraftExtensions
import graft.functions.Distances

/** Approximate nearest-neighbor search — the scale path for the hydrated
  * collection's `query()` (SURVEY §4.3.3). Chroma answers kNN with a
  * single-node HNSW graph; that shape cannot shard past one machine. The
  * Spark-native equivalent is IVF (inverted-file) partition pruning:
  *
  *   build: k-means over (a sample of) the corpus → every row is assigned
  *          its nearest centroid id → corpus is repartitioned/persisted BY
  *          centroid (a partition column, so Catalyst partition-prunes).
  *   query: compute the query's nprobe nearest centroids driver-side
  *          (centroid table is tiny) → scan ONLY those cells → exact
  *          distance + top-k inside the pruned set.
  *
  * At 100 TB with nlist=4096 and nprobe=8, a query touches ~0.2% of the
  * corpus, and each cell is an independent parquet partition — no shuffle
  * at query time at all.
  *
  * Also provided: deterministic sign-random-projection LSH bucketing
  * (`srpBucket`) — a cheap alternative prune when training k-means is
  * undesirable; projection vectors derive from a fixed arithmetic formula,
  * so bucketing is reproducible across runs and engines.
  */
object Ann {

  /** IVF build product: centroid table (small) + corpus with `cell` col. */
  final case class IvfModel(centroids: Array[(Int, Array[Double])], assigned: DataFrame)

  /** Build an IVF index: fit k-means (seeded, deterministic) and assign
    * every row to its nearest centroid cell.
    *
    * @param trainFraction fit on a sample — at 100 TB you never train on
    *        the full corpus; assignment is still exact for every row.
    */
  def buildIvf(
      corpus: DataFrame, idCol: String, vecCol: String,
      nlist: Int, seed: Long = 42L, trainFraction: Double = 1.0): IvfModel = {
    val featurized = corpus.withColumn("__features",
      array_to_vector(col(vecCol).cast("array<double>")))
    val train = if (trainFraction >= 1.0) featurized
                else featurized.sample(withReplacement = false, trainFraction, seed)
    // 10 iterations is ample for IVF cells — centroids only need to be
    // good partitions, not a converged clustering; halves build time.
    val model = new KMeans()
      .setK(nlist).setSeed(seed).setMaxIter(10)
      .setFeaturesCol("__features").setPredictionCol("cell")
      .fit(train)
    val assigned = model.transform(featurized).drop("__features")
    val cents = model.clusterCenters.zipWithIndex.map { case (v: Vector, i) => (i, v.toArray) }
    IvfModel(cents, assigned)
  }

  /** Deterministic IVF build: cell seeds are corpus rows (`seedIds`, in
    * order — cell i gets the vector of seedIds(i)); assignment = argmin
    * squared-L2 to the seed vectors, ties to the lowest cell id.
    *
    * Sampling corpus rows as cell seeds is the standard cheap IVF
    * bootstrap at 100 TB (a k-means fit is always run on a sample anyway,
    * and Lloyd iterations only polish partition quality) — and unlike a
    * fit, the resulting index is reproducible in plain SQL on any engine,
    * so the WHOLE approximate-search path (assignment, probe choice,
    * pruned top-k) can be verified against an independent oracle.
    */
  def buildIvfSeeded(
      corpus: DataFrame, idCol: String, vecCol: String, seedIds: Seq[Long]): IvfModel =
    buildIvfSeededAny(corpus, idCol, vecCol, seedIds)

  /** [[buildIvfSeeded]] over any id type (the collection store keys by
    * STRING id): seed lookup compares both sides as strings, one shared
    * implementation so seed-handling fixes cannot diverge by id type. */
  def buildIvfSeededAny(
      corpus: DataFrame, idCol: String, vecCol: String, seedIds: Seq[Any]): IvfModel = {
    // cast to array<double> in the query: the corpus may carry float OR
    // double vectors (every other distance entry point accepts both)
    val seedRows = corpus.filter(col(idCol).isin(seedIds: _*))
      .select(col(idCol).cast("string"), col(vecCol).cast("array<double>")).collect()
      .map(r => r.getString(0) -> r.getSeq[Double](1).toArray).toMap
    val cents = seedIds.zipWithIndex.map { case (sid, i) =>
      (i, seedRows.getOrElse(String.valueOf(sid), sys.error(s"IVF seed id '$sid' not in corpus")))
    }.toArray
    IvfModel(cents, assignCells(corpus, vecCol, cents))
  }

  /** Exact nearest-centroid cell assignment: one codegen'd L2 distance per
    * centroid, argmin via struct ordering (ties → lowest cell). Narrow
    * (no shuffle) — at 100 TB this is a map-only pass before the
    * partitioned write. */
  def assignCells(
      corpus: DataFrame, vecCol: String, cents: Array[(Int, Array[Double])]): DataFrame = {
    val scored = cents.map { case (i, c) =>
      struct(GraftExtensions.dist("l2")(col(vecCol), typedLit(c.toSeq)).as("d"),
        lit(i).as("cell"))
    }
    corpus.withColumn("cell", array_min(array(scored.toIndexedSeq: _*)).getField("cell"))
  }

  /** Persist the assignment partitioned by cell: queries then prune at the
    * file-listing level (`PartitionFilters` in the scan). Centroids are
    * written alongside (`_ivf_centroids.txt`: "cell v0 v1 …" per line) so
    * the optimizer rule [[graft.expressions.IvfPruneRule]] can prune later
    * sessions' queries without the in-memory model. */
  def writeIvf(model: IvfModel, path: String, withPb: Boolean = false): Unit = {
    // `withPb = true` writes the two-level `cell=<c>/pb=<b>` layout — the
    // incremental-refresh axis (see Collection.refreshIndex); queries
    // prune on `cell` either way. The axis is EXPLICIT opt-in: the caller
    // asserts it injected `pb` as an id-bucket column — a user DATA column
    // that happens to be named `pb` is never silently promoted to index
    // layout (it would be consumed by the partitioning and later dropped
    // as layout by index reads).
    require(!withPb || model.assigned.columns.contains("pb"),
      "writeIvf(withPb = true) requires a 'pb' id-bucket column on the assignment")
    val parts = if (withPb) Seq("cell", "pb") else Seq("cell")
    model.assigned.write.mode("overwrite").partitionBy(parts: _*).parquet(path)
    // Hadoop FS, not java.nio: the layout may live on hdfs://, s3a://, … —
    // a local-filesystem sidecar would crash AFTER the expensive corpus
    // write (or silently disable rule-based pruning on read).
    val spark = model.assigned.sparkSession
    val sidecar = new org.apache.hadoop.fs.Path(path, "_ivf_centroids.txt")
    val fs = sidecar.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(sidecar, true)
    try out.write(model.centroids
      .map { case (i, c) => s"$i ${c.mkString(" ")}" }
      .mkString("\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
  }

  /** Full UTF-8 contents of a small sidecar file (None if absent) — the
    * one Hadoop-stream slurp both sidecar readers share. */
  private def readSidecarText(sidecar: org.apache.hadoop.fs.Path,
      hadoopConf: org.apache.hadoop.conf.Configuration): Option[String] = {
    val fs = sidecar.getFileSystem(hadoopConf)
    if (!fs.exists(sidecar)) None
    else {
      val in = fs.open(sidecar)
      try {
        val buf = new java.io.ByteArrayOutputStream()
        val chunk = new Array[Byte](8192)
        var n = in.read(chunk)
        while (n >= 0) { buf.write(chunk, 0, n); n = in.read(chunk) }
        Some(new String(buf.toByteArray, java.nio.charset.StandardCharsets.UTF_8))
      } finally in.close()
    }
  }

  /** Read back centroids persisted by [[writeIvf]] (None if absent). */
  def readCentroids(
      path: String,
      hadoopConf: org.apache.hadoop.conf.Configuration): Option[Array[(Int, Array[Double])]] =
    readSidecarText(new org.apache.hadoop.fs.Path(path, "_ivf_centroids.txt"), hadoopConf)
      .map(_.split("\n").filter(_.nonEmpty).map { line =>
        val parts = line.split(" ")
        (parts.head.toInt, parts.tail.map(_.toDouble))
      })

  /** nprobe nearest cells from a raw centroid table (shared by the model
    * path and the optimizer rule). */
  def nearestCellsOf(
      centroids: Array[(Int, Array[Double])], query: Seq[Float], nprobe: Int): Seq[Int] = {
    val q = query.map(_.toDouble).toArray
    centroids.map { case (i, c) =>
      var s = 0.0; var j = 0
      while (j < c.length && j < q.length) { val d = c(j) - q(j); s += d * d; j += 1 }
      (i, s)
    }.sortBy { case (i, d) => (d, i) }.take(nprobe).map(_._1).toSeq
  }

  /** nprobe nearest centroid ids for a query vector (driver-side: the
    * centroid table is nlist rows — never distributed work). */
  def nearestCells(model: IvfModel, query: Seq[Float], nprobe: Int): Seq[Int] =
    nearestCellsOf(model.centroids, query, nprobe)

  /** IVF query: exact top-k inside the nprobe pruned cells. `indexed` may be
    * the in-memory `assigned` frame or `spark.read.parquet(ivfPath)` — with
    * the latter, the `cell` predicate prunes whole directories. */
  def queryIvf(
      indexed: DataFrame, model: IvfModel, idCol: String, vecCol: String,
      query: Seq[Float], k: Int, nprobe: Int,
      space: String = "cosine", preFilter: Option[Column] = None,
      excludeIds: Seq[Any] = Nil): DataFrame = {
    val cells = nearestCells(model, query, nprobe)
    Knn.topK(indexed.filter(col("cell").isin(cells: _*)),
      idCol, vecCol, query, k, space, preFilter, excludeIds)
  }

  /** Deterministic sign-random-projection bucket (LSH prune alternative):
    * bit b of the bucket = sign of ⟨vec, r_b⟩ where
    * r_b[j] = ((1103515245·(b·dim+j) + 12345) mod 2001 − 1000)/1000 — a
    * fixed arithmetic pseudo-random sequence, reproducible anywhere.
    * Codegen'd fused loop ([[graft.expressions.SrpBucket]]); values are
    * bit-identical to [[srpBucketHof]] and the SQL oracle. */
  def srpBucket(vec: Column, dim: Int, nBits: Int, bitOffset: Int = 0): Column = {
    import org.apache.spark.sql.GraftColumnShim
    GraftColumnShim.column(graft.expressions.SrpBucket(
      GraftColumnShim.expression(vec), dim, nBits, bitOffset))
  }

  /** Expression-tree form of [[srpBucket]] (nBits·dim nodes): kept as the
    * cross-check reference — the fused loop must reproduce it exactly. */
  def srpBucketHof(vec: Column, dim: Int, nBits: Int, bitOffset: Int = 0): Column = {
    val bits = (0 until nBits).map { b =>
      val proj = (0 until dim).map { j =>
        val r = ((1103515245L * ((bitOffset + b).toLong * dim + j) + 12345L) % 2001L - 1000L) / 1000.0
        element_at(vec, j + 1).cast("double") * lit(r)
      }.reduce(_ + _)
      when(proj >= 0, lit(1L << b)).otherwise(lit(0L))
    }
    bits.reduce((a, c) => a.bitwiseOR(c))
  }

  /** Scalar int8 quantization (training-free max-abs form): per vector,
    * `scale = max|x|/127` and `code_j = round(x_j/scale)` — a 4× memory
    * cut for a float32 corpus (the lever that keeps a 100 TB embedding
    * table scannable), with reconstruction error ≤ scale/2 per element.
    * Returns STRUCT(codes ARRAY<TINYINT>, scale DOUBLE). Deterministic
    * IEEE arithmetic + away-from-zero rounding on both engines, so
    * quantized pipelines stay oracle-replayable. */
  def quantizeInt8(vec: Column): Column = {
    val mx = array_max(transform(vec, x => abs(x.cast("double"))))
    val scale = when(mx > 0, mx / 127.0).otherwise(lit(1.0))
    struct(
      transform(vec, x => round(x.cast("double") / scale, 0).cast("tinyint")).as("codes"),
      scale.as("scale"))
  }

  /** The SCAN-PATH form of [[quantizeInt8]]: (idCol, codes, scale) frame.
    * The single-Column form embeds the max-abs subtree inside the codes
    * lambda, and interpreted HOF lambdas re-evaluate it PER ELEMENT —
    * O(d²) per vector. Here the scale is projected once per row first;
    * its subtree is non-cheap, so CollapseProject keeps the boundary and
    * the codes lambda references a bound attribute — O(d). */
  def quantizeInt8Frame(df: DataFrame, idCol: String, vecCol: String): DataFrame = {
    val mx = array_max(transform(col(vecCol), x => abs(x.cast("double"))))
    df.select(col(idCol), col(vecCol),
        when(mx > 0, mx / 127.0).otherwise(lit(1.0)).as("scale"))
      .select(col(idCol),
        transform(col(vecCol),
          x => round(x.cast("double") / col("scale"), 0).cast("tinyint")).as("codes"),
        col("scale"))
  }

  /** Reconstruct `code_j * scale` as ARRAY<DOUBLE> — the asymmetric-
    * distance read side (raw float query vs dequantized corpus). */
  def dequantizeInt8(q: Column): Column =
    transform(q.getField("codes"), c => c.cast("double") * q.getField("scale"))

  /** Materialize the int8-quantized corpus: (id, codes ARRAY<TINYINT>,
    * scale DOUBLE) parquet — the ingestion-time form of [[quantizeInt8]];
    * queries then pay the 4×-smaller scan instead of re-quantizing per
    * query (what q69 simulates inline). Map-only write, no shuffle. */
  def writeQuantized(df: DataFrame, idCol: String, vecCol: String,
                     path: String): Unit =
    quantizeInt8Frame(df, idCol, vecCol)
      .write.mode("overwrite").parquet(path)

  /** Read a [[writeQuantized]] table back as (id, `vecCol` ARRAY<DOUBLE>)
    * — the dequantized asymmetric-distance read side. */
  def readQuantized(spark: org.apache.spark.sql.SparkSession, path: String,
                    idCol: String, vecCol: String): DataFrame =
    spark.read.parquet(path)
      .select(col(idCol),
        dequantizeInt8(struct(col("codes"), col("scale"))).as(vecCol))

  // ---- Product quantization (Jégou, Douze & Schmid, TPAMI 2011) ----
  //
  // IVF prunes WHICH rows a query reads; PQ shrinks WHAT each row costs.
  // The vector splits into `m` subspaces; each subspace keeps a small
  // codebook of `ksub` centroids, and a row stores only the m nearest-
  // centroid codes — one small int per subspace instead of subDim floats
  // (64-dim float32 at m=4: 256 B → 4 B, a 64× cut). A query builds an
  // m × ksub lookup table of subspace distances ONCE (driver-side — it is
  // m·ksub doubles, never distributed work), and every row's approximate
  // distance is m table lookups + adds: the asymmetric distance
  // computation (ADC) that makes a 100 TB embedding corpus scannable from
  // codes alone. The standard two-stage read refines the ADC shortlist
  // with exact distances over raw vectors fetched for fetchN rows only.
  //
  // Codebooks here are SEEDED from corpus rows (the buildIvfSeeded
  // rationale: k-means always trains on a sample at scale, Lloyd rounds
  // only polish partition quality) — so encode, the ADC table, and the
  // refine stage all replay value-for-value in plain SQL on an
  // independent engine. Every distance folds in element order; ADC sums
  // round-to-6 DECIMAL partials, so the per-row fold is order-free.

  /** PQ codebook set: `codebooks(s)(c)(j)` = element j of centroid c in
    * subspace s. `dim = m * subDim`; `ksub = codebooks(s).length`.
    * `residual` marks codebooks trained on (and codes encoding) cell
    * residuals `v − centroid(cell(v))` rather than raw vectors — the
    * flag rides the sidecar so a store read can never ADC residual
    * codes against a raw-query lookup table (silently-wrong answers). */
  final case class PqModel(dim: Int, m: Int, codebooks: Array[Array[Array[Double]]],
                           residual: Boolean = false) {
    require(m >= 1 && dim % m == 0, s"PQ dim $dim must divide into m=$m subspaces")
    val subDim: Int = dim / m
    def ksub: Int = codebooks(0).length
  }

  /** Train a seeded PQ codebook: subspace s's centroids are the s-th
    * subvectors of the `seedIds` rows (in seed order — code c is seed c).
    * The collect is ksub rows × dim doubles — bounded by construction. */
  def buildPqSeeded(corpus: DataFrame, idCol: String, vecCol: String,
                    dim: Int, m: Int, seedIds: Seq[Any]): PqModel = {
    require(seedIds.nonEmpty, "PQ needs at least one codebook seed row")
    val seedRows = corpus.filter(col(idCol).isin(seedIds: _*))
      .select(col(idCol).cast("string"), col(vecCol).cast("array<double>")).collect()
      .map(r => r.getString(0) -> r.getSeq[Double](1).toArray).toMap
    val subDim = dim / m
    val cbs = Array.tabulate(m) { s =>
      seedIds.map { sid =>
        val v = seedRows.getOrElse(String.valueOf(sid),
          sys.error(s"PQ seed id '$sid' not in corpus"))
        require(v.length == dim, s"PQ seed '$sid' has dim ${v.length}, expected $dim")
        v.slice(s * subDim, (s + 1) * subDim)
      }.toArray
    }
    PqModel(dim, m, cbs)
  }

  /** TRAINED PQ codebooks — the production build (the seeded form exists
    * for oracle replay; hand-picking codebook rows is not a user
    * workflow): per-subspace Lloyd's k-means on a BOUNDED,
    * deterministically-chosen sample. The sample is the `maxTrainRows`
    * smallest rows under a seeded hash of the id (TakeOrdered — no full
    * sort, no partition-order dependence), so the same (corpus, seed)
    * always trains the same codebooks on any cluster layout. Driver-side
    * Lloyd is the right altitude here: FAISS trains PQ on an in-memory
    * sample too — 65536 rows × subDim doubles per subspace is megabytes,
    * and m small k-means runs beat m distributed fits by orders of
    * magnitude in overhead. Empty clusters keep their previous centroid
    * (standard Lloyd degeneracy handling, deterministic). */
  def buildPq(corpus: DataFrame, idCol: String, vecCol: String,
              dim: Int, m: Int, ksub: Int, seed: Long = 42L,
              iterations: Int = 15, maxTrainRows: Int = 65536): PqModel = {
    require(ksub >= 1 && ksub <= 256, s"ksub must be in [1, 256], got $ksub")
    require(iterations >= 1, s"iterations must be >= 1, got $iterations")
    val sample = corpus
      .select(col(idCol).cast("string").as("__id"),
        col(vecCol).cast("array<double>").as("__v"))
      .orderBy(xxhash64(concat(lit(seed.toString), col("__id"))), col("__id"))
      .limit(maxTrainRows)
      .collect().map(_.getSeq[Double](1).toArray)
    require(sample.length >= ksub,
      s"PQ training needs >= ksub ($ksub) rows, corpus sample has ${sample.length}")
    sample.foreach(v => require(v.length == dim,
      s"corpus vector has dim ${v.length}, expected $dim"))
    val subDim = dim / m
    val cbs = Array.tabulate(m) { s =>
      val sub = sample.map(_.slice(s * subDim, (s + 1) * subDim))
      lloyd(sub, ksub, iterations)
    }
    PqModel(dim, m, cbs)
  }

  /** Plain Lloyd's on an in-memory point set. Init = evenly spaced points
    * of the (hash-shuffled) sample — deterministic and well spread without
    * an RNG; an empty cluster keeps its previous centroid. */
  private def lloyd(points: Array[Array[Double]], k: Int,
                    iterations: Int): Array[Array[Double]] = {
    val n = points.length
    val d = points(0).length
    var cents = Array.tabulate(k)(i => points(((i.toLong * n) / k).toInt).clone())
    var iter = 0
    while (iter < iterations) {
      val sums = Array.fill(k)(new Array[Double](d))
      val counts = new Array[Long](k)
      var i = 0
      while (i < n) {
        val p = points(i)
        var best = 0; var bestD = Double.MaxValue
        var c = 0
        while (c < k) {
          var acc = 0.0; var j = 0
          while (j < d) { val x = p(j) - cents(c)(j); acc += x * x; j += 1 }
          if (acc < bestD) { bestD = acc; best = c }
          c += 1
        }
        var j = 0
        while (j < d) { sums(best)(j) += p(j); j += 1 }
        counts(best) += 1
        i += 1
      }
      cents = Array.tabulate(k) { c =>
        if (counts(c) == 0L) cents(c)
        else { val out = new Array[Double](d)
          var j = 0
          while (j < d) { out(j) = sums(c)(j) / counts(c); j += 1 }
          out }
      }
      iter += 1
    }
    cents
  }

  /** Encode every row to its m nearest-subcentroid codes: `codes`
    * ARRAY<INT> of length m — argmin squared-L2 per subspace, ties to the
    * lowest code (the assignCells struct-ordering trick per subspace).
    * Map-only pass, no shuffle: at 100 TB this is the ingestion-time scan
    * that writes the code table. */
  def pqEncode(df: DataFrame, vecCol: String, model: PqModel): DataFrame = {
    val codes = (0 until model.m).map { s =>
      val sub = slice(col(vecCol), s * model.subDim + 1, model.subDim)
      val scored = model.codebooks(s).zipWithIndex.map { case (cent, c) =>
        struct(GraftExtensions.dist("l2")(sub, typedLit(cent.toSeq)).as("d"),
          lit(c).as("code"))
      }
      array_min(array(scored.toIndexedSeq: _*)).getField("code")
    }
    df.withColumn("codes", array(codes: _*))
  }

  /** ADC lookup table for `query`: lut(s)(c) = squared L2 between the
    * query's subvector s and codebook centroid c — the same element-order
    * sequential double fold as the codegen'd distance expressions, so an
    * oracle recomputing it in SQL lands on the same bits. */
  def pqLut(model: PqModel, query: Seq[Float]): Array[Array[Double]] =
    pqLutD(model, query.map(_.toDouble))

  /** [[pqLut]] over an already-double query — the residual path feeds
    * `q − centroid` here and must NOT round-trip through Float (the
    * oracle computes the same residual in doubles). */
  def pqLutD(model: PqModel, query: Seq[Double]): Array[Array[Double]] = {
    require(query.length == model.dim,
      s"query dim ${query.length} != PQ dim ${model.dim}")
    Array.tabulate(model.m) { s =>
      model.codebooks(s).map { cent =>
        var acc = 0.0; var j = 0
        while (j < model.subDim) {
          val d = query(s * model.subDim + j) - cent(j)
          acc += d * d; j += 1
        }
        acc
      }
    }
  }

  /** A query's ADC lookup tables under `pq`, each keyed by the cell whose
    * rows it scores. A plain model's codes encode raw vectors: its one
    * [[pqLut]] scores every row (key None). A residual model's codes encode
    * `v − centroid(cell)`: each cell of `cells` gets its own table over
    * `q − centroid(cell)` — nprobe·m·ksub doubles, driver-cheap, the
    * subtraction a double fold in element order (oracle parity). The
    * model's `residual` flag picks the construction, as in [[pqEncodeFor]]. */
  def pqTables(pq: PqModel, query: Seq[Float], cents: Array[(Int, Array[Double])],
               cells: Seq[Int]): Seq[(Option[Int], Array[Array[Double]])] =
    if (!pq.residual) Seq(None -> pqLut(pq, query))
    else {
      require(cells.nonEmpty, "a residual PQ model scores codes per probed cell; no cells given")
      val centMap = cents.toMap
      cells.sorted.map { cell =>
        val cent = centMap(cell)
        Some(cell) -> pqLutD(pq, query.indices.map(j => query(j).toDouble - cent(j)))
      }
    }

  /** The ADC distance column over a [[pqEncode]]d frame, the one written
    * form of the fold: Σ_s table[s][codes_s], each partial rounded to 6
    * then summed as DECIMAL — order-free, so the fold replays on any
    * engine. The [[pqTables]] ride the plan as m ksub-element literal
    * arrays (m lookups + adds per row — no join, no shuffle; the corpus is
    * scanned from codes alone); per-cell tables are picked by the row's
    * `cell` through a chained conditional. */
  def pqAdcCol(pq: PqModel, tables: Seq[(Option[Int], Array[Array[Double]])]): Column = {
    import org.apache.spark.sql.types.DecimalType
    def adc(lut: Array[Array[Double]]): Column = (0 until pq.m).map { s =>
      round(element_at(typedLit(lut(s).toSeq), col("codes").getItem(s) + 1), 6)
        .cast(DecimalType(18, 6))
    }.reduce(_ + _).cast(DecimalType(18, 6)).cast("double")
    tables match {
      case Seq((None, lut)) => adc(lut)
      case (Some(first), lut) +: rest =>
        rest.foldLeft(when(col("cell") === first, adc(lut))) {
          case (acc, (cell, t)) => acc.when(col("cell") === cell.get, adc(t))
        }
      case _ => throw new IllegalArgumentException(s"malformed ADC tables: ${tables.map(_._1)}")
    }
  }

  /** LOUD bound on PQ shortlists: [[pqRanked]]'s refine BROADCASTS the
    * shortlist onto the raw-vector scan (its whole point — the corpus is
    * never re-ranked), so fetchN must stay broadcast-sized. 2¹⁶ rows ×
    * (id + adc) is comfortably inside any broadcast budget; a caller
    * wanting more should widen the codebook (ksub) instead — recall per
    * shortlist row is the dial that actually scales (Recall's pq_scaled
    * measurement). Mirrors [[Retrieval.MaxFetchN]]'s contract-enforced
    * pattern. */
  val MaxFetchN = 65536

  /** Size-aware PQ codebook width (the [[Dedup.nBitsFor]] discipline for
    * the PQ family): ksub = clamp(n/8, 16, 256). INTEGER-ONLY on purpose
    * — truncating division then min/max, no float ratio — so any engine
    * replaying the rule from COUNT(*) computes the same width. Rationale:
    * on a structureless corpus codebook resolution must grow with n
    * (Recall's pq_scaled measurement: frozen ksub=16 → 0.2 at sf0.1,
    * scaled → 1.0); 256 caps the code at one byte per subspace — past
    * that, recall should come from fetchN/nprobe, not a wider code. */
  def pqKsubFor(n: Long): Int = {
    require(n >= 1, s"need a non-empty corpus to size ksub, got n=$n")
    math.min(256L, math.max(16L, n / 8L)).toInt
  }

  /** Size-aware refine-shortlist width: fetchN = clamp(n/4, 4·k,
    * [[MaxFetchN]]). Integer-only (see [[pqKsubFor]]); past the
    * broadcast cap recall must come from ksub, not an ever-wider
    * driver-side shortlist. */
  def pqFetchNFor(n: Long, k: Int): Int = {
    require(n >= 0 && k >= 1, s"need n >= 0 and k >= 1, got n=$n k=$k")
    math.min(MaxFetchN.toLong, math.max(k.toLong * 4L, n / 4L)).toInt
  }

  /** PQ top-k by ADC alone: (id, adc) for the k code-nearest rows, ties
    * by id — [[pqRanked]]'s shortlist stage. A plain model only: a
    * residual one needs its cells' centroids ([[queryIvfPq]]). */
  def queryPqAdc(encoded: DataFrame, model: PqModel, idCol: String,
                 query: Seq[Float], k: Int, excludeIds: Seq[Any] = Nil): DataFrame = {
    requirePlain(model, "queryPqAdc")
    pqShortlist(excluding(encoded, idCol, excludeIds), model, idCol, Seq(query), Array.empty, Nil, k)
      .select(col(idCol), col("dist").as("adc"))
  }

  /** The one two-stage PQ read, every query of `queries` served by one
    * pass of each stage. The shortlist ranks each query's [[pqAdcCol]]
    * over the `codes` rows to its `fetchN` nearest — inside its own
    * probed cells `cells(q)` when cells are given — reading only (id,
    * codes[, cell]); the refine ranks each query's exact `space` distance
    * over the `raw` rows (id, vecCol) of its shortlist to `k`. Both stages
    * are [[KnnTopK]] nodes ordered by `(score, id)`, and the shortlist
    * (at most nq·fetchN rows) BROADCASTS onto the raw scan. Output
    * `(qid, rnk, id, adc, dist)`: both floats pass through a terminal
    * ROUND(x, 4) (SURVEY §2.D rule 2): the round-6 DECIMAL partial fold
    * makes the adc SUM order-free, but the raw L2 partials feeding it can
    * land on opposite sides of a 0.5e-6 boundary on an independent engine
    * — the coarser output round absorbs those boundary flips (both ranks
    * use the unrounded values). roundz, not round (rule 2c): the shortlist
    * can hold a stored query vector itself, whose exact cosine distance is
    * a tiny negative, and the signed zero must die structurally. */
  def pqRanked(codes: DataFrame, raw: DataFrame, pq: PqModel, idCol: String, vecCol: String,
               queries: Seq[Seq[Float]], cents: Array[(Int, Array[Double])],
               cells: Seq[Seq[Int]], k: Int, fetchN: Int, space: String): DataFrame = {
    require(fetchN >= k, s"fetchN ($fetchN) must be >= k ($k)")
    require(fetchN <= MaxFetchN,
      s"fetchN ($fetchN) exceeds MaxFetchN ($MaxFetchN) — the shortlist broadcasts; widen ksub instead")
    val shortlist = pqShortlist(codes, pq, idCol, queries, cents, cells, fetchN)
      .select(col(idCol), col("qid").as("__sq"), col("dist").as("adc"))
    KnnTopK.batch(raw.select(col(idCol), col(vecCol)).join(broadcast(shortlist), Seq(idCol)),
        idCol, queries.map(v => Distances.bySpace(space)(col(vecCol), typedLit(v))), k,
        queries.indices.map(q => col("__sq") === q), Seq(vecCol, "__sq"))
      .select(col("qid"), col("rnk"), col(idCol),
        Distances.roundz(col("adc"), 4).as("adc"), Distances.roundz(col("dist"), 4).as("dist"))
  }

  /** The shortlist stage of [[pqRanked]]: each query's `n` ADC-nearest
    * `codes` rows, long form `(id, qid, dist, rnk)` with the ADC as `dist`. */
  private def pqShortlist(codes: DataFrame, pq: PqModel, idCol: String,
                          queries: Seq[Seq[Float]], cents: Array[(Int, Array[Double])],
                          cells: Seq[Seq[Int]], n: Int): DataFrame = {
    val layout = if (cells.isEmpty) Seq("codes") else Seq("codes", "cell")
    KnnTopK.batch(codes.select((idCol +: layout).map(col): _*), idCol,
      queries.zipWithIndex.map { case (v, q) =>
        pqAdcCol(pq, pqTables(pq, v, cents, cells.lift(q).getOrElse(Nil)))
      }, n, cells.map(c => col("cell").isin(c: _*)), layout)
  }

  /** A residual model's codes encode `v − centroid(cell)`: a read without
    * the cells' centroids would rank them against raw-query tables and
    * return wrong neighbours with no error. */
  private def requirePlain(pq: PqModel, op: String): Unit =
    require(!pq.residual, s"$op reads raw-vector codes, but this PQ model is residual " +
      "(codes encode v − centroid(cell)); query it through queryIvfPq with its IVF model")

  private def excluding(df: DataFrame, idCol: String, excludeIds: Seq[Any]): DataFrame =
    if (excludeIds.isEmpty) df else df.filter(!col(idCol).isin(excludeIds: _*))

  /** Persist a PQ code table: (id, codes) parquet — m small ints per row
    * instead of dim floats, the ingestion-time form of [[pqEncode]] (the
    * 32× smaller scan every later ADC query pays instead of the raw
    * corpus). Codebooks ride along as a sidecar (`_pq_codebooks.txt`:
    * "s c v0 v1 …" per line) so later sessions query without the
    * in-memory model. Map-only write, no shuffle. */
  def writePq(encoded: DataFrame, idCol: String, model: PqModel, path: String): Unit = {
    encoded.select(col(idCol), col("codes"))
      .write.mode("overwrite").parquet(path)
    writePqSidecar(new org.apache.hadoop.fs.Path(path), model,
      encoded.sparkSession.sparkContext.hadoopConfiguration)
  }

  /** Write the `_pq_codebooks.txt` sidecar into `dir` (shared by the
    * standalone [[writePq]] layout and the collection's PQ index build). */
  def writePqSidecar(dir: org.apache.hadoop.fs.Path, model: PqModel,
                     hadoopConf: org.apache.hadoop.conf.Configuration): Unit = {
    val sidecar = new org.apache.hadoop.fs.Path(dir, "_pq_codebooks.txt")
    val fs = sidecar.getFileSystem(hadoopConf)
    val out = fs.create(sidecar, true)
    val header = s"dim ${model.dim} m ${model.m}" +
      (if (model.residual) " residual" else "")
    val lines = for {
      s <- 0 until model.m; c <- 0 until model.ksub
    } yield s"$s $c ${model.codebooks(s)(c).mkString(" ")}"
    try out.write((header +: lines).mkString("\n")
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
  }

  /** Parse a [[writePqSidecar]] sidecar under `dir` (None if absent).
    * LOUD on a malformed file — codes are meaningless without their
    * codebooks, so a half-written sidecar must never half-succeed. */
  def readPqSidecar(dir: org.apache.hadoop.fs.Path,
                    hadoopConf: org.apache.hadoop.conf.Configuration): Option[PqModel] =
    readSidecarText(new org.apache.hadoop.fs.Path(dir, "_pq_codebooks.txt"),
        hadoopConf).map { text =>
      val lines = text.split("\n").filter(_.nonEmpty)
      require(lines.nonEmpty && lines.head.startsWith("dim "),
        s"malformed PQ codebook sidecar at $dir: bad header")
      val header = lines.head.split(" ")
      // header: "dim D m M" (raw-vector codes) or "dim D m M residual"
      require((header.length == 4 || (header.length == 5 && header(4) == "residual"))
          && header(2) == "m",
        s"malformed PQ codebook sidecar at $dir: bad header '${lines.head}'")
      val (dim, m) = (header(1).toInt, header(3).toInt)
      val residual = header.length == 5
      val entries = lines.tail.map { line =>
        val parts = line.split(" ")
        ((parts(0).toInt, parts(1).toInt), parts.drop(2).map(_.toDouble))
      }.toMap
      val ksub = entries.keys.map(_._2).max + 1
      require(entries.size == m * ksub,
        s"malformed PQ codebook sidecar at $dir: ${entries.size} entries for m=$m ksub=$ksub")
      PqModel(dim, m, Array.tabulate(m)(s => Array.tabulate(ksub)(c => entries((s, c)))),
        residual)
    }

  /** Read back a [[writePq]] layout: (code table, model). LOUD when the
    * sidecar is missing or malformed. */
  def readPq(spark: org.apache.spark.sql.SparkSession, path: String)
      : (DataFrame, PqModel) = {
    val model = readPqSidecar(new org.apache.hadoop.fs.Path(path),
        spark.sparkContext.hadoopConfiguration)
      .getOrElse(throw new IllegalArgumentException(
        s"PQ layout at $path has no _pq_codebooks.txt sidecar"))
    (spark.read.parquet(path), model)
  }

  /** Two-stage PQ read: ADC over codes shortlists `fetchN` candidates,
    * then exact `space` distance over their RAW vectors re-ranks to k —
    * the standard PQ recall recovery (fetchN raw-vector fetches instead
    * of a corpus-wide scan), [[pqRanked]] for one query. Output (id, adc,
    * dist). A plain model only: a residual one needs its cells'
    * centroids ([[queryIvfPq]]). */
  def queryPqRefined(encoded: DataFrame, corpus: DataFrame, model: PqModel,
                     idCol: String, vecCol: String, query: Seq[Float],
                     k: Int, fetchN: Int, space: String = "l2",
                     excludeIds: Seq[Any] = Nil): DataFrame = {
    requirePlain(model, "queryPqRefined")
    pqRanked(excluding(encoded, idCol, excludeIds), corpus, model, idCol, vecCol, Seq(query),
      Array.empty, Nil, k, fetchN, space).select(col(idCol), col("adc"), col("dist"))
  }

  /** IVF-PQ, the canonical composition (FAISS's IVFPQ): the corpus is
    * cell-PARTITIONED (IVF prunes which rows the query lists/reads) and
    * code-COMPRESSED (PQ shrinks what each pruned row costs) — at 100 TB
    * a query touches nprobe/nlist of the directories and reads m bytes
    * per row in them, then re-ranks a bounded fetchN shortlist against
    * raw vectors ([[pqRanked]] for one query). `assignedEncoded` carries
    * both layouts' columns (`cell`, `codes`) — in production the
    * [[writeIvf]]-partitioned form of a [[pqEncodeFor]]-encoded corpus: a
    * residual model's rows score through per-probed-cell tables
    * ([[pqTables]]). Output (id, adc, dist). */
  def queryIvfPq(assignedEncoded: DataFrame, ivf: IvfModel, pq: PqModel,
                 corpus: DataFrame, idCol: String, vecCol: String,
                 query: Seq[Float], k: Int, nprobe: Int, fetchN: Int,
                 space: String = "l2", excludeIds: Seq[Any] = Nil): DataFrame = {
    val cells = nearestCells(ivf, query, nprobe)
    pqRanked(excluding(assignedEncoded.filter(col("cell").isin(cells: _*)), idCol, excludeIds),
      corpus, pq, idCol, vecCol, Seq(query), ivf.centroids, Seq(cells), k, fetchN, space)
      .select(col(idCol), col("adc"), col("dist"))
  }

  // ---- Residual IVF-PQ (the full Jégou construction, §IV-A) ----
  //
  // Plain IVF-PQ quantizes raw vectors, so every codebook must span the
  // whole corpus's spread. The original construction quantizes the
  // RESIDUAL r = v − centroid(cell(v)) instead: residuals concentrate
  // near 0 regardless of where cells sit, so the same ksub codes spend
  // their resolution on the part of the vector the cell has not already
  // explained — strictly better ADC fidelity at identical storage. The
  // price: the query's ADC table becomes PER-CELL (lut[cell][s][c] =
  // ‖sub_s(q − centroid_cell) − cb_s_c‖²) — still nprobe·m·ksub doubles,
  // driver-cheap — and encode needs each row's centroid, a broadcast of
  // the nlist-row centroid table.

  /** Subtract each row's cell centroid: `vecCol − centroids(cell)`,
    * element order preserved (fold parity with the SQL replay). Expects
    * the `cell` column from [[assignCells]]. */
  def residuals(assigned: DataFrame, vecCol: String,
                cents: Array[(Int, Array[Double])]): org.apache.spark.sql.Column = {
    val centArr = map(cents.flatMap { case (i, c) =>
      Seq(lit(i), typedLit(c.toSeq)) }.toIndexedSeq: _*)
    zip_with(col(vecCol).cast("array<double>"),
      element_at(centArr, col("cell")), (x, c) => x - c)
  }

  /** Residual-encode an [[assignCells]]-assigned frame: codes over
    * `v − centroid(cell)` under `model`'s codebooks (which should have
    * been trained on residuals — [[buildPqResidualSeeded]]). */
  def pqEncodeResidual(assigned: DataFrame, vecCol: String,
                       cents: Array[(Int, Array[Double])], model: PqModel): DataFrame = {
    val withRes = assigned.withColumn("__res", residuals(assigned, vecCol, cents))
    pqEncode(withRes, "__res", model).drop("__res")
  }

  /** Residual-aware encode dispatch: the store's build/refresh paths call
    * this so a residual model can never be fed raw vectors (or vice
    * versa) — the sidecar flag picks the construction. */
  def pqEncodeFor(assigned: DataFrame, vecCol: String,
                  cents: Array[(Int, Array[Double])], model: PqModel): DataFrame =
    if (model.residual) pqEncodeResidual(assigned, vecCol, cents, model)
    else pqEncode(assigned, vecCol, model)

  /** Train residual-PQ codebooks from seed rows: subspace s's centroids
    * are the s-th subvectors of the seeds' RESIDUALS (seed − its own
    * cell centroid), in seed order — [[buildPqSeeded]] over the residual
    * column, the same delegation [[pqEncodeResidual]] uses, so seed
    * lookup/validation/slicing live in one place. */
  def buildPqResidualSeeded(assigned: DataFrame, idCol: String, vecCol: String,
                            cents: Array[(Int, Array[Double])],
                            dim: Int, m: Int, seedIds: Seq[Any]): PqModel =
    buildPqSeeded(
      assigned.withColumn("__res", residuals(assigned, vecCol, cents)),
      idCol, "__res", dim, m, seedIds).copy(residual = true)

  /** TRAINED residual-PQ codebooks: [[buildPq]]'s sampled Lloyd over the
    * residual column — the same delegation [[buildPqResidualSeeded]]
    * uses, so sampling/validation/slicing live in one place. Residuals
    * concentrate near zero regardless of where cells sit, so trained
    * residual codebooks spend their whole resolution on what the cell
    * has not already explained — the production form of the full Jégou
    * construction. */
  def buildPqResidual(assigned: DataFrame, idCol: String, vecCol: String,
                      cents: Array[(Int, Array[Double])],
                      dim: Int, m: Int, ksub: Int, seed: Long = 42L,
                      iterations: Int = 15, maxTrainRows: Int = 65536): PqModel =
    buildPq(
      assigned.withColumn("__res", residuals(assigned, vecCol, cents)),
      idCol, "__res", dim, m, ksub, seed, iterations, maxTrainRows)
      .copy(residual = true)

  /** recall@k of an approximate kNN result against the exact one (same
    * query, same k): |approx ∩ exact| / |exact|. One row, `recall`
    * column; both inputs are k-row frames, so this is driver-cheap. */
  def recallAtK(approx: DataFrame, exact: DataFrame, idCol: String): DataFrame = {
    // distinct both sides: an undeduped approx list (e.g. a multi-probe
    // union) must not count a hit twice and report recall > 1
    val hits = approx.select(col(idCol)).distinct()
      .join(exact.select(col(idCol)).distinct(), Seq(idCol), "left_semi")
      .agg(count(lit(1)).as("hits"))
    val tot = exact.select(col(idCol)).distinct().agg(count(lit(1)).as("total"))
    hits.crossJoin(tot)
      // empty exact set: vacuously nothing to find — 1.0, not null
      .select(when(col("total") === 0, lit(1.0))
        .otherwise(col("hits").cast("double") / col("total")).as("recall"))
  }
}
