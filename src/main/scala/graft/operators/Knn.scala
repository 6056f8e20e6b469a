package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.Distances

/** Brute-force exact top-k nearest-neighbor search over any frame
  * (`collection.query(query_embeddings, n_results, where, where_document)`,
  * reference README.md:5 "similarity search"). [[topK]] is also the plan of
  * `Collection.query` (one vector: a `TakeOrderedAndProject`, one job);
  * the collection's batch and Chroma-shaped reads (`queryBatch`,
  * `queryStruct`) run [[KnnTopK]] instead. [[topKBatch]] and
  * [[hardNegatives]] are the library's broadcast-and-window forms.
  *
  * Design for scale (100 TB):
  *  - The query side is always tiny (a handful of vectors) → `broadcast()` it,
  *    so the join is a BroadcastNestedLoopJoin with NO shuffle of the corpus.
  *  - Per-query top-k uses `row_number` over a window partitioned by query id;
  *    Spark ≥3.5 plans this as WindowGroupLimit (rank pushdown), so each
  *    shuffle partition only keeps k rows — no global sort of distances.
  *  - Metadata/document prefilters are applied BEFORE the distance compute so
  *    Catalyst pushes them into the parquet scan.
  *  - Ties broken by id ascending (deterministic, oracle-stable).
  */
object Knn {

  /** Top-k rows of `corpus` nearest to a single literal query vector.
    *
    * @param corpus     table with an id column and a vector column
    * @param idCol      unique id column name (tie-break key)
    * @param vecCol     ARRAY<FLOAT>/ARRAY<DOUBLE> column name
    * @param queryVec   the query vector
    * @param k          number of neighbors
    * @param space      l2 | ip | cosine
    * @param preFilter  optional metadata/document prefilter (pushed to scan)
    * @param excludeIds ids excluded from the result (e.g. the query itself)
    */
  def topK(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      queryVec: Seq[Float],
      k: Int,
      space: String = "cosine",
      preFilter: Option[Column] = None,
      excludeIds: Seq[Any] = Nil): DataFrame = {
    val q = typedLit(queryVec)
    val base = preFilter.fold(corpus)(corpus.filter)
    val excluded =
      if (excludeIds.isEmpty) base else base.filter(!col(idCol).isin(excludeIds: _*))
    excluded
      .withColumn("dist", Distances.bySpace(space)(col(vecCol), q))
      .orderBy(col("dist"), col(idCol))
      .limit(k)
      .drop(vecCol)
  }

  /** Batch kNN: top-k per query vector, queries broadcast to the corpus.
    *
    * @param queries  small table of (qidCol, qvecCol) — broadcast side
    * @param excludeSelf drop corpus rows whose id equals the query id
    * @return corpus columns minus the vector, plus qid / dist / rnk (1-based)
    */
  def topKBatch(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      queries: DataFrame,
      qidCol: String,
      qvecCol: String,
      k: Int,
      space: String = "cosine",
      preFilter: Option[Column] = None,
      excludeSelf: Boolean = true): DataFrame = {
    val base = preFilter.fold(corpus)(corpus.filter)
    // cosine: precompute each side's norm ONCE (per corpus row / per query)
    // instead of once per (row, query) pair. sqrt(Σx²) is computed from the
    // same fold either way, so results stay bit-identical to the per-pair
    // form the oracle uses.
    val (left, right, dist) = space match {
      case "cosine" =>
        (base.withColumn("__na", sqrt(Distances.normSq(col(vecCol)))),
         queries.select(col(qidCol).as("qid"), col(qvecCol).as("__qvec"),
           sqrt(Distances.normSq(col(qvecCol))).as("__nq")),
         lit(1.0) - Distances.dot(col(vecCol), col("__qvec")) / (col("__na") * col("__nq")))
      case _ =>
        (base,
         queries.select(col(qidCol).as("qid"), col(qvecCol).as("__qvec")),
         Distances.bySpace(space)(col(vecCol), col("__qvec")))
    }
    val joined = left.crossJoin(broadcast(right))
    val scoped =
      if (excludeSelf) joined.filter(col(idCol) =!= col("qid")) else joined
    val w = Window.partitionBy(col("qid")).orderBy(col("dist"), col(idCol))
    scoped
      .withColumn("dist", dist)
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .drop(vecCol, "__qvec", "__na", "__nq")
  }

  /** Hard-negative mining: per query, the top-k NEAREST corpus rows whose
    * label differs from the query's — the negative-sampling step of
    * contrastive retriever training (DPR, Karpukhin et al. 2020: "hard"
    * negatives are near misses, far more informative than random ones).
    *
    * Same 100 TB shape as [[topKBatch]]: the tiny (qid, qvec, qlabel)
    * table broadcasts onto ONE corpus scan; the label-mismatch predicate
    * lands pre-rank so the window only ranks eligible pairs, and the
    * per-group `rnk <= k` takes Spark's WindowGroupLimit path (per-
    * partition top-k heaps, never a full per-query sort).
    *
    * NULL labels are EXCLUDED on both sides, explicitly: a null-labeled
    * corpus row is of unknown class — it could be a positive, and mining
    * it as a "hard negative" would poison the training pairs. (SQL `<>`
    * drops the same rows, so an engine-vs-oracle comparison agrees.)
    *
    * @param queries small table of (qidCol, qvecCol, qlabelCol)
    */
  def hardNegatives(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      labelCol: String,
      queries: DataFrame,
      qidCol: String,
      qvecCol: String,
      qlabelCol: String,
      k: Int,
      space: String = "cosine"): DataFrame = {
    val right = queries.select(col(qidCol).as("qid"),
      col(qvecCol).as("__qvec"), col(qlabelCol).as("__qlabel"))
    val w = Window.partitionBy(col("qid")).orderBy(col("dist"), col(idCol))
    corpus.crossJoin(broadcast(right))
      .filter(col(labelCol).isNotNull && col("__qlabel").isNotNull &&
        col(labelCol) =!= col("__qlabel"))
      .withColumn("dist", Distances.bySpace(space)(col(vecCol), col("__qvec")))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .drop(vecCol, "__qvec", "__qlabel")
  }
}
