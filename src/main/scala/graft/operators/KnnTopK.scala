package graft.operators

import scala.jdk.CollectionConverters._

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, GraftColumnShim, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Alias, Ascending, Attribute, AttributeReference,
  AttributeSet, BindReferences, Expression, GenericInternalRow, JoinedRow, NamedExpression, SortOrder,
  UnsafeProjection}
import org.apache.spark.sql.catalyst.expressions.codegen.LazilyGeneratedOrdering
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Project, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{Partitioning, SinglePartition}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.execution.{ShuffledRowRDD, SparkPlan, SparkStrategy, UnaryExecNode,
  UnsafeRowSerializer}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.metric.{SQLShuffleReadMetricsReporter,
  SQLShuffleWriteMetricsReporter}
import org.apache.spark.sql.functions.{col, typedLit, when}
import org.apache.spark.sql.types.{ArrayType, DoubleType, IntegerType}

import graft.functions.Distances

/** Per-query top-k over ONE corpus scan, executed as ONE Spark job when
  * collected — the body of `Collection.queryBatch`/`queryStruct` and of
  * both stages of every PQ read ([[Ann.pqRanked]]).
  *
  * The scan stage (the child) computes each query's score column: on the
  * kNN reads the codegen'd [[Distances.bySpace]] on that query's literal
  * vector, on a PQ read its ADC sum or its exact refine distance. A
  * per-query `probed` flag, when given, marks the rows that query may
  * rank (inside its probed cells, or in its shortlist), and a row outside
  * it is skipped for that query. Each
  * task keeps a size-k heap per query, ordered by Catalyst's own
  * `dist ASC, id ASC` (nulls first, NaN last, −0.0 = 0.0 — what a
  * `row_number` window over the same keys ranks), and ships only its
  * survivors, payload included; the driver merges at most nq·k rows per
  * task (REPOSE's local-top-k + global-merge split). `executeCollect`,
  * `executeTake` and `executeToIterator` run that one job; a parent
  * operator reading the rows (`doExecute`) gets the same heaps merged
  * behind a single-partition shuffle, as `TakeOrderedAndProjectExec` does.
  *
  * Output: the long form `(payload…, qid, dist, rnk)`, or with `fold` the
  * presentation form `(qid, lists…)` — one row per query vector in qid
  * order (empty lists when it has no hits), each list the rank-ordered
  * values of one fold expression over the long rows, evaluated on the
  * driver by Catalyst. The node stays lazy: constructing it runs no job,
  * and `inputFiles` sees the scan through the child. */
case class KnnTopK(
    payload: Seq[Attribute], idAttr: Attribute, dists: Seq[Attribute], probed: Seq[Attribute],
    k: Int, qid: Attribute, dist: Attribute, rnk: Attribute,
    foldExprs: Seq[Expression], foldOut: Seq[Attribute], child: LogicalPlan)
    extends UnaryNode {
  def long: Seq[Attribute] = payload ++ Seq(qid, dist, rnk)
  override def output: Seq[Attribute] = if (foldOut.isEmpty) long else qid +: foldOut
  override def producedAttributes: AttributeSet = AttributeSet(Seq(qid, dist, rnk) ++ foldOut)
  override protected def withNewChildInternal(c: LogicalPlan): KnnTopK = copy(child = c)

  /** This node carrying only the payload `used` references (the id always
    * stays: it breaks ties), its child narrowed to match — what column
    * pruning does for the operators Catalyst knows. */
  def pruned(used: AttributeSet): KnnTopK = {
    val kept = payload.filter(a => used.contains(a) || a.exprId == idAttr.exprId)
    if (kept.size == payload.size) this
    else {
      val needed = AttributeSet(kept ++ dists ++ probed)
      copy(payload = kept, child = child match {
        case Project(list, below) => Project(list.filter(e => needed.contains(e.toAttribute)), below)
        case other => other
      })
    }
  }
}

/** Column pruning through an unfolded [[KnnTopK]]: a projection above it
  * narrows the payload its scan reads. */
object KnnTopKPruning extends Rule[LogicalPlan] {
  override def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
    case p @ Project(list, n: KnnTopK) if n.foldOut.isEmpty =>
      val narrowed = n.pruned(AttributeSet(list.flatMap(_.references)))
      if (narrowed eq n) p else p.copy(child = narrowed)
  }
}

case class KnnTopKExec(
    payload: Seq[Attribute], idAttr: Attribute, dists: Seq[Attribute], probed: Seq[Attribute],
    k: Int, qid: Attribute, dist: Attribute, rnk: Attribute,
    foldExprs: Seq[Expression], foldOut: Seq[Attribute], child: SparkPlan)
    extends UnaryExecNode {
  private def long: Seq[Attribute] = payload ++ Seq(qid, dist, rnk)
  override def output: Seq[Attribute] = if (foldOut.isEmpty) long else qid +: foldOut
  override def outputPartitioning: Partitioning = SinglePartition
  override protected def withNewChildInternal(c: SparkPlan): KnnTopKExec = copy(child = c)

  private lazy val writeMetrics = SQLShuffleWriteMetricsReporter.createShuffleWriteMetrics(sparkContext)
  private lazy val readMetrics = SQLShuffleReadMetricsReporter.createShuffleReadMetrics(sparkContext)
  override lazy val metrics = readMetrics ++ writeMetrics

  /** A task's survivors: `(payload…, qid, dist)`. */
  private def candidates: Seq[Attribute] = payload ++ Seq(qid, dist)

  /** Each task's size-k heap per query, emitted as candidate rows. */
  private def localTopK(rows: RDD[InternalRow]): RDD[InternalRow] = {
    val in = child.output
    val ords = dists.map(d => new LazilyGeneratedOrdering(
      Seq(SortOrder(d, Ascending), SortOrder(idAttr, Ascending)), in))
    val distAt = dists.map(d => in.indexWhere(_.exprId == d.exprId))
    val probedAt = probed.map(p => in.indexWhere(_.exprId == p.exprId))
    val toCandidate = BindReferences.bindReferences(payload ++ Seq(qid, dist), in ++ Seq(qid, dist))
    val (n, cap) = (dists.size, math.min(k, 1024))
    rows.mapPartitions { it =>
      val project = UnsafeProjection.create(toCandidate)
      val heaps = ords.map(o => new java.util.PriorityQueue[InternalRow](cap, o.reverse))
      it.foreach { row =>
        var kept: InternalRow = null
        var q = 0
        while (q < n) {
          if (probedAt.isEmpty || (!row.isNullAt(probedAt(q)) && row.getBoolean(probedAt(q)))) {
            val h = heaps(q)
            if (h.size < k || ords(q).compare(row, h.peek) < 0) {
              if (kept == null) kept = row.copy()
              if (h.size == k) h.poll()
              h.add(kept)
            }
          }
          q += 1
        }
      }
      val joined = new JoinedRow
      heaps.iterator.zipWithIndex.flatMap { case (h, q) =>
        h.iterator.asScala.map { r =>
          val d = if (r.isNullAt(distAt(q))) null else r.getDouble(distAt(q))
          project(joined(r, new GenericInternalRow(Array[Any](q, d)))).copy()
        }
      }
    }
  }

  /** The global merge of every task's candidates, then the output form. */
  private def merged(cands: Iterator[InternalRow]): Iterator[InternalRow] = {
    val cand = candidates
    val ord = new LazilyGeneratedOrdering(
      Seq(SortOrder(dist, Ascending), SortOrder(idAttr, Ascending)), cand)
    val qAt = payload.size
    // a shuffle read reuses one row object: copy before holding
    val byQuery = cands.map(_.copy()).toSeq.groupBy(_.getInt(qAt))
    val toLong = UnsafeProjection.create(
      BindReferences.bindReferences(long, cand :+ rnk))
    val joined = new JoinedRow
    val ranked = (0 until dists.size).map { q =>
      byQuery.getOrElse(q, Nil).sorted(ord).take(k).zipWithIndex.map { case (r, i) =>
        toLong(joined(r, new GenericInternalRow(Array[Any](i + 1)))).copy(): InternalRow
      }
    }
    val rows =
      if (foldOut.isEmpty) ranked.iterator.flatten
      else {
        val exprs = BindReferences.bindReferences(foldExprs, long)
        ranked.iterator.zipWithIndex.map { case (hits, q) =>
          new GenericInternalRow((q +: exprs.map(e =>
            new GenericArrayData(hits.map(e.eval(_)).toArray))).toArray[Any]): InternalRow
        }
      }
    val unsafe = UnsafeProjection.create(output.map(_.dataType).toArray)
    rows.map(r => unsafe(r).copy())
  }

  override def executeCollect(): Array[InternalRow] =
    merged(localTopK(child.execute()).collect().iterator).toArray

  override def executeTake(n: Int): Array[InternalRow] = executeCollect().take(n)

  override def executeToIterator(): Iterator[InternalRow] = executeCollect().iterator

  protected override def doExecute(): RDD[InternalRow] = {
    val cand = candidates
    val single = new ShuffledRowRDD(
      ShuffleExchangeExec.prepareShuffleDependency(localTopK(child.execute()), cand,
        SinglePartition, new UnsafeRowSerializer(cand.size), writeMetrics),
      readMetrics)
    single.mapPartitions(merged)
  }
}

/** Plans [[KnnTopK]]; installed once per session by [[KnnTopK.setup]]. */
object KnnTopKStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case n: KnnTopK => KnnTopKExec(n.payload, n.idAttr, n.dists, n.probed, n.k, n.qid, n.dist,
      n.rnk, n.foldExprs, n.foldOut, planLater(n.child)) :: Nil
    case _ => Nil
  }
}

object KnnTopK {

  /** Installs [[KnnTopKStrategy]] and [[KnnTopKPruning]] into `session`
    * unless they are there. */
  def setup(session: SparkSession): Unit = {
    val ext = session.experimental
    ext.synchronized {
      if (!ext.extraStrategies.contains(KnnTopKStrategy))
        ext.extraStrategies = KnnTopKStrategy +: ext.extraStrategies
      if (!ext.extraOptimizations.contains(KnnTopKPruning))
        ext.extraOptimizations = ext.extraOptimizations :+ KnnTopKPruning
    }
  }

  /** Long-form per-query top-k of `corpus`, ranked by `(score, id)`: its
    * columns minus `dropCols`, then `qid` (0-based position in `scores`),
    * `dist` (that query's score) and `rnk` (1-based). `scores(q)` is query
    * q's score column over the corpus rows; `probed(q)`, when given, is the
    * predicate selecting the rows query q may rank. */
  def batch(corpus: DataFrame, idCol: String, scores: Seq[Column], k: Int,
            probed: Seq[Column], dropCols: Seq[String]): DataFrame = {
    require(probed.isEmpty || probed.size == scores.size,
      s"${probed.size} probe predicates for ${scores.size} queries")
    val spark = corpus.sparkSession
    setup(spark)
    val kept = GraftColumnShim.analyzed(corpus).output.filterNot(a => dropCols.contains(a.name))
    val scored = scores.zipWithIndex.map { case (d, q) =>
      (if (probed.isEmpty) d else when(probed(q), d)).as(s"__dist$q")
    }
    val flags = probed.zipWithIndex.map { case (p, q) => p.as(s"__probed$q") }
    val child = GraftColumnShim.analyzed(
      corpus.select(kept.map(GraftColumnShim.column) ++ scored ++ flags: _*))
    val out = child.output
    val payload = out.take(kept.size)
    val dists = out.slice(kept.size, kept.size + scores.size)
    require(dists.forall(_.dataType == DoubleType),
      s"score columns must be double, got ${dists.map(_.dataType.simpleString).distinct.mkString(", ")}")
    val node = KnnTopK(payload,
      payload.find(_.name == idCol).getOrElse(throw new IllegalArgumentException(
        s"no id column '$idCol' among ${payload.map(_.name).mkString(", ")}")),
      dists, out.drop(kept.size + scores.size), k,
      AttributeReference("qid", IntegerType, nullable = false)(),
      AttributeReference("dist", DoubleType)(),
      AttributeReference("rnk", IntegerType, nullable = false)(),
      Nil, Nil, child)
    GraftColumnShim.frame(spark, node)
  }

  /** [[batch]] scored by each query vector's [[Distances.bySpace]]
    * distance to `vecCol`, which the output drops unless `keepVector`. */
  def batch(corpus: DataFrame, idCol: String, vecCol: String, queryVecs: Seq[Seq[Float]],
            k: Int, space: String, probed: Seq[Column] = Nil, dropCols: Seq[String] = Nil,
            keepVector: Boolean = false): DataFrame =
    batch(corpus, idCol, queryVecs.map(v => Distances.bySpace(space)(col(vecCol), typedLit(v))),
      k, probed, if (keepVector) dropCols else dropCols :+ vecCol)

  /** The presentation fold of a [[batch]] frame, inside the same job: one
    * row per query vector, `qid` then one list per column of `lists`
    * (each aliased to its list name, evaluated per hit over the long form
    * and gathered in rank order). */
  def fold(batch: DataFrame, lists: Seq[Column]): DataFrame = {
    val node = GraftColumnShim.analyzed(batch) match {
      case n: KnnTopK if n.foldOut.isEmpty => n
      case other => throw new IllegalArgumentException(
        s"fold needs an unfolded KnnTopK.batch frame, got ${other.nodeName}")
    }
    val named: Seq[NamedExpression] = GraftColumnShim.analyzed(batch.select(lists: _*)) match {
      case Project(list, _) => list
      case other => throw new IllegalStateException(s"unexpected fold plan ${other.nodeName}")
    }
    val exprs = named.map {
      case a: Alias => a.child
      case e => e
    }
    val out = named.map(e =>
      AttributeReference(e.name, ArrayType(e.dataType, e.nullable), nullable = false)())
    GraftColumnShim.frame(batch.sparkSession, node.pruned(AttributeSet(exprs.flatMap(_.references)))
      .copy(foldExprs = exprs, foldOut = out))
  }
}
