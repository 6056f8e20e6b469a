package graft.catalog

import org.apache.hadoop.fs.Path

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** The resolved-read cache: what a reader would otherwise re-learn on every
  * call about a COMMITTED data version or index build. A dir is immutable
  * once its `_graft_committed` marker lands, so each fact is a pure function
  * of the dir — metadata, never results:
  *  - its read plan ([[Carry.readResolved]]): one [[OwnerRead]] per physical
  *    owner dir, each with its resolved schema, so a hit builds the frame
  *    with `spark.read.schema(...)` and runs no `mergeSchema` inference job
  *    (carried versions and carried builds included);
  *  - the schema of a read bound to some of a data version's leaf dirs
  *    (the `graft` SQL source);
  *  - a data version's embedding dimension and row count;
  *  - an index build's centroids, PQ codebooks and keyword analyzer stamp.
  *
  * Key: `<dir>@<marker mtime>`. A path can be reborn — drop a collection,
  * recreate it under the same name and write again, and the same
  * `data_v000001` or `kwindex_v000001.b000` reappears — but the reborn dir's
  * marker is a new file, so its mtime is the nonce that keeps the dead dir's
  * facts from answering for it. A dir without a marker (claimed, in flight,
  * or reclaimed mid-read) is never cached: its facts are computed by the
  * uncached read, every time. The size is bounded by a coarse clear, like
  * [[Collection.staleProbe]]: re-learning is the only cost. */
private[catalog] object ResolvedCache {
  private val MaxFacts = 65536

  private val facts = new java.util.concurrent.ConcurrentHashMap[String, AnyRef]()

  /** One physical owner read of a resolved dir: `base` whole (`parts`
    * empty), or its partition dirs `parts` (sorted) under `base` as
    * `basePath`, with the schema that read resolves to. */
  final case class OwnerRead(base: Path, parts: Seq[String], schema: StructType)

  /** `<dir>@<marker mtime>`; None while `dir` carries no marker. */
  private def keyOf(io: StoreIO, dir: Path): Option[String] =
    try Some(s"$dir@${io.modTime(new Path(dir, CollectionMeta.CommittedName))}")
    catch { case _: java.io.FileNotFoundException | _: java.nio.file.NoSuchFileException => None }

  /** Fact `fact` of `dir`: cached while `dir` is committed, else
    * `compute` (which a miss also runs, once, to fill the cache). */
  def memo[A <: AnyRef](io: StoreIO, dir: Path, fact: String)(compute: => A): A =
    keyOf(io, dir).fold(compute) { k =>
      val key = s"$k|$fact"
      Option(facts.get(key)).map(_.asInstanceOf[A]).getOrElse {
        val v = compute
        if (facts.size > MaxFacts) facts.clear()
        facts.put(key, v)
        v
      }
    }

  /** The schema a `mergeSchema` read of exactly the leaf dirs `leaves` of
    * committed `dir` infers (one Spark job on a miss), keyed on the leaf
    * set too: a read bound to a subset of the leaves keeps the schema its
    * own dirs infer. */
  def leafSchema(spark: SparkSession, io: StoreIO, dir: Path, leaves: Seq[String]): StructType =
    memo(io, dir, leaves.sorted.mkString("leaves|", "|", "")) {
      spark.read.option("mergeSchema", "true").parquet(leaves: _*).schema
    }

  /** The parquet read of one owner: with `schema` given, no inference;
    * without, `mergeSchema` inference over the read's footers (one Spark
    * job). The option rides both forms, so the relations are alike. */
  def ownerRead(spark: SparkSession, base: Path, parts: Seq[String],
                schema: Option[StructType]): DataFrame = {
    val merged = spark.read.option("mergeSchema", "true")
    val reader = schema.fold(merged)(merged.schema)
    if (parts.isEmpty) reader.parquet(base.toString)
    else reader.option("basePath", base.toString)
      .parquet(parts.map(p => new Path(base, p).toString): _*)
  }
}
