package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SQLContext, SaveMode, SparkSession}
import org.apache.spark.sql.execution.datasources.{DataSource, FileIndex, HadoopFsRelation}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.sources.{BaseRelation, CreatableRelationProvider, DataSourceRegister, RelationProvider}
import org.apache.spark.sql.types.{ArrayType, FloatType, NumericType}

import graft.catalog.CollectionCatalog

/** `spark.read.format("graft")` / `df.write.format("graft")` — the
  * plain-Spark-SQL surface over collections, so a SQL-only user (or
  * `CREATE TABLE ... USING graft`, including CTAS) reads and hydrates a
  * collection without touching the Scala API (SURVEY A10's DSv2 note;
  * reference context: the hydrated artifact is MEANT to be consumed by
  * downstream query stacks — README.md:5, and the hydration itself is the
  * reference's whole job — sas:177-190).
  *
  * Read usage:
  *   spark.read.format("graft").option("root", r).option("name", n).load()
  *   spark.read.format("graft").load("<root>/<name>")          // path form
  *   ...option("version", "3")                                  // time travel
  *   ...option("tenant", t).option("database", d)               // namespaces
  *   ...option("ids", "a,b,c")   // point-read listing pruning: binds only
  *                               // those ids' pt bucket dirs (SUPERSET —
  *                               // pair with your own WHERE id IN (...));
  *                               // segments are verbatim (no trimming/
  *                               // escaping) — a comma-containing id
  *                               // cannot use this option. Schema note:
  *                               // the relation's schema is inferred from
  *                               // the PRUNED dirs only, so under
  *                               // cross-version schema evolution a
  *                               // column living only in unbound buckets
  *                               // is absent here (selecting it fails at
  *                               // analysis where the full relation
  *                               // null-fills) — omit `ids` when you need
  *                               // the full evolved schema
  *   CREATE TABLE docs USING graft OPTIONS (root '...', name '...')
  *
  * Write usage (the reference's hydration, as a plain Spark sink):
  *   df.write.format("graft").option("root", r).option("name", n).save()
  *     — default SaveMode.ErrorIfExists: CREATE the collection, error if
  *       the name already exists (chromadb `create_collection`);
  *   .mode("append")                 — add() to the existing collection
  *       (get-or-create first): Chroma `add` semantics, duplicate ids
  *       error loudly;
  *   .mode("append").option("upsert", "true") — upsert() instead:
  *       latest-wins merge (chromadb `upsert`);
  *   .mode("overwrite")              — replace the ENTIRE contents as one
  *       MVCC commit (the whole-collection refresh, not a row-level
  *       overwrite): the prior state stays committed until the new
  *       version's marker lands, superseded versions are then vacuumed,
  *       and collection IDENTITY (bucket count, metadata) survives —
  *       any recorded embedding-function binding is cleared (the new
  *       vectors were not produced by it);
  *   .mode("ignore")                 — create + add only if absent.
  *   Options: `space` (l2|cosine|ip — applied at creation, and re-pointed
  *   on an existing collection ONLY by an explicit option on
  *   mode('overwrite')), `buckets` (creation only: the store's pt bucket
  *   count is collection identity — an overwrite of an existing
  *   collection keeps it, ignoring the option), tenant/database as on
  *   read;
  *   `refresh=true` refreshes every committed index family after the
  *   write (incremental — touched id buckets only), keeping sidecar-
  *   served reads on the index path: without it a SQL write version-
  *   strands the sidecars and reads fall back to the full scan (correct,
  *   logged loudly, but O(corpus) at scale).
  *   `CREATE TABLE t USING graft OPTIONS (...) AS SELECT ...` routes
  *   through the same provider (V1 CTAS → CreatableRelationProvider).
  *
  * The batch is canonicalized before it reaches the store: `id` is REQUIRED
  * and cast to string (the reference's own A5 rule, and what keeps the
  * store's xxhash64(id) bucket pruning applicable), a numeric `embedding`
  * array is cast to the canonical array<float>; all other columns pass
  * through (document, metadata map, flat typed metadata — add() admits any
  * schema and evolution is union-by-name). Every write goes through the
  * collection API's own gates — dup-id reject, null-id reject, the MVCC
  * claim/marker commit — never around them.
  *
  * Read architecture: the provider resolves the collection's COMMITTED
  * version snapshot (meta → carry-manifest → physical `pt=<b>` leaf dirs)
  * at relation-bind time, then delegates to Spark's own parquet
  * HadoopFsRelation over those dirs. That buys the entire native scan
  * stack for free — column pruning (ReadSchema), predicate pushdown
  * (PushedFilters to rowgroup stats), whole-stage codegen, AQE — instead
  * of a hand-rolled PartitionReader that would have to re-implement all
  * of it. Leaf dirs are the scan ROOTS, so the internal `pt` bucket
  * column never infers into the schema (exactly `toDF`'s shape).
  *
  * Snapshot semantics: the file list is pinned at bind time — a SQL
  * table created over version V keeps reading V's files (they are
  * immutable copy-on-write dirs; `vacuum` respects carry reachability)
  * until re-resolved. That is the same snapshot isolation every other
  * read surface has, surfaced at the relation boundary.
  *
  * `INSERT INTO` a graft table is REJECTED AT ANALYSIS TIME: Spark would
  * otherwise route it to InsertIntoHadoopFsRelationCommand and write raw
  * parquet straight into a committed COW version dir — behind the dup-id
  * gate and the commit protocol (and `INSERT OVERWRITE` deletes target
  * files before writing). Spark only permits that command on single-root
  * relations, so the bound relation's FileIndex advertises a doubled root
  * path when the snapshot has exactly one leaf dir ([[InsertGuardIndex]]),
  * making every INSERT fail the analyzer's single-path check before any
  * file is touched. Writes go through `df.write.format("graft")` / CTAS /
  * the collection API.
  */
class GraftDataSource extends RelationProvider
    with CreatableRelationProvider with DataSourceRegister {

  override def shortName(): String = "graft"

  /** root + name, either explicit options or as load("<root>/<name>"),
    * plus the (tenant, database)-resolved catalog — shared by both the
    * read and write halves. `buckets` only matters if a write CREATES the
    * collection (it is part of the on-disk identity afterwards). */
  private def resolve(spark: SparkSession,
                      parameters: Map[String, String]): (CollectionCatalog, String) = {
    val (root, name) = (parameters.get("root"), parameters.get("name")) match {
      case (Some(r), Some(n)) => (r, n)
      case (None, None) =>
        val p = parameters.getOrElse("path", throw new IllegalArgumentException(
          "graft source needs options root+name, or load(\"<root>/<name>\")"))
        val path = new Path(p)
        val parent = path.getParent
        require(parent != null, s"graft path '$p' has no parent — expected <root>/<name>")
        (parent.toString, path.getName)
      case _ => throw new IllegalArgumentException(
        "graft source needs BOTH root and name (or a single load path)")
    }
    val buckets = parameters.get("buckets").map { b =>
      val n = scala.util.Try(b.trim.toInt).getOrElse(throw new IllegalArgumentException(
        s"graft option buckets='$b' is not an integer"))
      require(n > 0, s"graft option buckets must be >= 1, got $n")
      n
    }.getOrElse(32)
    val cat = (parameters.get("tenant"), parameters.get("database")) match {
      case (None, None) => new CollectionCatalog(spark, root, numBuckets = buckets)
      case (t, d) => CollectionCatalog.forNamespace(spark, root,
        t.getOrElse(CollectionCatalog.DefaultTenant),
        d.getOrElse(CollectionCatalog.DefaultDatabase),
        numBuckets = buckets)
    }
    (cat, name)
  }

  // ---------------------------------------------------------------- read

  override def createRelation(sqlContext: SQLContext,
                              parameters: Map[String, String]): BaseRelation = {
    val spark = sqlContext.sparkSession
    val (cat, name) = resolve(spark, parameters)
    val coll = cat.getCollection(name).getOrElse(throw new NoSuchElementException(
      s"no collection '$name' under the given root" +
        parameters.get("tenant").map(t => s" (tenant $t)").getOrElse("")))
    val m = coll.meta
    val version = parameters.get("version").map { v =>
      scala.util.Try(v.trim.toInt).getOrElse(throw new IllegalArgumentException(
        s"graft option version='$v' is not an integer"))
    }.getOrElse(m.version)
    require(version > 0,
      if (m.version == 0) s"collection '$name' is empty (never written) — nothing to bind"
      else s"graft option version must be >= 1, got $version")
    // `ids` option = point-read LISTING pruning, the SQL-surface analog
    // of get(ids)'s bucket rule: bind only the pt bucket dirs the given
    // ids can hash into (1/numBuckets of the files at 100 TB instead of
    // all of them — rowgroup stats prune WITHIN files, only listing
    // pruning prunes the listing). SUPERSET semantics: the relation
    // contains those ids' whole buckets, so ALWAYS pair the option with
    // your own `WHERE id IN (...)` — the option confines IO, the filter
    // picks the rows.
    // Option values are plain strings (the V1 channel), so ids travel as
    // comma-separated segments taken VERBATIM — no trimming (an id with
    // surrounding whitespace stays addressable) and no escaping: an id
    // that itself contains a comma CANNOT be addressed through this
    // option (splitting it would prune to the wrong buckets and the
    // superset contract would silently break) — omit the option for such
    // ids and rely on rowgroup-stats pruning. Empty segments are rejected
    // loudly rather than silently dropped.
    val dirs = parameters.get("ids") match {
      case Some(csv) =>
        val ids = csv.split(",", -1).toSeq
        require(ids.forall(_.nonEmpty),
          s"graft option ids='$csv' has an empty segment — ids are " +
            "comma-separated and taken verbatim (no trimming, no escaping); " +
            "an id containing a comma cannot use this option — omit it and " +
            "filter by id instead")
        coll.leafDataDirsForIds(version, ids)
      case None => coll.leafDataDirs(version)
    }
    require(dirs.nonEmpty, s"collection '$name' version $version has no data dirs")
    // Spark's own parquet relation machinery over the resolved snapshot,
    // full pushdown; the schema is what the bound dirs' footers merge to,
    // inferred once per committed version and dir set
    val rel = DataSource(
      sparkSession = spark,
      className = "parquet",
      paths = dirs,
      userSpecifiedSchema = Some(coll.leafSchema(version, dirs))
    ).resolveRelation()
    rel match {
      // the INSERT guard (see class doc), two independent layers:
      // (1) only single-root relations can reach
      //     InsertIntoHadoopFsRelationCommand, so double the advertised
      //     root when there is exactly one — the insert fails AT ANALYSIS,
      //     before anything (including INSERT OVERWRITE's pre-write
      //     delete) touches the store; reads are untouched (listing is
      //     delegated; rootPaths is only consulted by the insert analysis
      //     and explain output);
      // (2) the relation's FileFormat refuses prepareWrite outright — so
      //     even if a future Spark relaxes or reroutes the single-path
      //     precondition layer (1) leans on, a physical write into a
      //     committed COW version dir still fails loudly instead of
      //     landing raw parquet behind the commit protocol.
      case h: HadoopFsRelation =>
        h.copy(
          location = if (h.location.rootPaths.size == 1)
            new InsertGuardIndex(h.location) else h.location,
          fileFormat = new ReadOnlyParquetFormat)(spark)
      case other => other
    }
  }

  // --------------------------------------------------------------- write

  override def createRelation(sqlContext: SQLContext, mode: SaveMode,
                              parameters: Map[String, String],
                              data: DataFrame): BaseRelation = {
    val spark = sqlContext.sparkSession
    val (cat, name) = resolve(spark, parameters)
    val batch = canonicalBatch(data)
    val space = parameters.getOrElse("space", "l2")
    val upsert = parameters.get("upsert").exists(_.trim.equalsIgnoreCase("true"))
    val refresh = parameters.get("refresh").exists(_.trim.equalsIgnoreCase("true"))
    def freshAdd(): Unit = cat.getOrCreateCollection(name, space).add(batch)
    val existing = cat.getCollection(name)
    mode match {
      case SaveMode.ErrorIfExists =>
        if (existing.nonEmpty) throw new IllegalStateException(
          s"collection '$name' already exists — use mode('append') to add rows, " +
            "mode('overwrite') to replace it, or mode('ignore') to skip")
        freshAdd()
      case SaveMode.Ignore =>
        if (existing.isEmpty) freshAdd()
      case SaveMode.Overwrite =>
        // the whole-collection refresh, committed as ONE replacing MVCC
        // version when the collection exists: the prior state — every
        // version and index — stays committed (and served) until the new
        // version's marker lands, so a batch that fails the gates or a
        // job that dies mid-write loses NOTHING (delete-then-recreate
        // destroyed it before the batch was even validated). Superseded
        // versions are then reclaimed (the old semantics' "prior
        // versions go with it"); collection identity — bucket count,
        // metadata — survives, and an EXPLICIT space option re-points
        // with the same commit (the "l2" default must not silently flip
        // a cosine collection; a row-level replace is
        // mode('append')+upsert=true).
        existing match {
          case Some(c) =>
            c.replaceContents(batch, space = parameters.get("space"))
            // refresh precedes vacuum so the rebuild rides the cheap
            // carry/diff paths off the superseded builds; without
            // refresh, vacuum still reclaims them — the durable family
            // markers keep refreshIndexes()/refresh=true able to rebuild
            // IN FULL later, and stale-scan reads warn loudly meanwhile
            if (refresh) c.refreshIndexes()
            c.vacuum()
          case None => freshAdd()
        }
      case SaveMode.Append =>
        val c = existing.getOrElse(cat.getOrCreateCollection(name, space))
        if (upsert) c.upsert(batch) else c.add(batch)
    }
    // index freshness for the SQL-only writer: a commit advances the
    // version, which silently strands every committed sidecar (IVF/
    // trigram/keyword) — reads fall back to the O(corpus) scan, correct
    // but a 100 TB cost cliff the SQL surface gives no handle to fix.
    // `refresh=true` refreshes every family ever built, riding the
    // incremental carry paths (touched id buckets rebuild, the rest
    // carries by manifest); without it the stale bypass at read time
    // logs loudly instead. The Overwrite-existing arm refreshed
    // pre-vacuum already — skip the re-probe here (3 per-family LIST
    // calls per overwrite on an object store, just to no-op).
    if (refresh && !(mode == SaveMode.Overwrite && existing.nonEmpty))
      cat.getCollection(name).foreach(_.refreshIndexes())
    // bind the freshly committed snapshot (save() discards it; CTAS reads
    // the schema off it) from the IDENTITY options only — forwarding the
    // raw map would couple the two halves' option namespaces: a write
    // option that later gains a read meaning (`buckets` already exists on
    // both sides) would silently change the bound read
    val identity = Set("root", "name", "path", "tenant", "database")
    createRelation(sqlContext, parameters.filter { case (k, _) => identity(k) })
  }

  /** The store's canonical row shape, enforced at the boundary: string
    * `id` (required — Chroma rows are keyed, and the store's bucket
    * pruning hashes string ids), array<float> `embedding` if present;
    * everything else passes through untouched. */
  private def canonicalBatch(data: DataFrame): DataFrame = {
    require(data.columns.contains("id"),
      s"graft write needs an 'id' column (got: ${data.columns.mkString(", ")})")
    val idCast = data.withColumn("id", col("id").cast("string"))
    if (!data.columns.contains("embedding")) idCast
    else data.schema("embedding").dataType match {
      case ArrayType(FloatType, _) => idCast
      case ArrayType(_: NumericType, _) =>
        idCast.withColumn("embedding", col("embedding").cast("array<float>"))
      case other => throw new IllegalArgumentException(
        s"graft write: 'embedding' must be an array of numbers, got ${other.simpleString}")
    }
  }
}

/** Delegating [[FileIndex]] whose only job is to advertise MORE THAN ONE
  * root path (by repeating the single real one), so the analyzer's
  * single-path precondition for InsertIntoHadoopFsRelationCommand can
  * never hold over a graft relation — the only V1 route by which an
  * `INSERT INTO` could write files into a committed version dir directly.
  * Listing, sizing and refresh all delegate; the doubled entry is never
  * listed twice because [[listFiles]] is the inner index's own. */
/** Parquet format whose WRITE half is unreachable: graft relations are
  * read-only at the file level (writes go through the collection API's
  * gates — `df.write.format("graft")` / CTAS / add/upsert). Reading is the
  * stock parquet path (everything is inherited); only `prepareWrite`
  * refuses, the second guard layer behind [[InsertGuardIndex]]. */
private[sources] class ReadOnlyParquetFormat
    extends org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat {
  override def prepareWrite(sparkSession: SparkSession,
      job: org.apache.hadoop.mapreduce.Job,
      options: Map[String, String],
      dataSchema: org.apache.spark.sql.types.StructType)
      : org.apache.spark.sql.execution.datasources.OutputWriterFactory =
    throw new UnsupportedOperationException(
      "graft relations are read-only — a raw file write would bypass the " +
        "collection's dup-id gate and commit protocol; write through " +
        "df.write.format(\"graft\") or the collection API (add/upsert)")
  override def toString: String = "ReadOnlyParquet"
}

private[sources] class InsertGuardIndex(inner: FileIndex) extends FileIndex {
  override def rootPaths: Seq[Path] = inner.rootPaths ++ inner.rootPaths.take(1)
  override def listFiles(partitionFilters: Seq[org.apache.spark.sql.catalyst.expressions.Expression],
                         dataFilters: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =
    inner.listFiles(partitionFilters, dataFilters)
  override def inputFiles: Array[String] = inner.inputFiles
  override def refresh(): Unit = inner.refresh()
  override def sizeInBytes: Long = inner.sizeInBytes
  override def partitionSchema: org.apache.spark.sql.types.StructType = inner.partitionSchema
  override def metadataOpsTimeNs: Option[Long] = inner.metadataOpsTimeNs
}
