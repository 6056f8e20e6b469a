package graft.catalog

import java.nio.charset.StandardCharsets

import org.apache.hadoop.fs.Path

import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.operators.{Ann, ChromaFilter, DocIndex, Embedder, EmbeddingFunction, KeywordIndex, Knn,
  KnnTopK, Retrieval}

/** Logical carry-forward for copy-on-write versions: instead of hard-
  * linking every file of every untouched partition into the new version
  * dir (O(#files) filesystem ops, and hard links do not exist on object
  * stores/HDFS — the one POSIX coupling the r8 design had left), a new
  * version records the partitions it did NOT rewrite in a
  * `_graft_carry.json` manifest mapping partition dir → the SIBLING dir
  * that physically holds its files. Entries are written FULLY RESOLVED
  * (the recorded owner is the dir with the bytes, never another manifest),
  * so resolution is one hop and reference chains cannot form. A carry
  * commit is O(touched data) write + O(partitions) metadata on ANY
  * filesystem — strictly cheaper than the link walk it replaces.
  *
  * Readers group partitions by physical owner and read each owner once
  * (explicit partition-dir paths under `basePath`, so partition-column
  * inference and pruning behave exactly as a plain dir read); a version
  * with no manifest reads as one plain dir scan — the common case and
  * the same plan as always. [[Collection.compact]] rewrites everything
  * local, so it also collapses a long mutation history's owner spread
  * back to one dir; [[Collection.vacuum]] keeps any dir a retained
  * version's manifest references. */
private[graft] object Carry {
  val ManifestName = "_graft_carry.json"

  /** Keys are partition dir paths (`pt=<n>`, `cell=<c>/pb=<b>`, ...);
    * values are sibling dir names (`data_v000003`, `index_v000001.b002`).
    * The hand-rolled JSON below does NO string escaping and [[read]]
    * parses with a regex — safe ONLY while both sides stay in this
    * dir-name alphabet, so the constraint is ASSERTED here rather than
    * trusted: a future partition value carrying a quote/backslash fails
    * loudly at write time instead of silently corrupting the manifest. */
  private val DirNameShape = "[A-Za-z0-9_.=/-]+".r

  /** Record `entries` (partition dir name → physical owner dir name, a
    * sibling under the same collection dir) for `vdir`. Nothing carried →
    * no manifest file (the marker of the plain-read fast path). */
  def write(io: StoreIO, vdir: Path, entries: Map[String, String]): Unit =
    if (entries.nonEmpty) {
      entries.foreach { case (k, v) =>
        require(DirNameShape.matches(k) && DirNameShape.matches(v),
          s"carry-manifest entry '$k' -> '$v' leaves the partition-dir-name " +
            "alphabet the manifest format assumes")
      }
      val body = entries.toSeq.sorted
        .map { case (k, v) => s""""$k": "$v"""" }.mkString("{", ", ", "}")
      io.writeBytes(new Path(vdir, ManifestName),
        body.getBytes(StandardCharsets.UTF_8))
    }

  def read(io: StoreIO, vdir: Path): Map[String, String] = {
    val f = new Path(vdir, ManifestName)
    if (!io.exists(f)) Map.empty
    else "\"([^\"]+)\"\\s*:\\s*\"([^\"]+)\"".r
      .findAllMatchIn(new String(io.readBytes(f), StandardCharsets.UTF_8))
      .map(m => m.group(1) -> m.group(2)).toMap
  }

  /** Resolve `vdir` to partition-dir → PHYSICAL-owner-dir: partitions
    * present locally (name starts with `prefix`) own themselves; manifest
    * entries point at the owning sibling under collection dir `dir`.
    * Local presence wins on a (never-written) overlap. */
  def owners(io: StoreIO, dir: Path, vdir: Path, prefix: String): Map[String, Path] = {
    val local = io.list(vdir)
      .filter(e => e.isDir && e.name.startsWith(prefix)).map(_.name)
    read(io, vdir).map { case (part, owner) => part -> new Path(dir, owner) } ++
      local.map(part => part -> vdir).toMap
  }

  /** [[owners]] for the TWO-LEVEL index-slice layout (`<axis>=<a>/pb=<b>`
    * — IVF cells and postings gram partitions both carry the id-bucket
    * `pb` refresh axis): keys are the slice-relative paths. */
  def slicedOwners(io: StoreIO, dir: Path, build: Path): Map[String, Path] = {
    val local = io.list(build)
      .filter(e => e.isDir && e.name.contains("=")).flatMap { axis =>
        io.list(axis.path).filter(e => e.isDir && e.name.startsWith("pb="))
          .map(pb => s"${axis.name}/${pb.name}")
      }
    read(io, build).map { case (part, owner) => part -> new Path(dir, owner) } ++
      local.map(part => part -> build).toMap
  }

  /** Parquet files across resolved partition dirs (an [[owners]] or
    * [[slicedOwners]] map) — a pure listing walk, no Spark job. */
  def parquetFileCount(io: StoreIO, owners: Map[String, Path]): Int =
    owners.toSeq.map { case (part, owner) =>
      io.list(new Path(owner, part)).count(e => !e.isDir && e.name.endsWith(".parquet"))
    }.sum

  /** Resolved parquet read of a possibly-carrying version/build dir. The
    * manifest-free case is the plain whole-dir scan (identical plan to a
    * layout with no carry history); otherwise each physical owner dir is
    * read once with explicit partition paths under `basePath` (partition
    * columns infer and prune exactly as on the plain scan), unioned by
    * name with missing columns admitted.
    *
    * Cached per COMMITTED dir ([[ResolvedCache]], keyed `<dir>@<marker
    * mtime>`): the owner reads and each one's resolved schema. The first
    * read of a committed dir infers (one `mergeSchema` job per owner read)
    * and fills the cache; every later read of it builds the same frames
    * from the cached schemas — no inference job, no manifest or listing
    * IO. An uncommitted dir is read uncached, every time. */
  def readResolved(spark: SparkSession, io: StoreIO, vdir: Path,
                   ownersFor: => Map[String, Path]): DataFrame = {
    var inferred: Seq[DataFrame] = Nil
    val reads = ResolvedCache.memo(io, vdir, "reads") {
      val plan =
        if (read(io, vdir).isEmpty) Seq(vdir -> Seq.empty[String])
        else ownersFor.groupBy(_._2).toSeq.sortBy(_._1.toString)
          .map { case (base, parts) => base -> parts.keys.toSeq.sorted }
      inferred = plan.map { case (base, parts) => ResolvedCache.ownerRead(spark, base, parts, None) }
      plan.zip(inferred).map { case ((base, parts), df) => ResolvedCache.OwnerRead(base, parts, df.schema) }
    }
    val frames =
      if (inferred.nonEmpty) inferred
      else reads.map(r => ResolvedCache.ownerRead(spark, r.base, r.parts, Some(r.schema)))
    frames.reduce(_.unionByName(_, allowMissingColumns = true))
  }
}

/** Parquet-backed vector-collection store with Chroma collection semantics.
  *
  * The reference bulk-loads a Chroma `PersistentClient` collection
  * (extras/...sas:126-132: `PersistentClient(path)`,
  * `get_or_create_collection(name)`; sas:177-190: `collection.add(...)`).
  * Chroma persists to SQLite + an HNSW segment on ONE node; that shape caps
  * out long before 100 TB. Here a collection is a dir of copy-on-write
  * data versions ([[VersionStore]] owns their layout and commit) plus
  * sidecar index builds ([[IndexFamily]]).
  *
  * Rows: id STRING (unique), document STRING, embedding ARRAY<FLOAT>,
  * metadata columns flattened as ordinary typed columns (filter pushdown
  * works on them; Chroma's flat str→scalar dict maps 1:1).
  *
  * Scale design:
  *  - id-hash partition column `pt` → merges (upsert/update/delete) rewrite
  *    ONLY the buckets containing affected ids (dynamic partition overwrite),
  *    and point-gets prune to one bucket.
  *  - Mutations are copy-on-write into a new `data_v<N>` dir; `meta.json` is
  *    swapped atomically (write temp + move) so readers never see a torn
  *    version. This replaces Chroma's single-writer SQLite transaction.
  *  - `add` validates duplicate ids with ONE ≤numBuckets-row aggregate over
  *    the incoming batch (per-bucket count vs distinct-count — an id repeat
  *    always lands in one bucket); the clash-vs-existing check rides the
  *    merge write itself as an `observe()` metric, so the affected buckets
  *    are scanned once, not once to validate and again to write.
  */
final class CollectionCatalog(
    val spark: SparkSession, rootDir: String, numBuckets: Int = 32,
    maxRowsPerFile: Long = 1L << 20) {

  require(numBuckets > 0, s"numBuckets must be positive, got $numBuckets")
  // Spark treats maxRecordsPerFile <= 0 as "no limit" — reject it up front
  // rather than silently disabling the chunking the caller asked for.
  require(maxRowsPerFile > 0, s"maxRowsPerFile must be positive, got $maxRowsPerFile")

  private val root: Path = new Path(rootDir)
  private val io: StoreIO =
    StoreIO.of(root, spark.sparkContext.hadoopConfiguration)
  io.mkdirs(root)

  /** get-or-create (A9). `metadata` is stored at CREATION only (an
    * existing collection keeps its own — Chroma's get_or_create contract);
    * Chroma's `hnsw:space` metadata convention is honored as the space
    * when the `space` parameter is left at its default, and index-tuning
    * keys (`ivf:nlist`, `ivf:nprobe` — our IVF analog of Chroma's
    * `hnsw:construction_ef`/`hnsw:search_ef`) become the collection's
    * build/query defaults (see [[Collection.buildIndex]] / `query`). */
  def getOrCreateCollection(name: String, space: String = "l2",
                            metadata: Map[String, String] = Map.empty): Collection = {
    requireName(name)
    val dir = new Path(root, name)
    if (!VersionStore.isCollection(io, dir)) {
      // validate BEFORE touching the filesystem: a conflict must not
      // leave a meta-less collection dir behind
      val effSpace = resolvedSpace(space, metadata)
      Collection.requireSpace(effSpace)
      // a typo'd analyzer must fail at creation, not years later as
      // silent whitespace tokenization on every keyword query
      metadata.get(Collection.AnalyzerKey)
        .foreach(graft.operators.Retrieval.requireAnalyzer)
      io.mkdirs(dir)
      // EXCLUSIVE initial create — two live callers get-or-creating the
      // same name race here, and first-writer-wins is exactly the
      // contract: the loser's space/metadata args are ignored the same
      // way they are when the collection already existed (a replacing
      // write instead would let the slower creator silently overwrite
      // the winner's space). Same CAS primitive as version claims —
      // the per-backend atomicity caveats in [[StoreIO]] apply alike.
      try io.createExclusive(VersionStore.pointer(dir),
        CollectionMeta.toJson(CollectionMeta(name, effSpace, 0, metadata, numBuckets))
          .getBytes(StandardCharsets.UTF_8))
      catch { case _: java.nio.file.FileAlreadyExistsException => () }
    }
    new Collection(spark, io, dir, maxRowsPerFile)
  }

  /** Dot-prefixed names are reserved for in-flight build temps
    * ([[adopted]]): they are hidden from listCollections and subject to
    * reclamation — admitting one would create a collection that can
    * silently disappear (chromadb likewise constrains collection names). */
  private def requireName(name: String): Unit =
    require(!name.startsWith("."),
      s"collection name '$name' is invalid: dot-prefixed names are reserved")

  /** Crash- and reject-safe adoption: collection `name` is BUILT in the
    * dot-prefixed temp sibling `.<kind>-tmp-<name>` and lands via ONE
    * atomic rename (the pattern of the pointer's atomicWrite), so the
    * target is either absent or complete and the call stays retryable: a
    * crash leaves only the temp, which the retry reclaims first, and a
    * CAUGHT failure reclaims it eagerly (best-effort — the rethrow wins). */
  private def adopted(kind: String, name: String)(build: Path => Unit): Collection = {
    val tmpDir = new Path(root, s".$kind-tmp-$name")
    if (io.exists(tmpDir)) io.deleteRecursively(tmpDir)
    io.mkdirs(tmpDir)
    try build(tmpDir)
    catch { case e: Throwable =>
      try io.deleteRecursively(tmpDir)
      catch { case scala.util.control.NonFatal(_) => () }
      throw e
    }
    val dstDir = new Path(root, name)
    io.moveDir(tmpDir, dstDir)
    new Collection(spark, io, dstDir, maxRowsPerFile)
  }

  /** The fitted embedding-model sidecar of `fromDir`, if any, into
    * `toDir`: the embedding-function BINDING travels in metadata, and the
    * MODEL must travel with it or the copy cannot queryText. */
  private def copyEmbedder(fromDir: Path, toDir: Path): Unit = {
    val sidecar = new Path(fromDir, Collection.EmbedderSidecar)
    if (io.exists(sidecar))
      io.writeBytes(new Path(toDir, Collection.EmbedderSidecar), io.readBytes(sidecar))
  }

  /** Chroma's `hnsw:space` metadata convention vs the `space` parameter:
    * metadata wins when the parameter is at its default; a real conflict
    * is LOUD (shared by every collection-creating entry point). */
  private def resolvedSpace(space: String, metadata: Map[String, String]): String =
    metadata.get("hnsw:space") match {
      case Some(s) if space == "l2" || space == s => s
      case Some(s) =>
        throw new IllegalArgumentException(
          s"conflicting spaces: parameter '$space' vs metadata hnsw:space '$s'")
      case None => space
    }

  def getCollection(name: String): Option[Collection] = {
    val dir = new Path(root, name)
    if (VersionStore.isCollection(io, dir))
      Some(new Collection(spark, io, dir, maxRowsPerFile))
    else None
  }

  def listCollections(): Seq[String] =
    if (!io.exists(root)) Nil
    else {
      // dot-prefixed dirs are in-flight build temps (fork), never
      // collections — a crashed fork temp must not list as one; the
      // meta.json probe additionally excludes crashed half-creates
      val entries = io.list(root).filter(!_.name.startsWith("."))
      def isColl(e: DirEntry): Boolean = VersionStore.isCollection(io, e.path)
      // the probe is one filesystem round trip PER entry — free on a
      // local FS (r17 audit: 10k collections list in 0.09 s) but N
      // sequential HEADs on an object store (~10-20 ms each → minutes at
      // 10k). Bounded-parallel probes cut that by the pool width; pure
      // reads, order restored by the final sort. Small catalogs skip the
      // pool — its spin-up would cost more than the probes.
      val names =
        if (entries.size <= 64) entries.filter(isColl).map(_.name)
        else {
          val pool = java.util.concurrent.Executors.newFixedThreadPool(16)
          try {
            val fs = entries.map(e => pool.submit(
              new java.util.concurrent.Callable[Option[String]] {
                def call(): Option[String] = if (isColl(e)) Some(e.name) else None
              }))
            fs.flatMap(_.get())
          } finally pool.shutdown()
        }
      names.sorted
    }

  def deleteCollection(name: String): Boolean = {
    val dir = new Path(root, name)
    if (!io.exists(dir)) false
    else {
      io.deleteRecursively(dir)
      true
    }
  }

  /** Collection fork: `to` is born at version 1 holding `from`'s
    * CURRENT snapshot with every data file carried physically — hard
    * links on POSIX (O(#files), no bytes moved; see [[StoreIO]]), a copy
    * on stores without links (admin-op cost, documented). Safe because committed COW versions are
    * immutable: the first mutation of either side rewrites only its own
    * affected buckets into its own next version, so the two collections
    * diverge without ever touching shared inodes (same mechanism as
    * [[Collection.vacuum]]'s retained snapshots). The 100 TB use case:
    * dev/experiment copies of a production collection for the cost of a
    * directory walk. Chroma parity: chromadb's `collection.fork()`.
    *
    * Each index family's committed build of the forked version (IVF —
    * plain or PQ-coded — trigram postings, keyword stats) travels too,
    * re-keyed to the fork's v1 ([[Collection.copyBuildsForFork]]):
    * assignment, codes and postings are pure functions of the data
    * CONTENT, which the fork's v1 shares bit-for-bit, so the copy serves
    * identical answers — and a seeded PQ build could not be rebuilt
    * without its seed ids. Lineage is recorded as
    * `forked_from = <src>@v<N>` in the fork's metadata.
    * Caveat (same as time travel): a concurrent writer+vacuum on the
    * source can reclaim the snapshot mid-walk; fork under that race
    * fails loudly on the missing file, never links half a version
    * silently (the commit marker is written only after a complete walk). */
  def forkCollection(from: String, to: String): Collection = {
    requireName(to)
    val srcDir = new Path(root, from)
    require(VersionStore.isCollection(io, srcDir), s"no such collection: $from")
    require(!io.exists(new Path(root, to)), s"collection '$to' already exists")
    adopted("fork", to) { tmpDir =>
      val source = new VersionStore(spark, io, srcDir, maxRowsPerFile)
      val src = source.meta
      // born at v0, lineage recorded; a never-written source stays an
      // empty fork, any other commits v1 through the store's commit path
      val born = CollectionMeta(to, src.space, 0,
        src.metadata + ("forked_from" -> s"${src.name}@v${src.version}"), src.buckets)
      writeMeta(tmpDir, born)
      if (source.currentDataOf(src).nonEmpty)
        new VersionStore(spark, io, tmpDir, maxRowsPerFile).writeForkedVersion(born, source, src) {
          copyEmbedder(srcDir, tmpDir)
          // committed sidecar indexes, re-keyed to v1 (see scaladoc)
          new Collection(spark, io, srcDir, maxRowsPerFile).copyBuildsForFork(src, tmpDir)
        }
    }
  }

  /** Import an [[Collection.export]]'d parquet directory as a NEW
    * collection — the round-trip inverse (move a collection between
    * roots/clusters through plain parquet, the interchange format both
    * sides already speak). The frame must carry the store's `id` column;
    * everything else travels as-is. The load goes through
    * [[Collection.add]], so every add-time invariant (unique non-null
    * ids, uniform dimensions) gates the import — a corrupted export
    * fails loudly instead of seeding a bad store. */
  def importCollection(name: String, path: String, space: String = "l2",
                       metadata: Map[String, String] = Map.empty): Collection = {
    requireName(name)
    require(getCollection(name).isEmpty, s"collection '$name' already exists")
    val df = spark.read.parquet(path)
    require(df.columns.contains("id"),
      s"import source at $path carries no 'id' column")
    // a parquet export carries the source collection's identity sidecars
    // (see [[Collection.export]]): space + metadata from
    // `_graft_meta.json` fill whatever the CALLER left at defaults
    // (explicit args win, per-key for metadata), and a fitted embedding
    // model restores with its binding so the import can queryText. An
    // export-less plain parquet dir imports exactly as before.
    val exportedMetaPath = new Path(path, Collection.ExportMetaName)
    val exported: Option[CollectionMeta] =
      if (io.exists(exportedMetaPath))
        Some(CollectionMeta.fromJson(
          new String(io.readBytes(exportedMetaPath), StandardCharsets.UTF_8)))
      else None
    val effMetadata = exported.map(_.metadata).getOrElse(Map.empty) ++ metadata
    val effSpace =
      if (space != "l2") resolvedSpace(space, metadata)
      else exported.map(_.space).getOrElse(resolvedSpace(space, metadata))
    val exportedSidecar = new Path(path, Collection.EmbedderSidecar)
    if (effMetadata.get("embedding_function")
        .exists(_.startsWith(graft.operators.Embedder.TfIdfV1Prefix)))
      require(io.exists(exportedSidecar),
        s"import source records a fitted embedding function but carries no " +
          s"${Collection.EmbedderSidecar} sidecar — the model cannot be " +
          "reconstructed from the name; re-export the source collection")
    // a rejected source (duplicate ids, ragged dims — add()'s gates)
    // leaves NO registered collection behind ([[adopted]])
    adopted("import", name) { tmpDir =>
      writeMeta(tmpDir, CollectionMeta(name, effSpace, 0, effMetadata, numBuckets))
      copyEmbedder(new Path(path), tmpDir)
      new Collection(spark, io, tmpDir, maxRowsPerFile).add(df)
    }
  }

  /** B11 rename: catalog-level move + meta.json name update (atomic dir
    * move on the same filesystem; data files untouched). */
  def renameCollection(from: String, to: String): Boolean = {
    requireName(to)
    val src = new Path(root, from); val dst = new Path(root, to)
    if (!VersionStore.isCollection(io, src) || io.exists(dst)) false
    else {
      io.moveDir(src, dst)
      val m = CollectionMeta.read(io, dst)
      CollectionMeta.atomicWrite(io, dst, m.copy(name = to))
      true
    }
  }

  private[catalog] def writeMeta(dir: Path, meta: CollectionMeta): Unit =
    CollectionMeta.atomicWrite(io, dir, meta)
}

/** chromadb ≥0.4.15 tenant/database namespaces — the multi-team surface
  * (`chromadb.Client(tenant=..., database=...)`). A namespace is a PATH
  * PREFIX: collections of (tenant, database) live under
  * `<root>/.tenants/<tenant>/<database>/<name>`, so every store mechanism
  * (MVCC versions, commit claims, lease keys = full paths) isolates across
  * namespaces with zero new protocol. The `.tenants` dir is dot-prefixed —
  * already invisible to [[CollectionCatalog.listCollections]] and outside
  * fork-temp reclamation (which only touches `.fork-tmp-<name>`), so a
  * namespaced root coexists with the plain single-namespace layout (which
  * stays the default — most deployments are single-team; Chroma's own
  * defaults are `default_tenant`/`default_database`). */
object CollectionCatalog {
  val DefaultTenant = "default_tenant"
  val DefaultDatabase = "default_database"

  // chromadb-ish identifier rule: alnum start, then alnum/._-, ≤64 chars,
  // never dot-led (a dot-led segment would collide with reserved dirs)
  private def requireNs(kind: String, v: String): Unit =
    require(v.matches("[A-Za-z0-9][A-Za-z0-9._-]{0,63}"),
      s"$kind '$v' is invalid: want [A-Za-z0-9][A-Za-z0-9._-]{0,63}")

  private def nsPath(rootDir: String, tenant: String, database: String): Path = {
    requireNs("tenant", tenant); requireNs("database", database)
    new Path(new Path(new Path(rootDir), ".tenants"), s"$tenant/$database")
  }

  /** The catalog for one (tenant, database) namespace. Idempotent —
    * Chroma's create_database/get_or_create client shape. */
  def forNamespace(spark: SparkSession, rootDir: String,
                   tenant: String = DefaultTenant,
                   database: String = DefaultDatabase,
                   numBuckets: Int = 32,
                   maxRowsPerFile: Long = 1L << 20): CollectionCatalog =
    new CollectionCatalog(spark, nsPath(rootDir, tenant, database).toString,
      numBuckets, maxRowsPerFile)

  def listTenants(spark: SparkSession, rootDir: String): Seq[String] = {
    val p = new Path(new Path(rootDir), ".tenants")
    val io = StoreIO.of(new Path(rootDir), spark.sparkContext.hadoopConfiguration)
    if (!io.exists(p)) Nil else io.list(p).map(_.name).sorted
  }

  def listDatabases(spark: SparkSession, rootDir: String,
                    tenant: String): Seq[String] = {
    requireNs("tenant", tenant)
    val p = new Path(new Path(new Path(rootDir), ".tenants"), tenant)
    val io = StoreIO.of(new Path(rootDir), spark.sparkContext.hadoopConfiguration)
    if (!io.exists(p)) Nil else io.list(p).map(_.name).sorted
  }

  /** Drop a whole database (all its collections). Chroma's
    * delete_database; false when it never existed. */
  def deleteDatabase(spark: SparkSession, rootDir: String,
                     tenant: String, database: String): Boolean = {
    val p = nsPath(rootDir, tenant, database)
    val io = StoreIO.of(new Path(rootDir), spark.sparkContext.hadoopConfiguration)
    if (!io.exists(p)) false else { io.deleteRecursively(p); true }
  }
}

/** Cell-occupancy profile of a committed IVF build — the drift signal
  * for scheduling a [[Collection.buildIndex]] re-train. `nCells` is the
  * CENTROID count (empty cells count toward the mean: a cell the corpus
  * has drifted away from is drift, not a smaller denominator). */
final case class IvfOccupancy(nCells: Int, totalRows: Long, maxCellRows: Long) {
  def meanCellRows: Double =
    if (nCells == 0) 0.0 else totalRows.toDouble / nCells
  /** max/mean occupancy: 1.0 = perfectly balanced; grows as the corpus
    * drifts from the trained centroids (hot cells stop pruning — an
    * nprobe query over a skew-S index can touch ~S× the rows a balanced
    * one would). */
  def skew: Double =
    if (totalRows == 0L || nCells == 0) 1.0 else maxCellRows / meanCellRows
}

/** [[Collection.refreshIndexReport]]'s product: what the refresh did,
  * plus the occupancy the refreshed index now has. */
final case class IvfRefreshReport(refreshedBuckets: Int, occupancy: IvfOccupancy) {
  def skew: Double = occupancy.skew
}

/** One collection — the Chroma collection API surface (SURVEY §2.B). */
final class Collection(spark: SparkSession, io: StoreIO, dir: Path,
                       maxRowsPerFile: Long) {

  private lazy val log = org.slf4j.LoggerFactory.getLogger(classOf[Collection])

  import ChromaFilter.{Where, WhereDocument}

  /** The data-version MVCC: layout, bucket hash, reads and commits. */
  private val versions = new VersionStore(spark, io, dir, maxRowsPerFile)

  def meta: CollectionMeta = versions.meta

  def name: String = meta.name
  def space: String = meta.space

  /** Resolved read of an index build dir (see [[VersionStore.readVersion]]
    * — same mechanics over the two-level `<axis>=<a>/pb=<b>` slice
    * layout). */
  private def readIndexBuild(build: Path): DataFrame =
    Carry.readResolved(spark, io, build, Carry.slicedOwners(io, dir, build))

  /** Current contents (empty frame with canonical schema if never written). */
  def toDF: DataFrame = versions.snapshotDF(meta)

  /** ONE job for both facts every mutation needs about its batch: the
    * id-hash buckets it touches (partition pruning) and whether any id
    * repeats within it. A repeated id always hashes to the same bucket, so
    * per-bucket `count vs count_distinct` detects the repeat without a
    * per-id grouping — the collect is ≤numBuckets rows regardless of batch
    * size. The offending id (error-path only) is looked up separately. */
  private def bucketStats(df: DataFrame, m: CollectionMeta): (Set[Int], Boolean) = {
    // count(id) counts NON-NULL ids: comparing count(*) against the
    // distinct count would misread a single null id as a "duplicate".
    // Null ids are detected as n != total per bucket (xxhash64 hashes a
    // NULL to a seed value, so a null id lands in an ordinary bucket) and
    // rejected loudly: the old per-id grouping silently admitted them,
    // and a keyed store with a null key corrupts every id-pruned read.
    val rows = versions.bucketed(df, m).groupBy("pt")
      .agg(org.apache.spark.sql.functions.count(col("id")).as("n"),
        countDistinct(col("id")).as("d"),
        org.apache.spark.sql.functions.count(lit(1)).as("tot")).collect()
    if (rows.exists(r => r.getLong(1) != r.getLong(3)))
      throw new IllegalArgumentException(
        "null id in batch — collection ids must be non-null")
    (rows.map(_.getInt(0)).toSet, rows.exists(r => r.getLong(1) != r.getLong(2)))
  }

  /** Error path only: find one repeated id for the exception message. */
  private def firstDupId(df: DataFrame): String = {
    val d = df.groupBy("id").count().filter(col("count") > 1).limit(1).collect()
    String.valueOf(d.headOption.map(_.get(0)).orNull)
  }

  /** Pin an OBSERVED batch in the block cache for the span of one
    * mutation. A caller `observe()` (Hydrator's validation gates,
    * addDocuments' null/zero-vector probes) defeats the column pruning
    * that otherwise keeps [[bucketStats]]' pre-write pass cheap: the
    * metrics reference payload columns (`size(embedding)`, the embedded
    * vector itself), so the stats job executes the FULL batch lineage —
    * embed pipelines included — and the write job then executes it a
    * second time. Persisting for the mutation's span runs the lineage
    * once: the stats job materializes the cache and fires the caller's
    * metrics exactly once with real values (measured: persist delivers
    * correct observed metrics on the materializing action; a lazy
    * localCheckpoint instead delivers an EMPTY firing — n=0 — which
    * would silently disarm every gate, so never swap this for one), and
    * the write serves from blocks. Unobserved batches are left alone:
    * id-pruning already serves their stats pass better than a full-width
    * cache would. MEMORY_AND_DISK — a commit's batch is small by
    * definition, and spill beats recompute for a rare huge one. */
  private def withBatchPinned[A](batch: DataFrame)(body: => A): A = {
    val pin = batch.storageLevel == org.apache.spark.storage.StorageLevel.NONE &&
      batch.queryExecution.analyzed.collectFirst {
        case m: org.apache.spark.sql.catalyst.plans.logical.CollectMetrics => m
      }.isDefined
    if (!pin) body
    else {
      batch.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try body finally batch.unpersist(blocking = false)
    }
  }

  /** A count metric a write's observe() probe collected. Fails CLOSED:
    * only an empty batch (sum over zero rows = null) reads as 0 — a
    * missing or mistyped metric must abort the commit, not silently admit
    * what the probe exists to reject. */
  private def observedCount(obs: Observation, name: String): Long = obs.get.get(name) match {
    case Some(l: java.lang.Long) => l.longValue()
    case Some(null) => 0L
    case other => throw new IllegalStateException(
      s"$name probe metric missing or mistyped: $other")
  }

  /** B1 add: batch insert; errors on duplicate ids (within the batch or vs
    * the collection) — Chroma `add()` semantics. Only the buckets receiving
    * new rows are rewritten.
    *
    * @param beforeCommit invoked AFTER the data write but BEFORE the commit
    *        marker: a throw abandons the version (nothing is ever served).
    *        This is the hook for single-scan invariants — attach an
    *        `observe()` to the batch, let the write be the scan, and reject
    *        the commit from the collected metrics (see [[graft.Hydrator]])
    *        instead of paying validation passes over the input up front.
    */
  def add(batch: DataFrame, beforeCommit: () => Unit = () => ()): Unit = withBatchPinned(batch) {
    val m = meta
    val (affected, withinDup) = bucketStats(batch, m)
    if (withinDup)
      throw new IllegalArgumentException(s"duplicate id in batch: ${firstDupId(batch)}")
    versions.currentDataOf(m) match {
      case None => versions.writeVersion(batch, m, beforeCommit = beforeCommit)
      case Some(_) =>
        // clashes can only live in the batch's own buckets — probe those,
        // not the whole collection (point-inserts must stay O(affected)).
        // The probe is an observe() metric on the merge's own join, so the
        // pruned buckets are scanned exactly once: a clash abandons the
        // claimed version pre-commit (never served), same outcome as the
        // old pre-write check but one full pass cheaper.
        val curAffected = versions.readVersion(m.version).filter(col("pt").isin(affected.toSeq: _*)).drop("pt")
        // the batch appears ONCE in the write plan (callers may have hung an
        // observe() on it — Hydrator does — and a second reference would
        // re-fire its metrics); the probe side is the pruned current scan,
        // column-pruned to id only
        val obs = Observation()
        val flaggedBatch = batch
          .join(curAffected.select(col("id"), lit(1).as("__clash")), Seq("id"), "left")
          .observe(obs, sum(col("__clash")).as("clashes"))
          .drop("__clash")
        versions.writeMergedVersion(
          curAffected.unionByName(flaggedBatch, allowMissingColumns = true), affected, m,
          beforeCommit = () => {
            if (observedCount(obs, "clashes") > 0L) {
              val clash = batch.join(curAffected.select("id"), Seq("id"), "left_semi")
                .limit(1).collect()
              throw new IllegalArgumentException(
                s"id already exists: ${String.valueOf(clash.headOption.map(_.get(0)).orNull)}")
            }
            beforeCommit()
          })
    }
    maybeAutoCompact()
  }

  /** Replace the collection's ENTIRE contents with `batch` as ONE MVCC
    * commit — the atomic whole-collection refresh behind
    * `df.write.format("graft").mode("overwrite")`. Unlike delete +
    * recreate, the previous version stays committed (and served) until
    * the new version's marker lands: a batch that fails the gates
    * (in-batch duplicate or null ids) or a Spark job that dies mid-write
    * abandons the claimed version and leaves the last committed state —
    * data, history, indexes — intact. Superseded versions and
    * version-stale index builds become history; reclaim with [[vacuum]].
    *
    * `space` optionally re-points the distance space WITH the same
    * commit (the delete-and-recreate this replaces applied the caller's
    * space too; a replace makes every index build version-stale anyway,
    * so the re-point cannot strand a served index). Collection identity
    * — name, bucket count, metadata — survives the replace, EXCEPT any
    * recorded embedding-function binding (`embedding_function` /
    * `embedding_model_fp` + the fitted sidecar): the replacing batch's
    * vectors are caller-provided, so a surviving binding would let
    * queryText embed queries with a function the stored vectors never
    * came from — silently meaningless distances (the old delete+recreate
    * destroyed the binding too). After a replace, queryText fails loudly
    * until re-bound (addDocuments / a fresh fit). */
  def replaceContents(batch: DataFrame, space: Option[String] = None): Unit = withBatchPinned(batch) {
    val m = meta
    // validate BEFORE any write work: a typo'd space must not commit
    // (creation validates through the same gate)
    space.foreach(Collection.requireSpace)
    val (_, withinDup) = bucketStats(batch, m)
    if (withinDup)
      throw new IllegalArgumentException(s"duplicate id in batch: ${firstDupId(batch)}")
    val hadBinding = m.metadata.contains("embedding_function")
    val newSpace = space.getOrElse(m.space)
    val cleared0 = m.metadata -- Seq("embedding_function", "embedding_model_fp")
    // an explicit re-point rewrites the Chroma-convention hnsw:space
    // mirror in the SAME commit: a stale mirror would both mislead
    // convention readers and make the next modifyMetadata restating it
    // fail the space-consistency gate
    val cleared =
      if (cleared0.contains("hnsw:space") && newSpace != m.space)
        cleared0 + ("hnsw:space" -> newSpace)
      else cleared0
    versions.writeVersion(batch, m.copy(space = newSpace, metadata = cleared))
    // the fitted-model sidecar pairs with the cleared fingerprint:
    // reclaim it post-commit, best-effort (an orphan is dormant without
    // a metadata binding, and a fresh fitted bind writes its own)
    if (hadBinding)
      io.deleteIfExists(new Path(dir, Collection.EmbedderSidecar))
    maybeAutoCompact()
  }

  /** Server-side embedding add — `collection.add(documents=...)` WITHOUT
    * precomputed vectors, the one public chromadb call shape the reference
    * never exercises (it always passes vectors, sas:177-190). The
    * embedding is a compiled per-row expression ([[graft.expressions
    * .HashEmbed]]) riding the add's own write scan: no extra pass, no
    * shuffle. The function's name is recorded in collection metadata
    * (`embedding_function`), chromadb-style, so [[queryText]] later
    * resolves the exact same function — and a second addDocuments with a
    * DIFFERENT function is rejected (vectors from two functions in one
    * collection compare as garbage, silently).
    *
    * Cosine space rejects zero-vector documents pre-commit (cosine is
    * undefined on them; Chroma's normalization raises the same way) via an
    * `observe()` on the write scan — detection costs no extra pass and a
    * rejection abandons the claimed version, nothing is ever served. */
  def addDocuments(batch: DataFrame, ef: EmbeddingFunction,
                   beforeCommit: () => Unit = () => ()): Unit = {
    require(!batch.columns.contains("embedding"),
      "addDocuments embeds server-side — use add() for precomputed vectors")
    require(batch.columns.contains("document"),
      "addDocuments needs a 'document' column to embed")
    val hadBinding = meta.metadata.get("embedding_function") match {
      case Some(n) =>
        require(n == ef.name,
          s"collection '$name' is bound to embedding function '$n', got '${ef.name}'")
        true
      case None => false
    }
    // FITTED functions carry corpus-learned state: when the collection is
    // already bound, the offered MODEL must equal the persisted sidecar
    // (same name is not enough — a re-fit on different data embeds
    // differently, and mixing its vectors with stored ones is silent
    // garbage). Checked BEFORE any embedding work.
    ef match {
      case f: graft.operators.FittedEmbeddingFunction if hadBinding =>
        val sidecar = new Path(dir, Collection.EmbedderSidecar)
        require(io.exists(sidecar),
          s"collection '$name' is bound to fitted '${ef.name}' but its model sidecar is missing")
        require(new String(io.readBytes(sidecar), StandardCharsets.UTF_8) == f.modelText,
          s"collection '$name' already carries a fitted model for '${ef.name}' and the " +
            "offered model DIFFERS — a re-fit would make previously stored vectors " +
            "unqueryable; create a fresh collection to re-fit")
      case _ => ()
    }
    // the same guard add() enforces for explicit vectors, checked BEFORE
    // any embedding work: a function of a different dimension would commit
    // a ragged store whose kNN reads return null-distance garbage
    dim().foreach { d =>
      require(d == ef.dim,
        s"embedding function dim ${ef.dim} != collection dimension $d")
    }
    // embedFrame: the compiled-expression embedders keep the zero-extra-
    // pass column path; a ModelEmbeddingFunction takes its per-partition
    // BATCHED inference shape here instead
    val embedded = ef.embedFrame(batch, "document", "embedding")
    // Null-document gate for EVERY space (chromadb raises on None
    // documents too): HashEmbed is null-safe, so a null document would
    // otherwise commit a null embedding silently — and null distances
    // sort NULLS FIRST under the ascending kNN order, so ONE such row
    // poisons the top-k of every later query. Same single-scan observe
    // discipline as the clash probe: detection rides the write, a
    // rejection abandons the claimed version pre-commit.
    val obs = Observation()
    val nullEmb = sum(when(col("embedding").isNull, 1L).otherwise(0L)).as("null_embeds")
    // zero-vector probe must not trip on nulls (exists(NULL) -> NULL):
    // nulls are counted — and rejected — by their own metric
    val zeroVec = col("embedding").isNotNull &&
      not(exists(col("embedding"), x => x =!= lit(0.0f)))
    val zeroCnt = sum(when(zeroVec, 1L).otherwise(0L)).as("zero_vecs")
    def gateNulls(): Unit = {
      val nulls = observedCount(obs, "null_embeds")
      require(nulls == 0L,
        s"$nulls document(s) are null — collection documents must be non-null " +
          "(chromadb add() rejects None documents the same way)")
    }
    if (space == "cosine") {
      add(embedded.observe(obs, nullEmb, zeroCnt),
        beforeCommit = () => {
          gateNulls()
          val zeros = observedCount(obs, "zero_vecs")
          require(zeros == 0L,
            s"$zeros document(s) embed to the zero vector — cosine distance is undefined; " +
              "drop them or use l2/ip space")
          beforeCommit()
        })
    } else add(embedded.observe(obs, nullEmb),
      beforeCommit = () => { gateNulls(); beforeCommit() })
    // binding recorded only AFTER a successful add: a rejected batch
    // (zero vectors, id clash) must not leave a permanent function
    // binding on a collection that stored nothing. Single-writer store
    // (the commit protocol serializes writers), so the stamp cannot race
    // another function's successful add. For a FITTED function the model
    // sidecar lands FIRST (binding implies sidecar; a crash in between
    // leaves an unbound collection whose orphan sidecar the next
    // successful bind overwrites).
    if (!hadBinding) {
      ef match {
        case f: graft.operators.FittedEmbeddingFunction =>
          io.writeBytes(new Path(dir, Collection.EmbedderSidecar),
            f.modelText.getBytes(StandardCharsets.UTF_8))
          // the fingerprint pairs the committed DATA with the model that
          // embedded it — [[resolveEmbedder]] refuses a sidecar whose
          // fingerprint disagrees (the refit crash-window detector)
          modifyMetadata(Map("embedding_function" -> ef.name,
            "embedding_model_fp" -> Collection.modelFp(f.modelText)))
        case _ =>
          modifyMetadata(Map("embedding_function" -> ef.name))
      }
    }
  }

  /** The SANCTIONED re-fit path for a fitted embedding function — the
    * counterpart of the re-fit REJECTION in [[addDocuments]] (an
    * unsanctioned second fit would silently mix vectors from two models;
    * this one re-embeds so it cannot): train a fresh model of the same
    * family and dimension on the CURRENT corpus, re-embed every document
    * through it (a full rewrite — the data-side analog of a
    * [[buildIndex]] re-train), and swap model sidecar + fingerprint with
    * the same commit.
    *
    * Crash safety: the sidecar lands between the data write and the
    * commit marker, and the new model's fingerprint rides the commit's
    * OWN meta (claim file + pointer). A crash after the sidecar write
    * but before the marker leaves old data + old fingerprint + NEW
    * sidecar — and [[resolveEmbedder]] then fails LOUD on the
    * fingerprint mismatch instead of silently querying old vectors with
    * the new model. Re-running refit() recovers.
    *
    * Indexes of the previous version are version-bound and simply stop
    * matching (reads fall back to exact until rebuilt) — same rule as
    * every mutation. Callers still holding the PRE-refit function object
    * get rejected loudly on their next addDocuments (model text differs
    * from the new sidecar). Returns the newly fitted function. */
  def refit(vocabSize: Int = Embedder.DefaultVocabSize): graft.operators.FittedEmbeddingFunction = {
    val m = meta
    val efName = m.metadata.getOrElse("embedding_function",
      throw new IllegalStateException(
        s"collection '$name' has no embedding-function binding — nothing to re-fit"))
    require(efName.startsWith(Embedder.TfIdfV1Prefix),
      s"collection '$name' is bound to '$efName', which is not a fitted " +
        "function family — only fitted functions re-fit")
    require(versions.currentDataOf(m).nonEmpty,
      s"collection '$name' is empty — nothing to re-fit on")
    val cur = versions.snapshotDF(m)
    require(cur.columns.contains("document"),
      s"collection '$name' carries no document column — nothing to re-fit on")
    // same family, same dimension: the binding NAME stays, the model
    // behind it changes (dim changes would be a different binding)
    val dim = resolveEmbedder(efName).dim
    val ef = graft.operators.TfIdfSrpEmbedder.fit(cur, "document", dim, vocabSize)
    val expected = m.copy(metadata =
      m.metadata + ("embedding_model_fp" -> Collection.modelFp(ef.modelText)))
    // in-place column REPLACE (refit's ef is always the fitted TF-IDF
    // family — compiled column path; embedFrame would append at the end
    // and silently reorder the stored layout)
    versions.writeVersion(cur.withColumn("embedding", ef.embedText(col("document"))),
      expected,
      beforeCommit = () => io.writeBytes(new Path(dir, Collection.EmbedderSidecar),
        ef.modelText.getBytes(StandardCharsets.UTF_8)))
    ef
  }

  /** Resolve the collection's recorded embedding-function name: stateless
    * families by name; FITTED families (tfidf) through the persisted
    * model sidecar — LOUD when the sidecar is missing or names disagree
    * (a wrong model silently yields garbage distances, never an error).
    */
  private def resolveEmbedder(efName: String): EmbeddingFunction =
    if (efName.startsWith(Embedder.TfIdfV1Prefix)) {
      val sidecar = new Path(dir, Collection.EmbedderSidecar)
      require(io.exists(sidecar),
        s"collection '$name' records fitted embedding function '$efName' " +
          "but its model sidecar is missing")
      val text = new String(io.readBytes(sidecar), StandardCharsets.UTF_8)
      // the committed meta's fingerprint pairs data with the model that
      // embedded it: a sidecar from a DIFFERENT fit (a refit that crashed
      // between sidecar write and commit, a hand-replaced file) must fail
      // LOUD here — stale-model queries would otherwise return garbage
      // distances with no error
      meta.metadata.get("embedding_model_fp").foreach { fp =>
        require(Collection.modelFp(text) == fp,
          s"collection '$name' records fitted-model fingerprint $fp but the " +
            s"sidecar's is ${Collection.modelFp(text)} — the model sidecar is " +
            "stale relative to the committed data (a refit crashed mid-swap, " +
            "or the sidecar was replaced); re-run refit() or restore the " +
            "matching sidecar")
      }
      val ef = Embedder.fromModelText(text)
      require(ef.name == efName,
        s"model sidecar is for '${ef.name}' but the collection records '$efName'")
      ef
    } else Embedder.fromName(efName)

  /** Query texts embedded in the calling JVM with the collection's RECORDED
    * embedding function — never a caller-supplied one: the binding is
    * what guarantees query vectors and stored vectors come from the same
    * function. Mirrors the add-side gate in cosine space: a zero query
    * vector would make every distance NaN and the rank window would
    * return k arbitrary rows, so it is rejected loudly. */
  private def embedQueryTexts(op: String, texts: Seq[String],
      explicitForm: String = "query with explicit vectors"): Seq[Seq[Float]] = {
    require(texts.nonEmpty, s"$op needs at least one query text")
    val m = meta
    val ef = recordedEmbedder(m, s"hydrate via addDocuments, or $explicitForm")
    val vecs = texts.map(ef.embedOne)
    if (m.space == "cosine") vecs.zip(texts).foreach { case (v, t) =>
      require(v.exists(_ != 0f),
        s"query text '$t' embeds to the zero vector — cosine distance is undefined")
    }
    vecs
  }

  /** The embedding function snapshot `m` records; LOUD without one
    * (`hint` names the alternative). */
  private def recordedEmbedder(m: CollectionMeta, hint: String): EmbeddingFunction =
    resolveEmbedder(m.metadata.getOrElse("embedding_function",
      throw new IllegalStateException(
        s"collection '${m.name}' has no registered embedding function — $hint")))

  /** `query(query_texts=...)`: embed the texts with the collection's
    * RECORDED embedding function ([[embedQueryTexts]]), then the standard
    * vector read path: index-pruned, prefiltered, batched. */
  def queryText(texts: Seq[String], k: Int, where: Option[Where] = None,
                whereDoc: Option[WhereDocument] = None, nprobe: Int = 0,
                exact: Boolean = false): DataFrame =
    queryBatch(embedQueryTexts("queryText", texts), k, where, whereDoc, nprobe, exact)

  /** `query(query_texts=...)` through the PQ-coded index: embed with the
    * collection's RECORDED function ([[queryText]]'s binding rule, zero-
    * vector gate included), then [[queryPqBatch]]'s codes-only ADC scan +
    * exact refine — the memory-side read path for text queries against a
    * hydrated-with-embedding-function collection. LOUD without a
    * committed PQ build (queryPqBatch's contract). */
  def queryTextPq(texts: Seq[String], k: Int, nprobe: Int = 0, fetchN: Int = 0,
                  where: Option[Where] = None,
                  whereDoc: Option[WhereDocument] = None): DataFrame =
    queryPqBatch(embedQueryTexts("queryTextPq", texts), k, nprobe, fetchN, where, whereDoc)

  /** [[queryStruct]] from TEXT queries — chromadb's
    * `query(query_texts=..., include=...)` returns the same parallel-list
    * shape as its vector form; this embeds through the recorded binding
    * ([[queryText]]'s rule, zero-vector gate included) and folds through
    * the one shared presentation path. */
  def queryTextStruct(texts: Seq[String], k: Int,
                      where: Option[Where] = None,
                      whereDoc: Option[WhereDocument] = None,
                      include: Set[String] = Set("documents", "distances", "metadatas"),
                      nprobe: Int = 0, exact: Boolean = false): DataFrame =
    queryStruct(embedQueryTexts("queryTextStruct", texts), k, where, whereDoc,
      include, nprobe, exact)

  /** Diversity-aware top-k (Maximal Marginal Relevance) over the store:
    * the candidate fetch takes the SAME pruned path as [[query]] (IVF
    * cells when a committed index matches, postings-confined whereDoc,
    * verbatim prefilters), then [[Retrieval.mmr]]'s bounded greedy
    * re-ranks the fetchN survivors. Cosine-space only — MMR's redundancy
    * term is a similarity, and mixing it with l2/ip relevance has no
    * standard semantics. */
  def queryMmr(queryVec: Seq[Float], k: Int, fetchN: Int = 100,
               lambda: Double = 0.5, where: Option[Where] = None,
               whereDoc: Option[WhereDocument] = None, nprobe: Int = 0,
               exact: Boolean = false): DataFrame = {
    val m = meta
    require(m.space == "cosine",
      s"queryMmr requires a cosine-space collection, got '${m.space}'")
    val s = vectorScan(m, "queryMmr", Seq(queryVec), k, where, whereDoc, nprobe, exact, Nil)
    Retrieval.mmr(s.dropLayout(s.rows), "id", "embedding", queryVec, k, fetchN, lambda)
      .withColumnRenamed("score", "mmr_score")
  }

  /** [[queryMmr]] from a TEXT query — the LangChain-on-Chroma
    * `max_marginal_relevance_search` call shape: the text embeds through
    * the collection's RECORDED embedding function (same binding rule as
    * [[queryText]] — never a caller-supplied one), then the standard MMR
    * path: pruned candidate fetch, bounded greedy re-rank. Cosine-only,
    * like queryMmr; the zero-vector gate mirrors queryText's. */
  def queryMmrText(text: String, k: Int, fetchN: Int = 100,
                   lambda: Double = 0.5, where: Option[Where] = None,
                   whereDoc: Option[WhereDocument] = None, nprobe: Int = 0,
                   exact: Boolean = false): DataFrame = {
    val v = embedQueryTexts("queryMmrText", Seq(text),
      explicitForm = "use queryMmr with an explicit vector").head
    queryMmr(v, k, fetchN, lambda, where, whereDoc, nprobe, exact)
  }

  /** B2 upsert: insert-or-replace by id; within-batch duplicates resolve
    * latest-wins by `orderCol` descending. Without an orderCol the winner is
    * arbitrary but DETERMINISTIC (content-hash order, independent of
    * partition layout) — a replayed microbatch picks the same row, which a
    * monotonically_increasing_id tie-break would not guarantee. Only
    * affected buckets are rewritten. */
  def upsert(batch: DataFrame, orderCol: Option[String] = None): Unit = {
    // Spark refuses to hash a MAP (the `metadata` column Hydrator writes):
    // a map enters the content hash as its key-sorted entry array, which
    // is also independent of the map's insertion order
    val contentOrder = xxhash64(struct(batch.schema.fields.toSeq.map { f =>
      f.dataType match {
        case _: org.apache.spark.sql.types.MapType => array_sort(map_entries(col(f.name)))
        case _ => col(f.name)
      }
    }: _*))
    val w = Window.partitionBy("id")
      .orderBy(orderCol.map(c => col(c).desc).getOrElse(contentOrder.desc))
    val dedupBatch = batch.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn")
    val m = meta
    // bucketStats, not a bare bucket probe: its null-id rejection must
    // cover the upsert path too (a null-keyed row would survive every later
    // left_anti merge — null == null never matches — and accumulate).
    // Its dup flag is ignored: within-batch dups are upsert's JOB to
    // resolve. Probing the RAW batch skips one window computation — the
    // dedup preserves the id set, so the buckets are identical.
    val (affected, _) = bucketStats(batch.select("id"), m)
    versions.currentDataOf(m) match {
      case None => versions.writeVersion(dedupBatch, m)
      case Some(_) =>
        val curAffected = versions.readVersion(m.version).filter(col("pt").isin(affected.toSeq: _*)).drop("pt")
        val merged = curAffected.join(dedupBatch.select("id"), Seq("id"), "left_anti")
          .unionByName(dedupBatch, allowMissingColumns = true)
        versions.writeMergedVersion(merged, affected, m)
    }
    maybeAutoCompact()
  }

  /** B3 update: replace non-null fields for EXISTING ids only. Only the
    * buckets containing updated ids are rewritten. */
  def update(batch: DataFrame): Unit = { val m = meta; versions.currentDataOf(m).foreach { _ =>
    val (affected, dup) = bucketStats(batch.select("id"), m)
    if (dup) throw new IllegalArgumentException(
      s"duplicate id in update batch: ${firstDupId(batch)} — the left join would fan out")
    val cur = versions.readVersion(m.version).filter(col("pt").isin(affected.toSeq: _*)).drop("pt")
    val upd = batch.columns.filter(_ != "id")
    val joined = cur.alias("c").join(batch.alias("u"), Seq("id"), "left")
    val merged = joined.select(
      col("id") +: cur.columns.filter(_ != "id").map { c =>
        if (upd.contains(c)) coalesce(col(s"u.$c"), col(s"c.$c")).as(c) else col(s"c.$c").as(c)
      }: _*)
    versions.writeMergedVersion(merged, affected, m)
    maybeAutoCompact()
  } }

  /** B4 delete by id list and/or metadata predicate. Conditions COMBINE
    * WITH AND (Chroma semantics, matching `get`): an id list plus a `where`
    * deletes only the listed ids that ALSO satisfy the predicate — OR here
    * would turn a caller's restriction into a mass delete. Affected buckets
    * are discovered with one pruned scan; only buckets losing rows rewrite. */
  def delete(ids: Seq[String] = Nil, where: Option[Where] = None,
             whereDoc: Option[WhereDocument] = None): Unit = {
    val m = meta
    versions.currentDataOf(m).foreach { _ =>
      val cur0 = versions.readVersion(m.version)
      val byIds: Option[Column] = if (ids.nonEmpty) Some(col("id").isin(ids: _*)) else None
      val byPred = ChromaFilter.predicate(where, whereDoc, col("document"),
        keyResolver(cur0.drop("pt")))
      val cond = (byIds.toSeq ++ byPred.toSeq).reduceOption(_ && _)
      cond.foreach { c =>
        // id lists AND with the predicate, so the affected-bucket discovery
        // scan itself prunes to the ids' own partitions (1/numBuckets of
        // the listing for a point delete)
        val scan0 =
          if (ids.isEmpty) cur0
          else versions.idPruned(m, cur0, ids)
        val affected = scan0.filter(coalesce(c, lit(false)))
          .select("pt").distinct().collect().map(_.getInt(0)).toSet
        if (affected.nonEmpty) {
          val cur = cur0.filter(col("pt").isin(affected.toSeq: _*)).drop("pt")
          versions.writeMergedVersion(cur.filter(!coalesce(c, lit(false))), affected, m)
          maybeAutoCompact()
        }
      }
    }
  }

  /** Chroma-faithful `where` key resolution: a key names a metadata entry.
    * Flat columns (the pushdown-friendly layout) resolve directly; a
    * `MAP<STRING,STRING>` metadata column resolves misses via element_at.
    *
    * DECLARED TYPES (Chroma metadata is str/int/float/bool, the map layout
    * stores strings): a collection-metadata entry `meta:type:<key>` =
    * long|double|boolean ([[declareMetadataTypes]]) makes the map lookup
    * `try_cast` to that type, so `$eq` on an int compares as int and
    * `$eq(flag, true)` works at all — without it a boolean literal against
    * a string map value is an ANSI cast error, and ints fall back to the
    * numeric-literal double route. try_cast keeps Chroma's typed
    * semantics: a stored value that doesn't parse simply doesn't match.
    * The lazy `declared` reads collection metadata at most once per query
    * and ONLY when a map lookup actually resolves — flat typed layouts
    * (the 100 TB-preferred one, full pushdown) never pay the meta read. */
  private def keyResolver(df: DataFrame): ChromaFilter.KeyResolver = {
    lazy val declared: Map[String, String] = meta.metadata.collect {
      case (k, t) if k.startsWith(Collection.MetaTypePrefix) =>
        k.stripPrefix(Collection.MetaTypePrefix) -> t
    }
    key =>
      if (df.columns.contains(key)) col(key)
      else if (df.columns.contains("metadata")) {
        val raw = element_at(col("metadata"), key)
        declared.get(key).fold(raw)(t => raw.try_cast(t))
      } else col(key)
  }

  /** Record Chroma's per-key metadata TYPES for the map layout, so `where`
    * filters compare typed ([[keyResolver]]). Flat typed columns don't
    * need this — their parquet types ARE the declaration; this is for
    * migrating users carrying Chroma's metadata dict as one map column. */
  def declareMetadataTypes(types: Map[String, String]): Unit = {
    val bad = types.values.toSet.diff(Set("string", "long", "double", "boolean"))
    require(bad.isEmpty,
      s"unsupported metadata types: ${bad.mkString(", ")} (string|long|double|boolean)")
    modifyMetadata(types.map { case (k, t) => (s"${Collection.MetaTypePrefix}$k", t) })
  }

  /** B5 get: point/filtered retrieval, deterministically paged by id.
    *
    * When a committed [[buildDocIndex postings index]] matches the current
    * version and `whereDoc` is gram-confinable, the scan is first confined
    * to the index's candidate ids (a left-semi join against the pruned
    * postings read); the verbatim predicate is ALWAYS still applied, so
    * the index can only shrink IO, never change the result.
    *
    * `include` is Chroma's projection contract (`include=["documents",
    * "metadatas", ...]`) made SCAN-real: None (default) returns every
    * stored column (the long-form contract so far); Some(set) projects to
    * id + the requested families BEFORE the page materializes, so
    * Catalyst's column pruning drops the unrequested columns from the
    * parquet ReadSchema itself. At 100 TB the embedding column IS the
    * collection's bulk — a documents+metadatas get must not read a single
    * embedding byte (GetIncludeSpec pins the pruned ReadSchema; filter
    * columns are still read, they gate the rows). Entries: `documents`,
    * `embeddings`, `metadatas` (= every stored column that isn't
    * id/document/embedding/uri/data, i.e. the flat typed layout, plus a
    * `metadata` map column when present), `uris`, `data`. */
  def get(ids: Seq[String] = Nil, where: Option[Where] = None,
          whereDoc: Option[WhereDocument] = None,
          limit: Option[Int] = None, offset: Int = 0,
          include: Option[Set[String]] = None): DataFrame = {
    // one meta snapshot for BOTH the data read and the index adoption: a
    // fresh re-read for the index could adopt a newer version than the
    // data scan and confine it with the wrong posting lists
    val m = meta
    // id point reads prune at the PARTITION level first: the id filter is
    // verbatim on top, so pruning can only shrink IO, never the result
    var df = if (ids.nonEmpty && versions.currentDataOf(m).isDefined) {
      versions.idPruned(m, versions.readVersion(m.version), ids)
        .drop("pt").filter(col("id").isin(ids: _*))
    } else {
      val base = versions.snapshotDF(m)
      if (ids.nonEmpty) base.filter(col("id").isin(ids: _*)) else base
    }
    df = prefiltered(df, m, where, whereDoc)
    // include projection BEFORE the sort/page: the select is what lets
    // Catalyst prune the scan — projecting after limit would be
    // presentation-only and still read the dropped columns
    include.foreach { inc =>
      val unknown = inc.diff(Set("documents", "embeddings", "metadatas", "uris", "data"))
      require(unknown.isEmpty, s"unknown include entries: ${unknown.mkString(", ")}")
      val reserved = Seq("id", "document", "embedding", "uri", "data")
      def ifHas(flag: String, c: String) =
        if (inc(flag) && df.columns.contains(c)) Seq(c) else Nil
      val metaCols =
        if (inc("metadatas")) df.columns.toSeq.filterNot(reserved.contains).sorted
        else Nil
      val keep = Seq("id") ++ ifHas("documents", "document") ++
        ifHas("embeddings", "embedding") ++ ifHas("uris", "uri") ++
        ifHas("data", "data") ++ metaCols
      df = df.select(keep.map(c => col(s"`$c`")): _*)
    }
    df = df.orderBy("id")
    if (offset > 0) df = df.offset(offset)
    limit.fold(df)(df.limit)
  }

  /** Chroma result-SHAPE parity for `get`: ONE row of parallel id-ordered
    * lists (`ids`, and under `include=` control `documents`, `embeddings`,
    * `metadatas` — get has no distances). Same presentation-only fold as
    * [[queryStruct]]; the page (`ids`/`where`/`limit`/`offset`) is bounded
    * by construction, so the single collect_list row is never corpus-sized
    * unless the caller asked for the whole corpus — exactly Chroma's own
    * contract (its get() materializes the full result client-side too). */
  def getStruct(ids: Seq[String] = Nil, where: Option[Where] = None,
                whereDoc: Option[WhereDocument] = None,
                limit: Option[Int] = None, offset: Int = 0,
                include: Set[String] = Set("documents", "metadatas")): DataFrame = {
    // push the include down to the long form (get validates it) so the
    // scan pruning is real (a documents+metadatas getStruct never reads
    // the embedding column)
    val page = get(ids, where, whereDoc, limit, offset, Some(include))
    val fields: Seq[FoldField] =
      ("id", "ids", col("id")) +:
      (docField(page, include("documents")) ++
        (if (include("embeddings")) Seq(("embedding", "embeddings", col("embedding"))) else Nil) ++
        uriDataFields(page, include) ++
        metaField(page, include("metadatas"),
          exclude = Seq("id", "document", "embedding", "uri", "data")))
    // ids are unique, so a three-way string compare on the id alone is a
    // valid total order (the MAP field never enters the comparator)
    val rows = sortedRows(page, Nil, col("id"),
      (l, r) => when(l < r, -1).when(l > r, 1).otherwise(0), fields)
    extractLists(rows, Nil, fields)
  }

  // ---- IVF index: the collection's kNN scale path (SURVEY §4.3.3) ----
  //
  // Chroma serves `query()` from a single-node HNSW segment; the Spark-
  // native equivalent is a derived, CELL-partitioned copy of the data:
  //
  //   <dir>/index_v<V>.b<B>/cell=<c>/...parquet  (V = data version indexed,
  //   <dir>/index_v<V>.b<B>/_ivf_centroids.txt    B = build number)
  //   <dir>/index_v<V>.b<B>/_graft_committed     (written LAST)
  //
  // The index is valid only while meta.version == V: any mutation bumps the
  // version and the read path falls back to the exact scan until a build
  // or refresh runs again — approximate answers are never served from
  // stale data. Builds follow the [[IndexFamily]] discipline. The base store
  // stays id-hash (`pt`) partitioned so merges keep their
  // O(affected-buckets) cost; the index pays one extra corpus copy, the
  // normal price of any secondary index.

  private val ivfFamily = new IndexFamily(versions, "index", "cell", () => refreshIndex())
  private val docFamily = new IndexFamily(versions, "docindex", "gp", () => refreshDocIndex())
  private val kwFamily = new IndexFamily(versions, "kwindex", "tp", () => refreshKeywordIndex())
  /** The postings families share one build and compaction body. */
  private val postingsFamilies = Seq(docFamily, kwFamily)
  /** Every family, in refresh and compaction order. */
  private val families = ivfFamily +: postingsFamilies

  /** [[CollectionCatalog.forkCollection]]'s index carry: each family's
    * committed build of snapshot `m` lands in `forkDir` as build 0 of v1
    * ([[IndexFamily.copyForFork]]). */
  private[catalog] def copyBuildsForFork(m: CollectionMeta, forkDir: Path): Unit =
    families.foreach(_.copyForFork(m, forkDir))

  /** Committed index for the CURRENT version: (path, centroids), if any —
    * the highest marker-complete build. */
  private def currentIndex(m: CollectionMeta): Option[(Path, Array[(Int, Array[Double])])] =
    ivfFamily.current(m).flatMap(p => centroidsOf(p).map(c => (p, c)))

  /** Centroids of an IVF build, parsed once per committed build
    * ([[ResolvedCache]]). */
  private def centroidsOf(build: Path): Option[Array[(Int, Array[Double])]] =
    ResolvedCache.memo(io, build, "centroids")(
      Ann.readCentroids(build.toString, spark.sparkContext.hadoopConfiguration))

  def hasIndex: Boolean = currentIndex(meta).isDefined

  /** The IVF read choice every vector read makes — the committed
    * current-version index, or None for the exact corpus scan (LOUD when
    * version-stale: [[IndexFamily.servable]]). */
  private def ivfOrScan(m: CollectionMeta,
                        exact: Boolean): Option[(Path, Array[(Int, Array[Double])])] =
    if (exact) None
    else ivfFamily.servable(m).flatMap(p => centroidsOf(p).map(c => (p, c)))

  /** Build an IVF index over the current version with k-means centroids
    * (fit on `trainFraction` of the corpus — at scale you never train on
    * all of it; assignment is still exact for every row). The layout
    * carries the store's id bucket as a second partition axis
    * (`cell=<c>/pb=<b>`) so [[refreshIndex]] can later carry unchanged
    * slices forward; queries prune on `cell` alone. */
  def buildIndex(nlist: Int, seed: Long = 42L, trainFraction: Double = 1.0): Unit =
    buildIvfPq(b => Ann.buildIvf(b.df, "id", "embedding", nlist, seed, trainFraction))

  /** [[buildIndex]] sized by the collection's `ivf:nlist` metadata —
    * Chroma-style collection-level index tuning (their analog:
    * `hnsw:construction_ef`/`hnsw:M` on the collection). Loud when the
    * key is absent: a silent default here would build a mis-sized index. */
  def buildIndex(): Unit = buildIndex(
    metaPositiveInt(meta, "ivf:nlist").getOrElse(
      throw new IllegalArgumentException(
        "collection carries no ivf:nlist metadata — pass nlist explicitly")))

  /** Deterministic IVF build: cells seeded by existing row ids (cell i =
    * the vector of seedIds(i)), argmin-L2 assignment, ties to the lowest
    * cell — the reproducible-anywhere form ([[Ann.buildIvfSeeded]]). */
  def buildIndexSeeded(seedIds: Seq[String]): Unit =
    buildIvfPq(b => Ann.buildIvfSeededAny(b.df, "id", "embedding", seedIds))

  /** TRAINED store PQ build — the production entry point ([[
    * buildIndexPqSeeded]] exists for oracle replay; hand-picking codebook
    * rows is not a user workflow): k-means cells ([[Ann.buildIvf]], fit on
    * `trainFraction`) + per-subspace k-means codebooks ([[Ann.buildPq]],
    * bounded deterministic sample). Size-aware defaults, all
    * integer-only rules: `ksub = 0` → [[Ann.pqKsubFor]](n); `nlist = 0` →
    * the collection's `ivf:nlist` metadata, else
    * [[graft.operators.Dedup.cellsFor]](n) (occupancy ≈ 250/cell, the
    * same dial the SemDeDup path uses). Same MVCC build discipline and
    * read path as the seeded form — queryPq/queryPqBatch/refresh/compact
    * serve either build identically (the codebook sidecar is the
    * contract, not the trainer). */
  def buildIndexPq(m: Int, ksub: Int = 0, nlist: Int = 0, seed: Long = 42L,
                   trainFraction: Double = 1.0): Unit =
    buildIvfPq(trainedCells(nlist, seed, trainFraction), Some((b, _, d) =>
      Ann.buildPq(b.df, "id", "embedding", d, m, b.ksubOr(ksub), seed)))

  /** TRAINED residual store build — [[buildIndexPq]]'s residual twin
    * (codes quantize v − centroid(cell) under codebooks trained on
    * sampled residuals): the production form of
    * [[buildIndexPqResidualSeeded]], same size-aware dials as
    * [[buildIndexPq]], same sidecar `residual` flag routing every read
    * and re-encode. */
  def buildIndexPqResidual(m: Int, ksub: Int = 0, nlist: Int = 0,
                           seed: Long = 42L,
                           trainFraction: Double = 1.0): Unit =
    buildIvfPq(trainedCells(nlist, seed, trainFraction), Some((b, ivf, d) =>
      Ann.buildPqResidual(ivf.assigned, "id", "embedding", ivf.centroids,
        d, m, b.ksubOr(ksub), seed)))

  /** Deterministic IVF-PQ build (FAISS's IVFPQ, store-side): the seeded
    * IVF layout of [[buildIndexSeeded]] PLUS a `codes` column — every
    * row's m nearest-subcentroid codes under codebooks seeded by
    * `pqSeedIds` rows ([[Ann.buildPqSeeded]]). [[queryPq]] then ADC-scans
    * only (id, codes) inside the probed cells — at 100 TB: nprobe/nlist
    * of the directory listing × m bytes per row, with the raw embedding
    * column left unread until the fetchN refine — where [[query]] reads
    * dim floats per pruned row. Same MVCC build discipline; refresh and
    * compactIndexes carry codes and codebooks along. */
  def buildIndexPqSeeded(cellSeedIds: Seq[String], pqSeedIds: Seq[String],
                         m: Int): Unit =
    buildIvfPq(b => Ann.buildIvfSeededAny(b.df, "id", "embedding", cellSeedIds),
      Some((b, _, d) => Ann.buildPqSeeded(b.df, "id", "embedding", d, m, pqSeedIds)))

  /** The FULL Jégou construction as the collection index (residual
    * IVF-PQ): codes quantize `r = v − centroid(cell(v))` under codebooks
    * seeded by the `pqSeedIds` rows' OWN residuals — residuals
    * concentrate near 0 regardless of where cells sit, so the same ksub
    * codes spend their resolution on what the cell has not already
    * explained (measurably better ADC fidelity than [[buildIndexPqSeeded]]
    * at identical storage; q141 vs q139). The `residual` flag rides the
    * codebook sidecar, so [[queryPq]]/[[queryPqBatch]] pick the per-cell
    * ADC route and [[refreshIndex]]/rebuilds re-encode residuals — a
    * residual build can never be ADC'd against a raw-query table.
    * Keep pqSeedIds DISJOINT from cellSeedIds: a cell seed's residual is
    * the zero vector, and duplicate zero codebook entries waste codes. */
  def buildIndexPqResidualSeeded(cellSeedIds: Seq[String], pqSeedIds: Seq[String],
                                 m: Int): Unit =
    buildIvfPq(b => Ann.buildIvfSeededAny(b.df, "id", "embedding", cellSeedIds),
      Some((b, ivf, d) => Ann.buildPqResidualSeeded(ivf.assigned, "id", "embedding",
        ivf.centroids, d, m, pqSeedIds)))

  /** The snapshot one IVF/PQ build indexes: ONE meta read and ONE
    * resolved read of its data ([[indexable]]), its rows with the id
    * bucket as `pb`, and the row count sizing reads from that same
    * snapshot (lazy: only the trained PQ builds size by it). */
  private final class BuildInput(val snapshot: CollectionMeta, data: DataFrame) {
    val df: DataFrame = data.withColumnRenamed("pt", "pb")
    lazy val rows: Long = snapshotCount(snapshot)
    def ksubOr(ksub: Int): Int = if (ksub > 0) ksub else Ann.pqKsubFor(rows)
  }

  /** The k-means cell trainer of the TRAINED PQ builds. The row count is
    * read before training whatever the dials say — it sizes `nlist` here
    * and `ksub` in the codebook trainer. */
  private def trainedCells(nlist: Int, seed: Long, trainFraction: Double)(
      b: BuildInput): Ann.IvfModel = {
    val n = b.rows
    val nl = if (nlist > 0) nlist
             else metaPositiveInt(b.snapshot, "ivf:nlist")
               .getOrElse(graft.operators.Dedup.cellsFor(n))
    Ann.buildIvf(b.df, "id", "embedding", nl, seed, trainFraction)
  }

  /** The one body of every IVF/PQ build. A PQ build (`codebooks` given)
    * claims the `codes` column and trains codebooks with the snapshot's
    * dimension; a plain (re)build carries the newest committed build's
    * codebooks ([[carriedPq]]). Either way the codes encode through
    * [[Ann.pqEncodeFor]], whose sidecar `residual` flag picks the
    * construction, and one build commits. */
  private def buildIvfPq(
      cells: BuildInput => Ann.IvfModel,
      codebooks: Option[(BuildInput, Ann.IvfModel, Int) => Ann.PqModel] = None): Unit = {
    val (m, data) = indexable()
    val b = new BuildInput(m, data)
    val (ivf, pq) = codebooks match {
      case None =>
        val carried = carriedPq(b.df)
        (cells(b), carried)
      case Some(train) =>
        requireNoCodes(b.df.columns)
        val d = snapshotDim(b.snapshot).getOrElse(throw new IllegalStateException(
          s"collection '${b.snapshot.name}' is empty — nothing to index"))
        val ivf = cells(b)
        (ivf, Some(train(b, ivf, d)))
    }
    writeIndex(ivf.copy(assigned = pq.fold(ivf.assigned)(
      Ann.pqEncodeFor(ivf.assigned, "embedding", ivf.centroids, _))), b.snapshot.version, pq)
  }

  /** The current meta, LOUD when it holds no data to index. */
  private def nonEmptyMeta(): CollectionMeta = {
    val m = meta
    require(versions.currentDataOf(m).nonEmpty, s"collection '${m.name}' is empty — nothing to index")
    m
  }

  /** [[nonEmptyMeta]] and the one resolved read of its data (rows with
    * `pt`) that the build or refresh then indexes, LOUD when a user
    * column collides with the index layout. */
  private def indexable(): (CollectionMeta, DataFrame) = {
    val m = nonEmptyMeta()
    val data = versions.readVersion(m.version)
    val clash = data.columns.intersect(Seq("cell", "pb"))
    require(clash.isEmpty,
      s"collection has ${clash.mkString("/")} column(s), which collide with the index layout; rename them")
    (m, data)
  }

  /** A user `codes` column collides with a PQ-coded layout's own: every
    * PQ build, rebuild and refresh rejects it. */
  private def requireNoCodes(columns: Array[String]): Unit =
    require(!columns.contains("codes"),
      "collection has a 'codes' column, which collides with the PQ index layout; " +
        "rename it (or dropIndex() to rebuild without PQ)")

  private def writeIndex(model: Ann.IvfModel, version: Int,
                         pq: Option[Ann.PqModel]): Unit = {
    ivfFamily.build(version)(writeIvfBuild(_, model, pq))
    ivfFamily.record()
  }

  /** An IVF build's data in claimed dir `build`: cell-partitioned parquet
    * (+ centroid sidecar), then a PQ-coded build's codebook sidecar. One
    * shuffle BY CELL: without it every write task emits a file into every
    * cell it holds (tasks × nlist small files). */
  private def writeIvfBuild(build: Path, model: Ann.IvfModel,
                            pq: Option[Ann.PqModel], withPb: Boolean = true): Unit = {
    Ann.writeIvf(model.copy(assigned = model.assigned.repartition(col("cell"))),
      build.toString, withPb = withPb)
    pq.foreach(p => Ann.writePqSidecar(build, p, spark.sparkContext.hadoopConfiguration))
  }

  /** PQ codebooks of an index build (None for a plain IVF one), parsed
    * once per committed build ([[ResolvedCache]]) — the None too, so a
    * plain build pays no sidecar probe per read. */
  private def pqModelOf(build: Path): Option[Ann.PqModel] =
    ResolvedCache.memo(io, build, "pq")(
      Ann.readPqSidecar(build, spark.sparkContext.hadoopConfiguration))

  /** The newest committed build's PQ codebooks regardless of version —
    * what any REBUILD must carry forward: a rebuild that dropped them
    * would silently break every queryPq() caller. Plain codebooks are
    * corpus-trained (cell-independent), so re-encoding under new
    * centroids is exactly a fresh encode; RESIDUAL codebooks were
    * trained on the old cells' residuals, so after a re-seed they keep
    * serving (codes re-encode against the new centroids — well-defined,
    * and the exact refine keeps answers correct) but their fit decays
    * with centroid drift — re-run buildIndexPqResidual to re-train
    * when refreshIndexReport flags drift. */
  private def carriedPq(df: DataFrame): Option[Ann.PqModel] = {
    val pq = ivfFamily.newestCommitted.flatMap(pqModelOf)
    if (pq.isDefined) requireNoCodes(df.columns)
    pq
  }

  /** B6 through the PQ-coded index: ADC over the probed cells' (id,
    * codes) columns shortlists `fetchN` candidates (prefilters applied
    * BEFORE the shortlist, so k survivors exist whenever they exist in
    * the data), then exact `space` re-rank over the shortlist's raw
    * vectors fetched from the same pruned cells. Returns (id, adc, dist)
    * — the approximate path's audit trail rides along. A residual build
    * scores through per-cell tables (its codes encode v − centroid(cell)).
    * LOUD without a committed PQ-coded build for the current version:
    * silently falling back to brute force would hide exactly the cost
    * this surface exists to avoid. The one-vector case of
    * [[queryPqBatch]]. */
  def queryPq(queryVec: Seq[Float], k: Int, nprobe: Int = 0, fetchN: Int = 0,
              where: Option[Where] = None,
              whereDoc: Option[WhereDocument] = None): DataFrame =
    pqRead("queryPq", "query", Seq(queryVec), k, nprobe, fetchN, where, whereDoc)
      .select(col("id"), col("adc"), col("dist"))

  /** Batch form of [[queryPq]], shaped like [[queryBatch]]: ONE pruned
    * codes-only scan serves every query — each query ranks its own ADC
    * column inside its own probed cells to a fetchN shortlist — and the
    * shortlists broadcast back onto the pruned cells once for the exact
    * re-rank ([[Ann.pqRanked]]). Output: (qid, rnk, id, adc, dist). */
  def queryPqBatch(queryVecs: Seq[Seq[Float]], k: Int, nprobe: Int = 0,
                   fetchN: Int = 0, where: Option[Where] = None,
                   whereDoc: Option[WhereDocument] = None): DataFrame =
    pqRead("queryPqBatch", "queryBatch", queryVecs, k, nprobe, fetchN, where, whereDoc)

  /** The one body of the PQ reads ([[Ann.pqRanked]] over the pruned,
    * prefiltered build). No stored column reaches its output, so none is
    * reserved; `plain` names the read's non-PQ counterpart for the error
    * on a build without codebooks. fetchN = 0 → SIZE-AWARE shortlist depth
    * from the snapshot's row count (Ann.pqFetchNFor, integer-only and
    * oracle-replayable) — a frozen k·4 measured recall 0.2 at bench scale
    * where the scaled dial measures ~1.0 (Recall.pq_scaled); the count is
    * taken once per committed data version ([[snapshotCount]]). */
  private def pqRead(op: String, plain: String, queryVecs: Seq[Seq[Float]], k: Int,
                     nprobe: Int, fetchN: Int, where: Option[Where],
                     whereDoc: Option[WhereDocument]): DataFrame = {
    val m = meta
    val s = vectorScan(m, op, queryVecs, k, where, whereDoc, nprobe, exact = false, Nil,
      pqPlain = Some(plain))
    Ann.pqRanked(s.rows, s.rows, s.pq.get, "id", "embedding", queryVecs, s.centroids.get,
      s.cellsPerQuery, k, if (fetchN > 0) fetchN else Ann.pqFetchNFor(snapshotCount(m), k),
      m.space)
  }

  /** Incrementally refresh the IVF index to the CURRENT version: keep the
    * prior build's CENTROIDS, re-run the exact argmin-L2 assignment ONLY
    * for the id buckets whose data changed since the indexed version, and
    * carry every other `cell=<c>/pb=<b>` slice from that build by carry-
    * manifest entry — O(touched data) compute + O(slices) metadata, where
    * today's alternative is a full O(corpus) re-train + re-assignment per
    * point mutation.
    *
    * Semantics: assignment is a pure function of (vector, centroids), and
    * unchanged rows were assigned against the SAME centroids, so the
    * refreshed index is bit-identical to a full re-assignment under those
    * centroids — pruned-query results are exactly what a fresh seeded
    * build with these centroids would serve. What a refresh does NOT do
    * is re-TRAIN: cell balance drifts as the corpus drifts — run
    * [[refreshIndexReport]] from a maintenance cadence to MEASURE that
    * drift (max/mean cell-occupancy skew) and trigger [[buildIndex]]
    * re-train on threshold instead of on faith.
    *
    * Changed-bucket detection, fallback rules, and the returned count
    * mirror [[refreshDocIndex]] (COW file-name diff). The full-rebuild
    * fallback goes through the metadata-sized [[buildIndex]]`()`, so a
    * collection without `ivf:nlist` metadata fails LOUDLY there — size it
    * or rebuild explicitly. */
  def refreshIndex(): Int = {
    // the same clash guard the full builds run (indexable()): a refresh
    // must not silently clobber a user column named cell/pb that a later
    // batch introduced (upsert's allowMissingColumns admits new columns)
    val (m, current) = indexable()
    // the prior's CENTROIDS assign (re-)written rows — refresh semantics,
    // never a silent re-train — and a PQ-coded prior re-encodes them under
    // its codebooks (encode is a pure function of (vector, codebooks), the
    // same argument that lets assignment refresh): without this the new
    // slices would lack the codes column and the union-by-name read would
    // serve NULL codes to queryPq
    def reassigned(prior: Path, changed: Option[Set[Int]]): Ann.IvfModel = {
      val touched = changed.fold(current)(c => current.filter(col("pt").isin(c.toSeq: _*)))
        .withColumnRenamed("pt", "pb")
      val cents = centroidsOf(prior).get
      val assigned = Ann.assignCells(touched, "embedding", cents)
      Ann.IvfModel(cents, pqModelOf(prior).fold(assigned)(Ann.pqEncodeFor(assigned, "embedding", cents, _)))
    }
    ivfFamily.refreshTo(m,
      // the centroid sidecar is rewritten into the new build too (same
      // centroids — the sidecar is what later reads/refreshes use)
      writeChanged = (prior, changed, build) =>
        writeIvfBuild(build, reassigned(prior, Some(changed)), pqModelOf(prior)),
      full = {
        case Some(prior) => writeIndex(reassigned(prior, None), m.version, pqModelOf(prior))
        case None => buildIndex() // re-train (ivf:nlist); buildIndex carries PQ itself
      },
      usable = prior => {
        if (pqModelOf(prior).isDefined) requireNoCodes(current.columns)
        centroidsOf(prior).isDefined
      })(maybeAutoCompactIndexes())
  }

  /** Default skew (max/mean cell occupancy) above which
    * [[refreshIndexReport]] flags the index as drifted: a query probing
    * the hottest cell then reads ~4× the rows a balanced index would —
    * roughly the point where re-training pays for itself. */
  val DefaultDriftThreshold: Double = 4.0

  /** [[refreshIndex]] WITH the drift signal the refresh scaladoc
    * promises: refreshing keeps the old centroids, so cell balance
    * decays as the corpus drifts — this variant measures the refreshed
    * index's cell occupancy (max/mean skew) and WARNS loudly past
    * `driftThreshold`, so a deployment schedules [[buildIndex]] re-train
    * on a measured threshold instead of on faith.
    *
    * The occupancy probe groups by the `cell` partition column only —
    * column pruning reads no data pages, the scan is parquet footer
    * counts (O(#index files), the same order as the listing work the
    * refresh itself already does). Per-microbatch streaming refreshes
    * ([[graft.streaming.StreamingHydrator.hydrateIndexed]]) stay on the
    * plain [[refreshIndex]] and skip the probe; run THIS form from the
    * maintenance cadence that would also consider [[compactIndexes]]. */
  def refreshIndexReport(
      driftThreshold: Double = DefaultDriftThreshold): IvfRefreshReport = {
    val refreshed = refreshIndex()
    val occ = indexOccupancy().getOrElse(
      throw new IllegalStateException(
        s"collection '$name' has no committed IVF build after refresh"))
    if (occ.skew > driftThreshold)
      log.warn(s"IVF index of collection '$name' has drifted: cell-occupancy " +
        f"skew ${occ.skew}%.2f (max ${occ.maxCellRows} rows vs mean " +
        f"${occ.meanCellRows}%.1f over ${occ.nCells} cells) exceeds " +
        f"$driftThreshold%.2f — schedule buildIndex() to re-train centroids")
    IvfRefreshReport(refreshed, occ)
  }

  /** Cell-occupancy profile of the current committed IVF build (None
    * without one). Footer-count scan — see [[refreshIndexReport]]. */
  def indexOccupancy(): Option[IvfOccupancy] = {
    val m = meta
    currentIndex(m).map { case (build, cents) =>
      val r = readIndexBuild(build).groupBy("cell")
        .agg(org.apache.spark.sql.functions.count(lit(1)).as("n"))
        .agg(coalesce(sum("n"), lit(0L)).as("total"),
          coalesce(max("n"), lit(0L)).as("mx"))
        .head()
      IvfOccupancy(cents.length, r.getLong(0), r.getLong(1))
    }
  }

  // ---- auto-compaction policy (opt-in via collection metadata) ----
  //
  // `graft:autocompact.maxfiles = <n>`: after every successful mutation
  // commit, if the CURRENT version resolves to more than n data files,
  // the collection compacts and vacuums itself (LOUD log line); after an
  // index refresh, the same bound applies to that index's resolved
  // files via compactIndexes(). One policy key turns the three manual
  // admin ops (compact / compactIndexes / vacuum) into a set-once
  // property a pipeline can rely on — a long point-upsert run stays
  // under the file bound with no scheduled maintenance.
  //
  // Set n above the structural floor: a compacted collection still has
  // one file per id bucket (numBuckets), a compacted IVF build one per
  // cell×pb leaf slice, a postings build one per gp×pb slice — a bound
  // below the floor re-compacts on every commit (work, never progress).
  // `graft:autocompact.keephistory = <k>` (optional) is passed to the
  // policy's vacuum — time-travel readers keep k predecessor versions.

  /** Data-side policy check, run after every public mutation's commit
    * (NOT inside the commit path itself — [[compact]] commits through
    * the same writeVersion and must never re-trigger the policy). */
  private def maybeAutoCompact(): Unit = {
    val m = meta
    autoCompact(m, "data files", "compact()",
      if (versions.currentDataOf(m).nonEmpty) versions.dataFileCount(m) else 0)(compact())
  }

  /** The policy body both checks share: past the bound, compact, then
    * vacuum with the policy's keephistory (LOUD log line). `files` is
    * counted only under a bound. */
  private def autoCompact(m: CollectionMeta, what: String, op: String, files: => Int)(
      compactAll: => Unit): Unit =
    metaPositiveInt(m, "graft:autocompact.maxfiles").foreach { bound =>
      val n = files
      if (n > bound) {
        val keep = metaPositiveInt(m, "graft:autocompact.keephistory").getOrElse(0)
        log.warn(s"auto-compaction of collection '${m.name}': $n $what exceed " +
          s"graft:autocompact.maxfiles=$bound — $op + vacuum(keepHistory=$keep)")
        compactAll
        vacuum(keep)
      }
    }

  /** Index-side policy check, run after an incremental index refresh:
    * a long refresh chain accumulates one small file per refresh per
    * touched slice plus a carry-owner spread — past the bound, every
    * committed build repacks ([[compactIndexes]]) and vacuum reclaims
    * the superseded builds. */
  private def maybeAutoCompactIndexes(): Unit = {
    val m = meta
    autoCompact(m, "resolved index files", "compactIndexes()",
      families.flatMap(f => f.current(m).map(f.fileCount)).sum)(compactIndexes())
  }

  /** Refresh EVERY index family that has ever been built — the one-call
    * freshness contract behind the SQL write surface's `refresh=true`
    * option (a plain-SQL user has no per-family handles). Family
    * detection is committed-build OR the durable [[IndexFamily.record]] marker,
    * so an overwrite+vacuum that reclaimed every stale build still
    * rebuilds (full re-derivation — the refresh methods' own fallback).
    * Families never built are not built here (building is a sizing
    * decision — `ivf:nlist`, analyzer — the owner makes once); families
    * already current are O(listing) no-ops. Returns family → id buckets
    * rebuilt, for logging/specs. */
  def refreshIndexes(): Map[String, Int] =
    families.flatMap { f =>
      // families are probed one at a time, AFTER the previous family's
      // refresh (which may auto-compact and vacuum)
      val found = f.newestCommitted.isDefined
      if (found) f.record() // self-heal pre-marker collections
      if (!found && !f.recorded) None
      // the IVF full-rebuild fallback re-trains from ivf:nlist; a seeded
      // build wiped by overwrite+vacuum has no nlist to re-train from —
      // warn loudly instead of throwing the whole multi-family refresh
      else if (f == ivfFamily && !found && !meta.metadata.contains("ivf:nlist")) {
        log.warn(s"collection '$name': the IVF index was built once " +
          "but no build survives and the collection carries no ivf:nlist " +
          "metadata to re-train from — rebuild explicitly via " +
          "buildIndex(nlist)/buildIndexSeeded")
        None
      } else Some(f.name -> f.refresh())
    }.toMap

  /** Drop the IVF index (reads fall back to the exact scan). Explicit
    * user intent — unlike rebuild, this DOES delete: every build of the
    * family (stale versions included — they serve nothing, and a
    * surviving committed one would let [[refreshIndexes]]'s self-heal
    * resurrect the family) AND the durable [[IndexFamily.record]] marker, so
    * `refreshIndexes()` / the SQL write option `refresh=true` honor the
    * drop instead of silently rebuilding in full, and [[IndexFamily.servable]]
    * stays quiet on a deliberately index-less collection. */
  def dropIndex(): Boolean = ivfFamily.drop()

  // ---- where_document postings index (SURVEY §2.B B8's scale path) ----
  //
  // The [[IndexFamily]] build discipline over `docindex_v<V>.b<B>/`. Layout +
  // query semantics: [[graft.operators.DocIndex]] (trigram postings; index
  // answers are superset-prefilter + verbatim re-check, bit-identical to
  // the scan).

  def hasDocIndex: Boolean = docFamily.current(meta).isDefined

  /** Build the `where_document` postings index over the current version.
    * Postings are sliced by the store's own id bucket (`gp=<g>/pb=<b>`)
    * so later [[refreshDocIndex]] calls can carry unchanged slices
    * forward instead of re-deriving the whole corpus. */
  def buildDocIndex(): Unit = buildPostingsFamily(docFamily, docWriter)

  /** A postings family's writer: (id, document, pt) rows → a claimed
    * build dir, sliced `<axis>=<a>/pb=<pt>`. */
  private type PostingsWriter = (DataFrame, Path) => Unit

  private def docWriter: PostingsWriter = (rows, build) =>
    DocIndex.writeWithPb(rows, "id", "document", col("pt"), build.toString, maxRowsPerFile)

  /** Shared build for the document-derived postings families ("docindex"
    * trigram postings, "kwindex" keyword stats): one claim/write/commit
    * discipline, the family's writer plugged in — a protocol fix lands
    * once. */
  private def buildPostingsFamily(family: IndexFamily, writer: PostingsWriter,
                                  stamp: Option[(String, String)] = None): Unit = {
    val m = nonEmptyMeta()
    val data = versions.readVersion(m.version)
    require(data.columns.contains("document"),
      s"collection '${m.name}' carries no document column — nothing to index")
    family.build(m.version, stamp)(writer(data.select(col("id"), col("document"), col("pt")), _))
    family.record()
  }

  /** The postings families' incremental step for [[IndexFamily.refreshTo]]:
    * `writer` over the CHANGED buckets' (id, document, pt) rows —
    * postings and, for the keyword family, the per-bucket stats rows
    * re-derive; nothing is written when no bucket changed. */
  private def postingsChanged(m: CollectionMeta,
                              writer: PostingsWriter): (Path, Set[Int], Path) => Unit =
    (_, changed, build) =>
      if (changed.nonEmpty)
        writer(versions.readVersion(m.version).filter(col("pt").isin(changed.toSeq: _*))
          .select(col("id"), col("document"), col("pt")), build)

  /** Incrementally refresh the postings index to the CURRENT version:
    * rebuild postings ONLY for the id buckets whose data changed since
    * the last committed build's version; every other `gp=<g>/pb=<b>`
    * slice is carried from that build by carry-manifest entry —
    * O(touched data) compute + O(slices) metadata, instead of the
    * O(corpus) full re-derivation that made every point-upsert pay a
    * whole-index rebuild at scale.
    *
    * Changed buckets are detected from the COW layout itself (no extra
    * bookkeeping): merge commits carry untouched buckets in place (same
    * physical owner, same file names), so a bucket changed iff its
    * (owner, file-name set) signature differs between the indexed
    * version and the current one ([[VersionStore.changedBucketsBetween]]).
    * Falls back to a full [[buildDocIndex]] when there is no usable
    * prior build (none committed, legacy un-sliced layout, or the
    * indexed version's data dir was vacuumed away).
    *
    * Returns the number of buckets rebuilt (numBuckets for the full-
    * rebuild fallback, 0 when the index is already current). */
  def refreshDocIndex(): Int = {
    val m = nonEmptyMeta()
    docFamily.refreshTo(m, postingsChanged(m, docWriter), _ => buildDocIndex())(
      maybeAutoCompactIndexes())
  }

  /** Drop the postings index — every build plus the durable family
    * marker (the [[dropIndex]] contract: a drop must not be undone by
    * `refreshIndexes()`). */
  def dropDocIndex(): Boolean = docFamily.drop()

  /** The prefilter every read surface shares, so each takes the same
    * scale path: `df` (rows of snapshot `m`) is confined to the postings
    * index's candidate ids when a committed index matches `m` and
    * `whereDoc` is gram-confinable, then the verbatim `where`/`whereDoc`
    * predicate applies — ALWAYS, so the index shrinks IO and never
    * changes answers. */
  private def prefiltered(df: DataFrame, m: CollectionMeta, where: Option[Where],
                          whereDoc: Option[WhereDocument]): DataFrame = {
    val confined = (for {
      wd <- whereDoc
      sets <- DocIndex.gramSets(wd)
    } yield docFamily.servable(m).fold(df)(idx => df.join(
      DocIndex.candidates(readIndexBuild(idx), sets), Seq("id"), "left_semi"))).getOrElse(df)
    ChromaFilter.predicate(where, whereDoc, col("document"), keyResolver(confined))
      .map(confined.filter).getOrElse(confined)
  }

  // ---- keyword-statistics (BM25) sidecar — hybrid retrieval's scale path ----
  //
  // The [[IndexFamily]] build discipline over `kwindex_v<V>.b<B>/`. Layout +
  // query semantics: [[graft.operators.KeywordIndex]] (term-hash-sliced
  // postings carrying tf/dl + per-bucket stats rows; served scores are
  // bit-identical to the Retrieval.bm25 scan by the shared-fold contract).

  def hasKeywordIndex: Boolean = kwFamily.current(meta).isDefined

  /** The collection's keyword ANALYZER setting ([[Collection.AnalyzerKey]]
    * metadata; absent = "whitespace") — the ONE tokenization rule the
    * corpus scan, the sidecar build and the query side all apply. */
  def analyzer: String = analyzerOf(meta)

  private def analyzerOf(m: CollectionMeta): String = {
    val a = m.metadata.getOrElse(Collection.AnalyzerKey, Retrieval.DefaultAnalyzer)
    Retrieval.requireAnalyzer(a) // stored values are validated, but a
    a                            // hand-edited meta.json must fail loudly
  }

  /** The analyzer a committed keyword build was tokenized with — its
    * [[KeywordIndex.AnalyzerStamp]] file (absent = "whitespace": builds
    * predate the setting, whose rule was the only one then). Cached per
    * committed build ([[ResolvedCache]]): stamps are immutable once the
    * marker lands, and an uncached read would tax EVERY sidecar-path
    * keyword query with a small-file read. */
  private def kwAnalyzerOf(build: Path): String =
    ResolvedCache.memo(io, build, "kwstamp") {
      val p = new Path(build, KeywordIndex.AnalyzerStamp)
      if (io.exists(p)) new String(io.readBytes(p), StandardCharsets.UTF_8).trim
      else Retrieval.DefaultAnalyzer
    }

  /** The kwindex family writer bound to one analyzer. */
  private def kwWriter(analyzer: String): PostingsWriter = (rows, build) =>
    KeywordIndex.writeWithPb(rows, "id", "document", col("pt"), build.toString,
      maxRowsPerFile, analyzer)

  /** Build the keyword-stats (BM25) sidecar over the current version,
    * tokenized with the collection's [[analyzer]] (stamped into the
    * build dir). Postings are sliced by the store's own id bucket
    * (`tp=<t>/pb=<b>`) so later [[refreshKeywordIndex]] calls can carry
    * unchanged slices forward instead of re-deriving the whole corpus. */
  def buildKeywordIndex(): Unit = {
    val a = analyzerOf(meta)
    buildPostingsFamily(kwFamily, kwWriter(a),
      stamp = Some((KeywordIndex.AnalyzerStamp, a)))
  }

  /** Incrementally refresh the keyword sidecar to the CURRENT version —
    * the [[refreshDocIndex]] contract over the `tp=`/`pb=` layout:
    * postings AND the per-bucket stats rows of changed id buckets
    * re-derive; every other slice carries from the last committed build.
    * (Per-bucket stats are what make the carry SOUND: a bucket's
    * (n_docs, tot_dl) row lives in its own `pb` slice, so corpus totals
    * recompose exactly from rebuilt + carried slices.) Returns buckets
    * rebuilt; falls back to a full [[buildKeywordIndex]] without a
    * usable prior build — including when the prior build's analyzer
    * stamp disagrees with the collection's current [[analyzer]] (its
    * slices tokenize under a retired rule and must not be carried). */
  def refreshKeywordIndex(): Int = {
    val m = nonEmptyMeta()
    val a = analyzerOf(m)
    kwFamily.refreshTo(m, postingsChanged(m, kwWriter(a)), _ => buildKeywordIndex(),
      // a build whose analyzer stamp disagrees with the collection's
      // current setting must neither satisfy the refresh nor donate
      // carried slices, or index ≡ scan breaks
      usable = b => kwAnalyzerOf(b) == a,
      stamp = Some((KeywordIndex.AnalyzerStamp, a)))(maybeAutoCompactIndexes())
  }

  /** Drop the keyword sidecar — every build plus the durable family
    * marker (the [[dropIndex]] contract: a drop must not be undone by
    * `refreshIndexes()`). */
  def dropKeywordIndex(): Boolean = kwFamily.drop()

  /** The committed keyword build SERVABLE under snapshot `m`: current
    * version AND analyzer stamp = the collection's current setting. A
    * version-current build under a retired analyzer is stale the same
    * way a version-stale one is — both fall back to the (analyzer-
    * correct) scan, loudly, until a refresh rebuilds. */
  private def servableKwIndex(m: CollectionMeta, a: String): Option[Path] =
    kwFamily.servable(m).filter { idx =>
      // memoized like IndexFamily.servable: the mismatch holds until a
      // refresh lands (which changes the newest build PATH, keying a new
      // warn), so warning once per (build, setting) is enough —
      // unmemoized, every keyword query would log the same line
      val ok = kwAnalyzerOf(idx) == a
      if (!ok && Collection.staleProbe.add(s"$dir|kwindex-analyzer|$idx|$a"))
        log.warn(s"keyword sidecar of collection '${m.name}' was built " +
          s"under analyzer '${kwAnalyzerOf(idx)}' but the collection is " +
          s"set to '$a' — serving the O(corpus) scan path; run " +
          "refreshKeywordIndex() to rebuild")
      ok
    }

  /** Caller-provided terms normalized by the collection's analyzer
    * (stored postings are analyzed, so an unanalyzed query term — "Hash,"
    * — would silently match nothing): under "whitespace" terms pass
    * VERBATIM (the original contract — callers own casing); under any
    * other rule each term is normalized and terms that normalize away
    * are dropped, loudly when ALL do. */
  private def analyzedTerms(terms: Seq[String], a: String): Seq[String] =
    if (a == Retrieval.DefaultAnalyzer) terms
    else {
      val out = terms.map(t => Retrieval.normalizeTerm(t, a)).filter(_.nonEmpty)
      require(out.nonEmpty,
        s"no query term survives analyzer '$a': ${terms.mkString("[", ", ", "]")}")
      out
    }

  /** BM25 keyword top-n over the collection's `document` column:
    * (id, rnk, score). Terms are normalized by the collection's
    * [[analyzer]]; serves from the committed keyword sidecar when one
    * matches the current version AND the analyzer — per-query cost
    * O(matching postings) — and falls back to the exact
    * [[Retrieval.bm25TopK]] corpus scan otherwise; both paths return
    * bit-identical scores (the shared-fold contract
    * [[graft.operators.KeywordIndex]] documents).
    *
    * `where`/`whereDoc` confine WHICH documents rank (Chroma's query
    * prefilters, applied between the score fold and the top-n rank) —
    * never how they score: BM25 statistics stay corpus-global, the
    * Lucene filter-query rule, so a committed sidecar serves filtered
    * queries too and a document's score is filter-invariant
    * ([[keywordEligible]] documents the join shape). */
  def keywordTopK(queryTerms: Seq[String], n: Int,
                  k1: Double = 1.2, b: Double = 0.75,
                  where: Option[Where] = None,
                  whereDoc: Option[WhereDocument] = None): DataFrame =
    keywordRead(n, where, whereDoc, Retrieval.rankTopN) { (m, a, index) =>
      val terms = analyzedTerms(queryTerms, a)
      index.fold(Retrieval.bm25(keywordCorpus(m), "id", "document", terms, k1, b, a))(
        idx => KeywordIndex.bm25Scores(readIndexBuild(idx), terms, k1, b))
    }

  /** The body both keyword reads share: one meta snapshot and its
    * analyzer, the servable sidecar (or None for the corpus scan) handed
    * to `scores`, then the prefilters and the top-n rank. */
  private def keywordRead(n: Int, where: Option[Where], whereDoc: Option[WhereDocument],
                          rank: (DataFrame, Int) => DataFrame)(
      scores: (CollectionMeta, String, Option[Path]) => DataFrame): DataFrame = {
    require(n > 0, s"n must be positive, got $n")
    val m = meta
    val a = analyzerOf(m)
    rank(keywordEligible(scores(m, a, servableKwIndex(m, a)), m, where, whereDoc), n)
  }

  private def keywordCorpus(m: CollectionMeta): DataFrame = {
    val df = versions.snapshotDF(m)
    require(df.columns.contains("document"),
      s"collection '${m.name}' carries no document column — keyword " +
        "retrieval needs one")
    df
  }

  /** Confine a scored keyword frame (carrying `id`) to the documents
    * passing the prefilters, BEFORE the rank: eligibility is a
    * column-pruned snapshot scan (id + the filtered columns only — the
    * predicate pushes to parquet) semi-joined onto the O(matching
    * postings) score stream, so the sidecar path never re-reads the
    * corpus beyond the filter columns. whereDoc rides the trigram
    * postings index when one is committed ([[prefiltered]]), the
    * same scale path get/query take. No-op without filters. */
  private def keywordEligible(scores: DataFrame, m: CollectionMeta,
                              where: Option[Where],
                              whereDoc: Option[WhereDocument]): DataFrame =
    if (where.isEmpty && whereDoc.isEmpty) scores
    else scores.join(prefiltered(versions.snapshotDF(m), m, where, whereDoc).select("id"),
      Seq("id"), "left_semi")

  /** The BATCH form of [[keywordTopK]] — one pruned sidecar read (or one
    * corpus scan on the fallback path) serves every query in the batch:
    * (qid, id, rnk, score), each qid's rows exactly its single-query
    * [[keywordTopK]] answer (GLOBAL df, shared fold). */
  def keywordTopKBatch(queries: Seq[Seq[String]], n: Int,
                       k1: Double = 1.2, b: Double = 0.75,
                       where: Option[Where] = None,
                       whereDoc: Option[WhereDocument] = None): DataFrame =
    keywordRead(n, where, whereDoc, Retrieval.rankTopNBatch) { (m, a, index) =>
      val analyzed = queries.map(q => analyzedTerms(q, a))
      index.fold(Retrieval.bm25Batch(keywordCorpus(m), "id", "document", analyzed, k1, b, a))(
        idx => KeywordIndex.bm25ScoresBatch(readIndexBuild(idx), analyzed, k1, b))
    }

  /** The corpus tokenization rule applied to a query text — the
    * collection's [[analyzer]] via the shared [[Retrieval.queryTerms]]
    * written form (UTF8String lowercase — the EXACT routine Spark's
    * lower() applies corpus-side — split, per-analyzer normalization,
    * duplicates collapsed: BM25 scores a term once per DISTINCT term). */
  private def queryTerms(text: String): Seq[String] =
    Retrieval.queryTerms(text, analyzerOf(meta))

  /** Hybrid retrieval — the full RAG read path as ONE collection call:
    * the query text drives BOTH legs. The KEYWORD leg tokenizes it with
    * the corpus rule (`lower` + whitespace split, duplicates collapsed —
    * BM25 scores a term once per distinct query term) and runs
    * [[keywordTopK]] (keyword sidecar when committed, scan otherwise —
    * same values either way); the VECTOR leg embeds it through the
    * collection's RECORDED embedding function ([[queryText]]'s binding
    * rule, zero-vector gate included) and takes the exact top-fetchN.
    * The two rank lists fuse by reciprocal-rank fusion
    * ([[Retrieval.rrf]]) — rank-only arithmetic, so the fusion is exact
    * whatever the legs' score scales are.
    *
    * 100 TB shape: the keyword leg reads O(matching postings) off the
    * tp-pruned sidecar, the vector leg is one corpus scan (or the PQ/IVF
    * routes via [[queryTextPq]] for callers that want the coded leg);
    * the fusion joins two ≤fetchN-row lists — driver never sees rows. */
  def queryHybridText(text: String, k: Int, fetchN: Int = 50,
                      rrfK: Int = 60,
                      where: Option[Where] = None,
                      whereDoc: Option[WhereDocument] = None): DataFrame =
    hybridFuse(text, k, fetchN, rrfK, where, whereDoc)(
      queryText(Seq(text), fetchN, where, whereDoc))

  /** The shared hybrid skeleton (see [[queryHybridText]] /
    * [[queryHybridTextPq]] — one written form of the gates, the keyword
    * leg and the fusion; only the vector leg is plugged in): tokenize
    * with the corpus rule, keyword top-fetchN, rrf-fuse with the given
    * vector leg's (id, rnk), top-k. `vectorLeg` is by-name so its gates
    * (e.g. the PQ index requirement) fire inside this call, loudly. */
  private def hybridFuse(text: String, k: Int, fetchN: Int, rrfK: Int,
                         where: Option[Where] = None,
                         whereDoc: Option[WhereDocument] = None)
                        (vectorLeg: => DataFrame): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    require(fetchN >= k, s"fetchN ($fetchN) must be >= k ($k)")
    val terms = queryTerms(text)
    require(terms.nonEmpty, s"query text '$text' has no tokens")
    // prefilters apply to BOTH legs before their top-fetchN (the caller
    // passes the same where/whereDoc into its vector leg), so every
    // fused id satisfies the filter and each leg's fetchN slots all go
    // to eligible documents — filtering the fused list instead would
    // silently return < k rows whenever ineligible docs crowd a leg
    val kw = keywordTopK(terms, fetchN, where = where, whereDoc = whereDoc)
      .select(col("id"), col("rnk"))
    val vr = vectorLeg.select(col("id"), col("rnk"))
    Retrieval.rrf(Seq(kw, vr), "id", "rnk", rrfK)
      .orderBy(col("rrf").desc, col("id")).limit(k)
  }

  /** [[queryHybridText]] with BOTH legs index-confined — the 100 TB
    * serving hybrid: the keyword leg reads O(matching postings) off the
    * tp-pruned keyword sidecar, the vector leg runs [[queryTextPq]]'s
    * codes-only ADC scan inside the probed IVF cells (m bytes/row, the
    * embedding column unread until the refine). Vector-leg ranks are the
    * PQ pipeline's REFINED ranks (approximate shortlist → exact re-rank),
    * so the fusion inherits PQ's recall dial (`nprobe`/`adcFetchN`) —
    * exactly the trade a serving stack tunes. `fetchN` is both legs'
    * list depth; `adcFetchN` the ADC shortlist (0 = size-aware default). */
  def queryHybridTextPq(text: String, k: Int, fetchN: Int = 50,
                        nprobe: Int = 0, adcFetchN: Int = 0,
                        rrfK: Int = 60,
                        where: Option[Where] = None,
                        whereDoc: Option[WhereDocument] = None): DataFrame =
    hybridFuse(text, k, fetchN, rrfK, where, whereDoc)(
      queryTextPq(Seq(text), fetchN, nprobe, adcFetchN, where, whereDoc))

  /** The BATCH form of [[queryHybridText]]: one sidecar read serves every
    * text's keyword leg ([[keywordTopKBatch]]), one [[queryText]] batch
    * serves every vector leg, and the fusion joins per (qid, id). Output
    * (qid, id, rrf) — each qid's rows exactly its single-text
    * [[queryHybridText]] answer. */
  def queryHybridTextBatch(texts: Seq[String], k: Int, fetchN: Int = 50,
                           rrfK: Int = 60,
                           where: Option[Where] = None,
                           whereDoc: Option[WhereDocument] = None): DataFrame = {
    require(texts.nonEmpty, "queryHybridTextBatch needs at least one text")
    require(k > 0, s"k must be positive, got $k")
    require(fetchN >= k, s"fetchN ($fetchN) must be >= k ($k)")
    val termSets = texts.map(queryTerms)
    termSets.zip(texts).foreach { case (ts, t) =>
      require(ts.nonEmpty, s"query text '$t' has no tokens") }
    val kw = keywordTopKBatch(termSets, fetchN, where = where, whereDoc = whereDoc)
      .select(col("qid"), col("id"), col("rnk"))
    val vr = queryText(texts, fetchN, where, whereDoc)
      .select(col("qid"), col("id"), col("rnk"))
    val fused = Retrieval.rrfKeyed(Seq(kw, vr), Seq("qid", "id"), "rnk", rrfK)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("qid").orderBy(col("rrf").desc, col("id"))
    fused.withColumn("__rk", row_number().over(w)).filter(col("__rk") <= k)
      .drop("__rk").orderBy(col("qid"), col("rrf").desc, col("id"))
  }

  /** Hybrid retrieval + cross-encoder RERANK as one call — the full
    * three-stage RAG read path (retrieve → fuse → rerank): the query
    * text drives [[queryHybridText]]'s fused top-fetchN (both legs,
    * same prefilters), the candidates' documents are point-read with
    * the get(ids) bucket pruning, and `fn` re-scores every (text,
    * document) pair — [[graft.operators.Rerank.rerank]]'s batched
    * mapPartitions, ties broken by the fused prior rank (stable).
    * Returns (id, rnk, score), rnk 1..k by reranked order.
    *
    * Bounded by construction: the candidate list is ≤ fetchN rows (the
    * retrieval contract), so the id collect, the pruned document read
    * and the rank window are all client-sized — the corpus never feeds
    * the scorer. The fused kNN executes eagerly at call time (the
    * candidate ids prune the document read). */
  def queryRerankText(text: String, k: Int, fn: graft.operators.RerankFunction,
                      fetchN: Int = 50, rrfK: Int = 60,
                      where: Option[Where] = None,
                      whereDoc: Option[WhereDocument] = None): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    require(fetchN >= k, s"fetchN ($fetchN) must be >= k ($k)")
    val m = meta
    require(versions.snapshotDF(m).columns.contains("document"),
      s"collection '${m.name}' carries no document column — rerank scores " +
        "(query, document) pairs")
    val fused = queryHybridText(text, fetchN, fetchN, rrfK, where, whereDoc)
    // prior = the fused order (rrf desc, id) — the tie-break rerank
    // preserves among equal scores; bounded collect (≤ fetchN rows)
    val prior = fused.orderBy(col("rrf").desc, col("id"))
      .collect().map(_.getAs[String]("id")).zipWithIndex
      .map { case (id, i) => (id, i + 1) }
    import spark.implicits._
    if (prior.isEmpty)
      // zero candidates (a prefilter excluded everything): empty result —
      // get(ids = Nil) means NO id filter and would scan the whole corpus
      // just to inner-join it against nothing
      return Seq.empty[(String, Int, Double)].toDF("id", "rnk", "score")
    val cands = broadcast(prior.toSeq.toDF("id", "prior"))
    val docs = get(ids = prior.map(_._1).toSeq,
      include = Some(Set("documents"))).select(col("id"), col("document"))
    graft.operators.Rerank.rerank(
      cands.join(docs, Seq("id"), "inner"), "id", "document", "prior",
      text, fn, k)
  }

  /** Late-interaction read path (ColBERT MaxSim) as ONE call — the rung
    * between the fused/keyword retrieval and the cross-encoder rerank:
    * keyword shortlist (sidecar-served when current, prefilters applied
    * at the same rank boundary as every keyword read) → candidates'
    * documents point-read (`get(ids)` bucket pruning, the rerank path's
    * discipline) → chunked (`chunkTokens`/`overlap` windows) → chunks
    * embedded with the collection's RECORDED embedding function → each
    * query TERM embedded alone (ColBERT's per-token query encoding, the
    * analyzer's own tokenization) → score(doc) = Σ over terms of the
    * best-chunk cosine ([[graft.operators.Retrieval.maxSimTopK]]).
    * Every stage past the shortlist is bounded by fetchN — the staged
    * shape that holds at 100 TB (BASELINE r16: whole-corpus MaxSim is
    * ×52 at 100× rows; this path's cost is the shortlist's). */
  def queryMaxSimText(text: String, k: Int, fetchN: Int = 50,
                      chunkTokens: Int = 32, overlap: Int = 8,
                      where: Option[Where] = None,
                      whereDoc: Option[WhereDocument] = None): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    require(fetchN >= k, s"fetchN ($fetchN) must be >= k ($k)")
    val m = meta
    require(versions.snapshotDF(m).columns.contains("document"),
      s"collection '${m.name}' carries no document column — MaxSim scores " +
        "chunk vectors of the document text")
    val ef = recordedEmbedder(m,
      "hydrate via addDocuments; MaxSim embeds chunks AND query tokens")
    val terms = graft.operators.Retrieval.queryTerms(text, analyzerOf(m))
    require(terms.nonEmpty, s"query text '$text' has no tokens under the " +
      s"'${analyzerOf(m)}' analyzer")
    // bounded collect (≤ fetchN rows) — same contract as the rerank prior
    val cand = keywordTopK(terms, fetchN, where = where, whereDoc = whereDoc)
      .select("id").collect().map(_.getString(0)).toSeq
    import spark.implicits._
    if (cand.isEmpty)
      return Seq.empty[(String, Double)].toDF("id", "score")
    val docs = get(ids = cand, include = Some(Set("documents")))
      .select(col("id"), col("document"))
    val chunks = graft.functions.TextAnalysis.chunk(
      docs, "id", "document", chunkTokens, overlap)
    graft.operators.Retrieval.maxSimTopK(
      ef.embedFrame(chunks, "chunk_text", "cvec"), "id", "cvec",
      terms.map(ef.embedOne), k)
  }

  /** The layout-owned columns of an index build dir: always `cell`, plus
    * `pb` ONLY when the build actually has pb slices (r8+ layouts) — a
    * pre-r8 legacy build cannot own a `pb` column, so one appearing there
    * is USER data and must survive the read (indexable() rejects the
    * name for every new build, so the ambiguity cannot recur). */
  private def indexLayoutCols(build: Path): Seq[String] =
    if (ivfFamily.hasPbSlices(build)) Seq("cell", "pb") else Seq("cell")

  /** The collection's embedding dimension (None while empty): a one-row
    * probe, valid because add/hydrate enforce uniform dimensions. */
  def dim(): Option[Int] = snapshotDim(meta)

  /** [[dim]] of ONE meta snapshot, probed once per committed data version
    * ([[ResolvedCache]]). */
  private def snapshotDim(m: CollectionMeta): Option[Int] =
    versions.currentDataOf(m).flatMap(data => ResolvedCache.memo(io, data, "dim")(
      versions.snapshotDF(m).select(size(col("embedding")).as("d")).limit(1).collect()
        .headOption.map(_.getInt(0))))

  /** A positive-integer tuning key from collection metadata. LOUD on a
    * present-but-malformed value: silently falling back to a default on a
    * typo'd `ivf:nprobe` would be an invisible recall regression. */
  private def metaPositiveInt(m: CollectionMeta, key: String): Option[Int] =
    m.metadata.get(key).map { raw =>
      val v = scala.util.Try(raw.trim.toInt).getOrElse(
        throw new IllegalArgumentException(
          s"collection metadata $key='$raw' is not an integer"))
      require(v > 0, s"collection metadata $key must be positive, got $v")
      v
    }

  /** Per-call nprobe resolution: a positive value wins; 0 (the default)
    * falls back to the collection's `ivf:nprobe` metadata (Chroma-style
    * collection-level tuning, our analog of `hnsw:search_ef`), then 4. */
  private def resolveNprobe(m: CollectionMeta, nprobe: Int): Int = {
    require(nprobe >= 0, s"nprobe must be >= 0 (0 = collection default), got $nprobe")
    if (nprobe > 0) nprobe else metaPositiveInt(m, "ivf:nprobe").getOrElse(4)
  }

  private def requireNoReserved(df: DataFrame, reserved: Seq[String]): Unit = {
    val clash = df.columns.intersect(reserved)
    require(clash.isEmpty,
      s"collection columns ${clash.mkString(", ")} collide with kNN output names; rename them")
  }

  /** The rows one vector read scores (probed IVF cells or the exact scan,
    * prefiltered), the index-layout columns to drop from its output, and
    * on the IVF path the centroids, PQ codebooks and per-query cells. */
  private final class VectorScan(
      val rows: DataFrame, val layoutCols: Seq[String],
      val centroids: Option[Array[(Int, Array[Double])]], val pq: Option[Ann.PqModel],
      val cellsPerQuery: Seq[Seq[Int]]) {
    def dropLayout(df: DataFrame): DataFrame =
      if (layoutCols.isEmpty) df else df.drop(layoutCols: _*)
  }

  /** The prelude every vector read shares, against ONE meta snapshot `m`:
    * argument gates — the query dimension is checked against THIS
    * snapshot, so a concurrent `replaceContents` cannot slip a wrong-
    * dimension query past the guard into VectorDistance's NULL distances
    * (which rank first: k arbitrary rows, no error) — then
    * the IVF-or-scan choice, cell probing, the reserved-name check,
    * `cell isin` pruning and [[prefiltered]]. `pqPlain` marks a PQ read
    * (naming its plain counterpart for the error): it is LOUD without a
    * committed PQ-coded build — silently falling back to brute force
    * would hide exactly the cost the PQ surface exists to avoid. */
  private def vectorScan(m: CollectionMeta, op: String, queryVecs: Seq[Seq[Float]],
                         k: Int, where: Option[Where], whereDoc: Option[WhereDocument],
                         nprobe: Int, exact: Boolean, reserved: Seq[String],
                         pqPlain: Option[String] = None): VectorScan = {
    require(queryVecs.nonEmpty, s"$op needs at least one query vector")
    val dims = queryVecs.map(_.length).distinct
    require(dims.size == 1, s"query vectors must share one dimension, got $dims")
    require(k > 0, s"k must be positive, got $k")
    snapshotDim(m).foreach { d =>
      require(d == dims.head, s"query vector dimension ${dims.head} != collection dimension $d")
    }
    val index =
      if (pqPlain.isEmpty) ivfOrScan(m, exact)
      else Some(currentIndex(m).getOrElse(throw new IllegalStateException(
        s"collection '${m.name}' has no committed index for version ${m.version} — run buildIndexPq")))
    val pq = index.flatMap { case (build, _) => pqModelOf(build) }
    pqPlain.filter(_ => pq.isEmpty).foreach { plain =>
      throw new IllegalStateException(
        s"index build ${index.get._1} carries no PQ codebooks — built with buildIndex? " +
          s"run buildIndexPq for the ADC path or $plain() for the plain one")
    }
    val (base, layoutCols, cellsPerQuery) = index match {
      case Some((build, cents)) =>
        // per-query probe sets, chosen locally from the tiny centroid
        // table; the scan prunes to the UNION of probed cells
        val np = resolveNprobe(m, nprobe)
        val cellsPerQ = queryVecs.map(v => Ann.nearestCellsOf(cents, v, np))
        val indexed = readIndexBuild(build)
        // `codes` on a PQ-coded build (= the codebook sidecar exists) is
        // index layout like cell/pb — reads must not leak it into results;
        // keyed on the SIDECAR, not the column name, so a plain IVF build
        // over a user data column named codes keeps it
        val layout = indexLayoutCols(build) ++ (if (pq.isDefined) Seq("codes") else Nil)
        requireNoReserved(indexed.drop(layout: _*), reserved)
        // `cell` is the index layout's partition column — the isin lands in
        // the scan as a PartitionFilter, so only the probed cells' files
        // are even listed (PlanShapeSpec pins this)
        (indexed.filter(col("cell").isin(cellsPerQ.flatten.distinct: _*)), layout, cellsPerQ)
      case None =>
        val df = versions.snapshotDF(m)
        requireNoReserved(df, reserved)
        (df, Nil, Nil)
    }
    new VectorScan(prefiltered(base, m, where, whereDoc), layoutCols,
      index.map(_._2), pq, cellsPerQuery)
  }

  /** B6 query: top-k nearest neighbors with optional prefilters. When a
    * committed index matches the current version, the scan prunes to the
    * `nprobe` nearest cells (Chroma parity: its HNSW read path is also
    * approximate); `exact = true` forces the full brute-force scan. */
  def query(queryVec: Seq[Float], k: Int, where: Option[Where] = None,
            whereDoc: Option[WhereDocument] = None, nprobe: Int = 0,
            exact: Boolean = false): DataFrame = {
    val m = meta
    val s = vectorScan(m, "query", Seq(queryVec), k, where, whereDoc, nprobe, exact,
      Seq("dist"))
    s.dropLayout(Knn.topK(s.rows, "id", "embedding", queryVec, k, m.space))
  }

  /** B6 batch form: Chroma's `query` accepts a LIST of query embeddings
    * and returns per-query result sets: `(…, qid, dist, rnk)`, the stored
    * columns minus the vector, `qid` the 0-based position of the query
    * vector and `rnk` its 1-based rank. One corpus scan serves the whole
    * batch — never a per-query rescan — through [[KnnTopK]]: the scan
    * stage scores each row against every query vector (on the IVF path
    * only the queries whose probed cells hold it), each task keeps a
    * size-k heap per query, and collecting the frame runs ONE Spark job.
    * Constructing it runs none on a resolved snapshot. */
  def queryBatch(queryVecs: Seq[Seq[Float]], k: Int, where: Option[Where] = None,
                 whereDoc: Option[WhereDocument] = None, nprobe: Int = 0,
                 exact: Boolean = false): DataFrame =
    rankedBatch(queryVecs, k, where, whereDoc, nprobe, exact, keepVector = false)

  /** The [[queryBatch]] body; `keepVector` carries each hit's stored
    * vector (queryStruct's embeddings). */
  private def rankedBatch(queryVecs: Seq[Seq[Float]], k: Int, where: Option[Where],
                          whereDoc: Option[WhereDocument], nprobe: Int, exact: Boolean,
                          keepVector: Boolean): DataFrame = {
    val m = meta
    val s = vectorScan(m, "queryBatch", queryVecs, k, where, whereDoc, nprobe, exact,
      Seq("qid", "rnk", "dist", "__qvec", "__qcells", "__na", "__nq"))
    // per-query probe sets: a row outside THIS query's probed cells is
    // never ranked for it, even though the scan reads the union
    val probed = s.cellsPerQuery.map(cells => col("cell").isin(cells: _*))
    KnnTopK.batch(s.rows, "id", "embedding", queryVecs, k, m.space, probed,
      dropCols = s.layoutCols, keepVector = keepVector)
  }

  /** Chroma result-SHAPE parity: `collection.query` returns parallel
    * per-query lists (`ids`, and — under `include=` control — `documents`,
    * `distances`, `metadatas`, `embeddings`, `uris`, `data`). One row per
    * query vector in `qid` order; a query whose filter leaves no hits gets
    * empty lists, not a missing row. Metadata = every stored column that
    * isn't id/document/embedding, stringified into one map per hit (the
    * flat typed columns stay the pushdown layout; this is presentation
    * only).
    *
    * The fold runs inside [[queryBatch]]'s one job ([[KnnTopK.fold]]):
    * the driver gathers each query's ranked hits — with their stored
    * vectors under include("embeddings") — into the lists. Collecting the
    * frame runs ONE Spark job, and the call itself stays lazy for every
    * include set. */
  def queryStruct(queryVecs: Seq[Seq[Float]], k: Int,
                  where: Option[Where] = None,
                  whereDoc: Option[WhereDocument] = None,
                  include: Set[String] = Set("documents", "distances", "metadatas"),
                  nprobe: Int = 0, exact: Boolean = false): DataFrame = {
    val unknown = include.diff(
      Set("documents", "distances", "metadatas", "embeddings", "uris", "data"))
    require(unknown.isEmpty, s"unknown include entries: ${unknown.mkString(", ")}")
    val long = rankedBatch(queryVecs, k, where, whereDoc, nprobe, exact,
      keepVector = include("embeddings"))
    val fields: Seq[FoldField] =
      ("id", "ids", col("id")) +:
      (docField(long, include("documents")) ++
        (if (include("distances")) Seq(("dist", "distances", col("dist"))) else Nil) ++
        (if (include("embeddings")) Seq(("embedding", "embeddings", col("embedding"))) else Nil) ++
        uriDataFields(long, include) ++
        metaField(long, include("metadatas"),
          exclude = Seq("qid", "rnk", "id", "dist", "document", "embedding", "uri", "data")))
    KnnTopK.fold(long, fields.map { case (_, list, e) => e.as(list) })
  }

  // ---- shared presentation fold for queryStruct/getStruct ----
  // (payload field name, output list name, source expression)
  private type FoldField = (String, String, Column)

  /** Chroma's multimodal record fields (`include=["uris","data"]`): `uris`
    * surfaces a `uri` column, `data` a binary `data` column. A collection
    * without the column still answers the include — with nulls, exactly
    * like a Chroma collection whose records carry no uri/data. */
  private def uriDataFields(df: DataFrame, include: Set[String]): Seq[FoldField] = {
    def f(colName: String, listName: String, tpe: String): Seq[FoldField] =
      if (!include(listName)) Nil
      else if (df.columns.contains(colName)) Seq((colName, listName, col(colName)))
      else Seq((colName, listName, lit(null).cast(tpe)))
    f("uri", "uris", "string") ++ f("data", "data", "binary")
  }

  private def docField(df: DataFrame, on: Boolean): Seq[FoldField] =
    if (on && df.columns.contains("document"))
      Seq(("document", "documents", col("document"))) else Nil

  /** The per-hit metadata map: a collection either flattens metadata into
    * typed columns (stringified here) or carries Chroma's own
    * MAP<STRING,STRING> `metadata` column (returned AS the map — callers
    * get real key/values, not a stringified blob); both layouts may even
    * coexist (map_concat, duplicate keys rejected by Spark's policy). */
  private def metaField(df: DataFrame, on: Boolean,
                        exclude: Seq[String]): Seq[FoldField] = {
    if (!on) return Nil
    val hasMap = df.schema.fields.exists(f =>
      f.name == "metadata" && f.dataType.isInstanceOf[org.apache.spark.sql.types.MapType])
    val flat = df.columns.filterNot((exclude :+ "metadata").contains).sorted
    val flatMap =
      if (flat.isEmpty) None
      else Some(map(flat.flatMap(c => Seq(lit(c), col(c).cast("string"))): _*))
    val m = (hasMap, flatMap) match {
      case (true, Some(f)) => Some(map_concat(f, col("metadata").cast("map<string,string>")))
      case (true, None)    => Some(col("metadata").cast("map<string,string>"))
      case (false, f)      => f
    }
    m.map(("meta", "metadatas", _)).toSeq
  }

  /** Collect each group's rows into ONE array sorted by `sortKey` under
    * `cmp`; returns `groupKeys :+ rows`. */
  private def sortedRows(page: DataFrame, groupKeys: Seq[String],
                         sortKey: Column, cmp: (Column, Column) => Column,
                         fields: Seq[FoldField]): DataFrame = {
    val payload = struct(sortKey.as("__k") +: fields.map { case (f, _, e) => e.as(f) }: _*)
    val sorted = array_sort(collect_list(payload),
      (l, r) => cmp(l.getField("__k"), r.getField("__k"))).as("rows")
    if (groupKeys.isEmpty) page.agg(sorted)
    else page.groupBy(groupKeys.map(col): _*).agg(sorted)
  }

  /** Re-extract parallel per-field lists from the sorted rows array. */
  private def extractLists(grouped: DataFrame, groupKeys: Seq[String],
                           fields: Seq[FoldField]): DataFrame =
    grouped.select(groupKeys.map(col) ++ fields.map { case (f, o, _) =>
      transform(col("rows"), _.getField(f)).as(o)
    }: _*)

  /** B10 count / peek. */
  def count(): Long = snapshotCount(meta)

  /** [[count]] of ONE meta snapshot, counted once per committed data
    * version ([[ResolvedCache]]). */
  private def snapshotCount(m: CollectionMeta): Long =
    versions.currentDataOf(m).fold(0L)(data => ResolvedCache.memo(io, data, "count")(
      java.lang.Long.valueOf(versions.snapshotDF(m).count())).longValue)
  def peek(n: Int = 10): DataFrame = toDF.orderBy("id").limit(n)

  /** B11 modify: rename is a catalog move; metadata is a meta.json update. */
  def modifyMetadata(kv: Map[String, String]): Unit = {
    val m = meta
    // the creation-time space/hnsw:space consistency check must not be
    // bypassable through the mutation path: a collection advertising one
    // space in Chroma-convention metadata while querying with another is
    // exactly the inconsistency it exists to prevent
    kv.get("hnsw:space").foreach(s => require(s == m.space,
      s"hnsw:space '$s' conflicts with the collection's space '${m.space}'"))
    // the pt-prefix rule is on-disk LAYOUT (like `buckets`): rows already
    // sit in the buckets the creation-time rule hashed them into, and a
    // silent re-point would corrupt every bucket-pruned read and merge
    kv.get(Collection.PtPrefixSepKey).foreach(s => require(
      versions.currentDataOf(m).isEmpty ||
        m.metadata.get(Collection.PtPrefixSepKey).contains(s),
      s"${Collection.PtPrefixSepKey} is part of the on-disk bucket " +
        "layout and cannot change once data is written — fork or " +
        "re-hydrate under the new rule instead"))
    // re-pointing the analyzer is legal (the keyword sidecar's per-build
    // stamp makes a stale build fall back to the scan path and the next
    // refresh rebuild in full) — but only to a rule that exists
    kv.get(Collection.AnalyzerKey)
      .foreach(graft.operators.Retrieval.requireAnalyzer)
    CollectionMeta.atomicWrite(io, dir, m.copy(metadata = m.metadata ++ kv))
  }

  /** Export the collection's current contents to an external sink
    * (parquet | csv | json). csv cannot carry array/map columns, so the
    * embedding is serialized to a comma-joined string and metadata to a
    * JSON string — a lossy but loadable interchange form. */
  def export(path: String, format: String = "parquet"): Unit = {
    val df = toDF
    format match {
      case "parquet" =>
        df.write.mode("overwrite").parquet(path)
        // identity sidecars ride the parquet export (underscore names —
        // both Spark and DuckDB parquet readers skip them as metadata):
        // space + metadata travel in `_graft_meta.json`, and a fitted
        // embedding model in `_embedder.txt` — without them an exported
        // collection imports as data-only and loses queryText (the
        // binding names a model only the source collection held)
        val m = meta
        io.writeBytes(new Path(path, Collection.ExportMetaName),
          CollectionMeta.toJson(m).getBytes(StandardCharsets.UTF_8))
        val sidecar = new Path(dir, Collection.EmbedderSidecar)
        if (io.exists(sidecar))
          io.writeBytes(new Path(path, Collection.EmbedderSidecar),
            io.readBytes(sidecar))
      case "json" => df.write.mode("overwrite").json(path)
      case "csv" =>
        val flat = df.columns.foldLeft(df) { (acc, c) =>
          acc.schema(c).dataType.typeName match {
            case "array" => acc.withColumn(c, concat_ws(",", col(c)))
            case "map"   => acc.withColumn(c, to_json(col(c)))
            case _       => acc
          }
        }
        flat.write.mode("overwrite").option("header", "true").csv(path)
      case other => throw new IllegalArgumentException(
        s"unknown export format '$other' (parquet|csv|json)")
    }
  }

  /** Committed versions still on disk, ascending — the time-travel axis.
    * Copy-on-write already retains every superseded version until
    * [[vacuum]]; this lists the ones whose commit marker AND data dir
    * both survive (an uncommitted claim or a vacuumed dir is not
    * readable history). */
  def history(): Seq[Int] = versions.history()

  /** Time-travel read: the collection exactly as committed at `version`.
    * Free — the COW layout IS the snapshot; nothing is copied. */
  def toDFAt(version: Int): DataFrame = {
    versions.requireCommitted(version, s"version $version is not a committed on-disk version")
    versions.readVersion(version).drop("pt")
  }

  /** Resolved PHYSICAL leaf dirs (`<owner>/pt=<b>`) of one committed
    * version's data, carry manifest applied — the binding surface for
    * [[graft.sources.GraftDataSource]] (`spark.read.format("graft")`):
    * a plain parquet relation over these dirs reads exactly [[toDFAt]]'s
    * content (leaf dirs as scan ROOTS, so the internal `pt` bucket
    * column never infers — the same shape toDF's drop produces). */
  private[graft] def leafDataDirs(version: Int): Seq[String] = {
    versions.requireCommitted(version, s"version $version is not a committed on-disk version")
    versions.owners(version).toSeq.sortBy(_._1)
      .map { case (part, owner) => new Path(owner, part).toString }
  }

  /** The schema a `mergeSchema` read of exactly `dirs` — leaf dirs of
    * committed `version`, as [[leafDataDirs]] or [[leafDataDirsForIds]]
    * bind them — infers, resolved once per committed version and dir set
    * ([[ResolvedCache]]). */
  private[graft] def leafSchema(version: Int, dirs: Seq[String]): org.apache.spark.sql.types.StructType =
    ResolvedCache.leafSchema(spark, io, versions.dataDir(version), dirs)

  /** [[leafDataDirs]] confined to the `pt` buckets a literal id list can
    * live in (the writer's own hash, evaluated driver-side — exactly
    * [[VersionStore.idPruned]]'s point-read rule, surfaced for the SQL read path's
    * `ids` option): the result is a SUPERSET binding — whole buckets, not
    * rows — so callers must still filter by id. Falls back to every leaf
    * dir when the stored id column is not STRING (the hash is
    * type-sensitive; a legacy layout must stay correct over fast).
    *
    * Schema caveat (documented at the SQL surface too): a relation bound
    * over the pruned dirs infers its schema from THEIR footers only — a
    * column that union-by-name evolution introduced in unbound buckets
    * only is invisible through this binding. Inferring from the full
    * listing instead would pay the O(all files) footer pass the option
    * exists to avoid; the contract is therefore rows-superset,
    * schema-of-the-pruned-buckets. */
  private[graft] def leafDataDirsForIds(version: Int, ids: Seq[String]): Seq[String] = {
    val all = leafDataDirs(version)
    // id TYPE probed from ONE leaf dir's footers — the key column is
    // written in every bucket of every version, so one dir suffices; a
    // carry-resolved whole-version read here would pay the O(all files)
    // footer pass this option exists to avoid. Non-string legacy layouts
    // fall back to the full listing (the hash is type-sensitive —
    // correct over fast), as does an unreadable probe.
    val idIsString = scala.util.Try(spark.read.parquet(all.head).schema).toOption
      .flatMap(_.fields.find(_.name == "id"))
      .exists(_.dataType == org.apache.spark.sql.types.StringType)
    if (!idIsString) all
    else {
      val want = versions.idBuckets(meta, ids).map(b => s"pt=$b").toSet
      val pruned = all.filter(d => want.contains(new Path(d).getName))
      // every wanted bucket dir may be absent (ids hashing to buckets
      // that never received rows): the true answer is empty, but a V1
      // relation needs >= 1 root to carry a schema — bind ONE bucket
      // (cheapest correct superset; the caller's id filter empties it)
      if (pruned.nonEmpty) pruned else all.take(1)
    }
  }

  /** Roll back by rolling FORWARD: commit a NEW version whose content is
    * `version`'s — every bucket carried by [[Carry]] manifest (O(buckets)
    * metadata, zero data movement on any filesystem). The claim protocol
    * stays monotonic — readers never see the pointer move backwards,
    * history keeps the bad versions for the audit trail, and a concurrent
    * writer conflicts loudly instead of silently losing the rollback. Any
    * index on the current version is NOT carried (it describes the
    * rolled-back-FROM content); rebuild after rolling back. */
  def rollbackTo(version: Int): Unit = {
    val m = meta
    require(version != m.version, s"already at version $version")
    versions.requireCommitted(version,
      s"cannot roll back to non-committed/vacuumed version $version")
    versions.writeCarriedVersion(m, version)
  }

  /** Rewrite the current version into a fresh one with freshly-packed
    * files: every point upsert/delete leaves one-or-few-row files in the
    * touched buckets, and after thousands of mutations scan parallelism
    * degrades into a small-files problem. Compaction is a normal commit
    * (claim → rewrite all buckets → marker → pointer), so it is safe
    * against concurrent writers and readers; follow with [[vacuum]] to
    * reclaim the superseded bytes. */
  def compact(): Unit = {
    val m = meta
    versions.currentDataOf(m).foreach { _ =>
      // full local rewrite: the new version carries NOTHING, so compaction
      // also collapses a long mutation history's carry-manifest owner
      // spread back to one dir (run vacuum after to reclaim the old dirs)
      val df = versions.readVersion(m.version).drop("pt")
      versions.writeVersion(df, m)
    }
  }

  /** Repack the CURRENT version's committed index builds into fresh
    * manifest-free builds with one file per leaf slice — the index-side
    * analog of [[compact]]. A long refresh chain leaves (a) a carry-
    * owner spread across superseded build dirs and (b) one small file
    * per refresh in every touched slice; both multiply per-file listing
    * and footer costs at read time (the `nlist × numBuckets` dir count
    * is the structural part; this removes the per-refresh multiplier and
    * collapses the spread so the next [[vacuum]] reclaims every
    * carried-from build).
    *
    * `keepRefreshAxis = false` additionally drops the `pb` id-bucket
    * axis (layout `cell=<c>` / `gp=<g>` only — numBuckets× fewer leaf
    * dirs), the read-optimized shape for a serving-frozen collection:
    * queries are unchanged, but the NEXT refresh after a mutation pays a
    * full rebuild (no pb slices left to diff against).
    *
    * Returns the number of builds compacted (0-3). Same MVCC discipline
    * as every build: fresh claimed dir at the SAME version, marker last,
    * readers adopt only the newest committed build — a concurrent reader
    * never sees a partial compaction. */
  def compactIndexes(keepRefreshAxis: Boolean = true): Int = {
    val m = meta
    val ivf = currentIndex(m)
    val builds = ivf.map(ivfFamily -> _._1).toSeq ++
      postingsFamilies.flatMap(f => f.current(m).map(f -> _))
    builds.foreach { case (f, old) => f.build(m.version) { claimed =>
      val rows0 = readIndexBuild(old)
      val withPb = keepRefreshAxis && rows0.columns.contains("pb")
      // dropping the pb axis merges the keyword family's per-bucket
      // STATS rows' slices too — they keep their reserved tp partition,
      // and queries sum them regardless of slicing, so corpus totals are
      // unchanged
      val rows = if (withPb) rows0 else rows0.drop("pb")
      // one task per cell / axis value → exactly one file per leaf slice;
      // a PQ-coded build keeps its codebooks (codes ride along as data)
      if (f == ivfFamily)
        writeIvfBuild(claimed, Ann.IvfModel(ivf.get._2, rows), pqModelOf(old), withPb)
      else rows.repartition(col(f.axis)).write.mode("overwrite")
        .option("maxRecordsPerFile", maxRowsPerFile)
        .partitionBy((if (withPb) Seq(f.axis, "pb") else Seq(f.axis)): _*)
        .parquet(claimed.toString)
    } }
    builds.size
  }

  /** Drop superseded copy-on-write versions, keeping the current one plus
    * `keepHistory` predecessors. A superseded dir that a retained
    * version's carry manifest still references for physical bytes
    * survives (reachability, not link counts) — only truly dead dirs are
    * freed, at whole-dir granularity; `compact()` first when minimal
    * footprint matters. Storage hygiene for long-lived collections under
    * frequent upserts. */
  def vacuum(keepHistory: Int = 0): Int = {
    require(keepHistory >= 0,
      s"keepHistory must be >= 0, got $keepHistory (negative would delete the LIVE version)")
    val current = meta.version
    val cutoff = current - keepHistory
    // every index family follows the same build discipline and is
    // vacuumed alike; live-build tracking is keyed (family, version) so
    // the families never shadow each other
    def kindOf(p: Path): Option[String] =
      families.find(_.owns(p.getName)).map(_.name)
    val versioned = io.list(dir)
      .filter(e => e.isDir && (VersionStore.isDataDir(e.name) || kindOf(e.path).isDefined))
      .map(_.path)
    // retained versions still shed superseded/crashed index BUILDS — only
    // the highest committed build (the one readers adopt) survives
    val liveBuild: Map[(String, Int), Int] = versioned
      .filter(p => kindOf(p).isDefined && versions.isCommitted(p))
      .groupBy(p => (kindOf(p).get, VersionStore.versionOf(p)))
      .view.mapValues(_.map(IndexFamily.buildNumberOf).max).toMap
    val provisionallyDead = versioned.filter { p =>
      val v = VersionStore.versionOf(p)
      v < cutoff || kindOf(p).exists(k =>
        liveBuild.get((k, v)).exists(IndexFamily.buildNumberOf(p) < _))
    }.toSet
    // Carry-manifest reachability: a superseded dir stays ALIVE while any
    // retained dir's manifest still points at it for physical bytes.
    // Manifests record direct physical owners (never chains), so one hop
    // from the retained set covers every live reference. (The retained
    // bytes are whole dirs — after long point-mutation runs, compact()
    // then vacuum() to collapse the owner spread and reclaim fully.)
    val referenced: Set[String] = versioned.filterNot(provisionallyDead)
      .flatMap(p => Carry.read(io, p).values).toSet
    val dead = provisionallyDead
      .filterNot(p => referenced.contains(p.getName)).toSeq
    dead.foreach(io.deleteRecursively)
    // A dir retained ONLY for its referenced bytes is RETIRED from
    // history: dropping its commit marker makes time travel / rollback /
    // build adoption refuse it, while its files keep serving the retained
    // manifests that point at them. Without this, a traveler could read a
    // byte-store dir whose OWN manifest references dirs this vacuum just
    // reclaimed — a torn snapshot. Retired ≠ reclaimed: it is not counted
    // in the returned total.
    provisionallyDead.filter(p => referenced.contains(p.getName))
      .foreach(p => io.deleteIfExists(new Path(p, CollectionMeta.CommittedName)))
    // retired version-claim files (cutoff <= current, so the commit record
    // of the live version always survives)
    versions.dropClaimsBelow(cutoff)
    dead.size
  }
}

object Collection {

  /** The fitted embedding-function model sidecar (see
    * [[graft.operators.FittedEmbeddingFunction]]): persisted at first
    * successful bind, required by every later resolution, carried by
    * fork. Unversioned file, versioned CONTRACT: the only sanctioned way
    * to change it is [[Collection.refit]], which re-embeds the whole
    * corpus in the same commit and pairs data with model via the
    * `embedding_model_fp` metadata fingerprint — ad-hoc re-fits are
    * rejected, and a sidecar that disagrees with the committed
    * fingerprint fails loudly at resolution. */
  val EmbedderSidecar = "_embedder.txt"

  /** Collection-identity sidecar of a parquet [[Collection.export]]
    * (underscore name — parquet readers skip it as metadata). */
  val ExportMetaName = "_graft_meta.json"

  /** Collection-metadata key prefix recording a metadata key's declared
    * Chroma type for the MAP layout ([[Collection.declareMetadataTypes]]). */
  val MetaTypePrefix = "meta:type:"

  /** Collection-metadata key naming the keyword-retrieval ANALYZER (one
    * of [[graft.operators.Retrieval.Analyzers]]; absent = "whitespace").
    * ONE tokenization rule for all three keyword sides — the corpus scan,
    * the persisted sidecar build (stamped per build,
    * [[graft.operators.KeywordIndex.AnalyzerStamp]]) and the query text —
    * recorded at collection level so every session resolves the same
    * rule. Same convention altitude as Chroma's `hnsw:space`. */
  val AnalyzerKey = "graft:analyzer"

  /** Opt-in mutation-locality bucketing rule (set at creation, layout-
    * immutable once data exists): pt hashes the id PREFIX up to the
    * first occurrence of this separator, so one tenant/prefix = one
    * bucket and tenant-confined mutations keep the sidecar-refresh
    * carry path cheap. See `VersionStore.bucketed`. */
  val PtPrefixSepKey = "graft:pt_prefix_sep"

  /** The distance spaces the engine implements (the Chroma set). Every
    * entry point that ACCEPTS a space name validates against this —
    * creation and the SQL surface's overwrite re-point — so a typo'd
    * space fails at the call, not years later as an 'unknown space'
    * analysis error on the first vector query against a committed meta. */
  val Spaces: Set[String] = Set("l2", "cosine", "ip")

  def requireSpace(s: String): Unit =
    require(Spaces.contains(s),
      s"unknown space '$s' — supported: ${Spaces.toSeq.sorted.mkString(", ")}")

  /** Fingerprint pairing committed data with the model that embedded it
    * (first 8 SHA-256 bytes of the sidecar text, hex). */
  private[catalog] def modelFp(text: String): String =
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(text.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      .take(8).map(b => f"$b%02x").mkString

  /** [[Collection]]'s stale-index warn memo: (dir, family, version)
    * triples already probed this JVM (see IndexFamily.servable — bounds the
    * fallback-read listing tax to one LIST per version per family).
    * Size-capped by coarse clear: re-probing is the only cost. */
  private[catalog] val staleProbe =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
}
