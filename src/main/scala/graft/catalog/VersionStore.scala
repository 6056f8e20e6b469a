package graft.catalog

import java.nio.charset.StandardCharsets

import org.apache.hadoop.fs.Path

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Literal, XxHash64}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, FloatType, StringType, StructField, StructType}

/** The data-version MVCC of one collection dir, and the only file that
  * spells its names:
  *
  *   <dir>/meta.json               {name, space, version, buckets, metadata}
  *   <dir>/meta.v<N>.json          version claims (the commit CAS)
  *   <dir>/data_v<N>/pt=<b>/       parquet, hash(id)-bucketed; buckets this
  *                                 version did NOT rewrite are recorded in
  *                                 `_graft_carry.json` ([[Carry]])
  *
  * Every mutation reads `meta` ONCE, derives its inputs (the bucket layout
  * included) from that snapshot, and passes it to the commit as the
  * expected CAS value: a fresh re-read at commit time would compare fresh
  * against fresh and wave through a concurrent commit (lost update). */
private[catalog] final class VersionStore(spark: SparkSession, val io: StoreIO, val dir: Path,
                                          maxRowsPerFile: Long) {

  def meta: CollectionMeta = CollectionMeta.read(io, dir)

  def dataDir(v: Int): Path = VersionStore.dataDir(dir, v)

  /** Whether version `v`'s data dir is on disk. */
  def hasData(v: Int): Boolean = io.exists(dataDir(v))

  /** `m`'s data dir; None while the collection was never written. */
  def currentDataOf(m: CollectionMeta): Option[Path] =
    if (hasData(m.version)) Some(dataDir(m.version)) else None

  /** Whether `p` (a data dir or an index build) carries its marker. */
  def isCommitted(p: Path): Boolean = io.exists(new Path(p, CollectionMeta.CommittedName))

  /** Version `v`'s buckets (`pt=<b>`) → the dir physically holding each
    * one's files, its carry manifest applied ([[Carry.owners]]). */
  def owners(v: Int): Map[String, Path] = Carry.owners(io, dir, dataDir(v), "pt=")

  /** Opt-in MUTATION-LOCALITY bucketing (`graft:pt_prefix_sep` collection
    * metadata, set at creation): when present, the pt hash covers only
    * the id's PREFIX up to the first separator occurrence — so every id
    * of one tenant/prefix lands in ONE bucket, a tenant-confined
    * mutation touches one pt slice, and the postings-sidecar refresh
    * carry actually carries (BASELINE.md r16 measured full-SPREAD
    * refresh ≈ rebuild; r17 measures the locality win). Ids without the
    * separator hash whole — mixed corpora stay correct. The setting is
    * LAYOUT (like `buckets`): immutable once data exists
    * ([[Collection.modifyMetadata]] guards). Trade-off to size
    * consciously: bucket balance now follows tenant sizes — a whale
    * tenant is a whale bucket (the store's occupancy/skew diagnostics
    * read on it). */
  private def ptPrefixSep(m: CollectionMeta): Option[String] =
    m.metadata.get(Collection.PtPrefixSepKey).filter(_.nonEmpty)

  /** `df` with its id bucket `pt` under snapshot `m`'s layout. The bucket
    * count and the prefix rule are part of the collection's on-disk
    * identity: a session configured differently must still hash with the
    * layout the data was written with, or bucket-pruned merges would
    * corrupt it. */
  def bucketed(df: DataFrame, m: CollectionMeta): DataFrame = {
    val key = ptPrefixSep(m).fold(col("id"))(sep => substring_index(col("id"), sep, 1))
    df.withColumn("pt", pmod(xxhash64(key), lit(m.buckets)).cast("int"))
  }

  /** The pt buckets a literal id list can live in — the writer's own hash
    * ([[bucketed]]'s xxhash64-of-id) evaluated driver-side per id, so a
    * point read lists and scans ONLY the partition dirs that can hold its
    * rows: at numBuckets=32 a one-id `get` touches 1 directory instead of
    * 32 (and at 100 TB, 1/numBuckets of the corpus's files instead of all
    * of them — parquet row-group stats prune WITHIN files, but only
    * partition pruning prunes the listing itself). `cur` (rows with `pt`)
    * stays whole when its id column is not STRING: the hash is
    * type-sensitive, and a legacy non-string layout must stay correct
    * over fast. */
  def idPruned(m: CollectionMeta, cur: DataFrame, ids: Seq[String]): DataFrame =
    if (!cur.schema.fields.exists(f => f.name == "id" && f.dataType == StringType)) cur
    else cur.filter(col("pt").isin(idBuckets(m, ids): _*))

  /** The buckets of STRING ids under `m`'s layout (see above). */
  def idBuckets(m: CollectionMeta, ids: Seq[String]): Seq[Int] = {
    val sep = ptPrefixSep(m)
    val nb = m.buckets.toLong
    ids.map { id =>
      // the same prefix rule as [[bucketed]]: substring_index(id, sep, 1)
      // = everything before the FIRST full-separator occurrence, the whole
      // id when absent
      val key = sep.fold(id) { s =>
        val i = id.indexOf(s); if (i < 0) id else id.substring(0, i)
      }
      // Spark's own XxHash64 expression (same default seed 42 as the
      // xxhash64() the write path uses), then Pmod's non-negative form —
      // bit-for-bit [[bucketed]]'s hash
      val h = XxHash64(Seq(Literal.create(key, StringType)), 42L)
        .eval(InternalRow.empty).asInstanceOf[Long]
      (((h % nb) + nb) % nb).toInt
    }.distinct
  }

  /** Read ONE committed version's rows WITH the `pt` column, resolving
    * carried buckets through its [[Carry]] manifest: each distinct
    * physical owner dir contributes one parquet read of exactly its owned
    * bucket dirs (explicit partition paths under `basePath`, so `pt`
    * stays a real partition column and pruning behaves as on a plain dir
    * scan), unioned by name with missing columns admitted (cross-version
    * schema evolution, the same semantics per-dir `mergeSchema` gives).
    * The no-carry case — every fresh write, every compacted collection —
    * short-circuits to the plain whole-dir read: the identical plan to
    * the pre-manifest layout (PlanShapeSpec pins it). A committed
    * version's owner reads and their schemas are resolved once per JVM
    * ([[Carry.readResolved]], [[ResolvedCache]]). */
  def readVersion(v: Int): DataFrame =
    Carry.readResolved(spark, io, dataDir(v), owners(v))

  /** Contents of ONE meta snapshot (empty canonical frame if never
    * written). Every read surface that also consults snapshot-bound
    * sidecars (IVF cells, posting lists) must scan THIS, not a fresh
    * `toDF` — that re-reads meta, and a commit landing in between would
    * pair version-N+1 data with version-N index artifacts.
    *
    * Cheap to call again: the committed version's read plan and schema are
    * cached under `<data dir>@<marker mtime>` ([[ResolvedCache]] — the
    * marker's mtime is the nonce that keeps a reborn path from reusing a
    * dead dir's schema), so only the first frame of a version pays the
    * `mergeSchema` inference job; later frames are built from the cached
    * schema with no Spark job. An uncommitted dir is never cached. */
  def snapshotDF(m: CollectionMeta): DataFrame = currentDataOf(m) match {
    case Some(_) => readVersion(m.version).drop("pt")
    case None => spark.createDataFrame(spark.sparkContext.emptyRDD[Row], StructType(Seq(
      StructField("id", StringType, false), StructField("document", StringType, true),
      StructField("embedding", ArrayType(FloatType), true))))
  }

  /** Single-writer commit: the version-claim file move is the atomic CAS
    * (an `O_CREAT|O_EXCL` create of the version-claim file — exactly one
    * of two racing writers succeeds; the loser fails LOUDLY instead of
    * silently dropping the winner's rows).
    *
    * ORDER MATTERS: the claim is taken BEFORE any data is written, so a
    * losing writer cannot overwrite the winner's `data_v<N+1>` directory
    * during its (multi-second) Spark write — it never starts it. Commit
    * then = data write → `_graft_committed` marker → pointer refresh;
    * `read()` only adopts a claim whose marker exists, so a half-written
    * version is never served. A claim left by a writer that crashed
    * mid-write blocks that version until `vacuum()`/manual cleanup —
    * loud and recoverable, never silent corruption. */
  private def claimNext(expected: CollectionMeta): CollectionMeta = {
    if (meta.version != expected.version) throw new java.util.ConcurrentModificationException(
      s"collection '${expected.name}' advanced past v${expected.version} during this mutation; retry")
    val next = expected.copy(version = expected.version + 1)
    try CollectionMeta.claimVersion(io, dir, next)
    catch { case _: java.nio.file.FileAlreadyExistsException =>
      throw new java.util.ConcurrentModificationException(
        s"collection '${expected.name}' v${next.version} was claimed by a concurrent writer; retry")
    }
    next
  }

  /** Drop a claim whose data write failed (nothing was committed — the
    * marker does not exist — so the version number can be re-claimed).
    * The partially-written data dir is deleted FIRST: it sits ABOVE the
    * current version number, so vacuum (which only reclaims v < current)
    * would never collect it — without this, every rejected write (id
    * clash, ragged-dim abort) permanently leaked a full copy of the
    * affected buckets. Claim release comes last so a concurrent writer
    * cannot re-claim the number while the dead dir still exists. */
  private def abandon(next: CollectionMeta): Unit = {
    // best-effort on the dir: abandon runs inside catch blocks that
    // rethrow the ORIGINAL failure, and the claim release must happen
    // even if the cleanup trips (a straggler task still flushing can race
    // the walk) — a leftover dir is harmless (the next writer's
    // mode(overwrite) replaces it) but a leaked claim wedges the
    // collection permanently (vacuum only reclaims v < current)
    try {
      val dead = dataDir(next.version)
      if (io.exists(dead)) io.deleteRecursively(dead)
    } catch { case scala.util.control.NonFatal(_) => () }
    finally io.deleteIfExists(CollectionMeta.claimFile(dir, next.version))
  }

  /** One version commit: claim the next version, run `write` into its
    * data dir, then marker + pointer — or, if `write` throws, abandon the
    * claim (nothing is ever served) and rethrow. */
  private def commitNext(expected: CollectionMeta)(write: Path => Unit): Unit = {
    val next = claimNext(expected)
    try write(dataDir(next.version))
    catch { case e: Throwable => abandon(next); throw e }
    io.writeBytes(CollectionMeta.commitMarker(dir, next.version), Array.emptyByteArray)
    CollectionMeta.atomicWrite(io, dir, next)
  }

  /** `df`'s rows (carrying `pt`) into `newDir`, one `width`-wide exchange
    * by bucket: one file chain per bucket (see [[writeVersion]]). */
  private def writeBuckets(df: DataFrame, width: Int, newDir: Path): Unit =
    df.repartition(width, col("pt")).write.mode("overwrite")
      .option("maxRecordsPerFile", maxRowsPerFile)
      .partitionBy("pt").parquet(newDir.toString)

  /** Full rewrite into a fresh version (first write / fallback /
    * compaction), repacked to one file chain per bucket (see below).
    * `beforeCommit` runs after the data write, before the marker: a
    * throw abandons the version. */
  def writeVersion(
      df: DataFrame, expected: CollectionMeta,
      beforeCommit: () => Unit = () => ()): Unit = commitNext(expected) { newDir =>
    // EVERY full write routes through the hash-by-pt exchange, not just
    // compaction: a dynamic-partition write from W input partitions
    // emits up to W x numBuckets files (each task starts a file per pt
    // it holds) — a 32-wide embed pipeline feeding this store paid
    // ~W x buckets tiny files per commit (measured: q121 1.9 -> 4.7 s
    // when its input went 32-wide). The exchange moves one commit's
    // batch (small by definition) and makes the layout CANONICAL — one
    // file chain per bucket at every version, which every later pruned
    // read pays for otherwise. Width cannot be probed here cheaply:
    // calling .rdd on `df` would create a second plan reference, and
    // these frames carry caller observe() nodes whose metrics must fire
    // exactly once (the add/Hydrator single-reference contract).
    writeBuckets(bucketed(df, expected), expected.buckets, newDir)
    beforeCommit()
  }

  /** Partition-pruned copy-on-write (SURVEY §7.4.3): rewrite ONLY the id-hash
    * buckets named in `affected`; every other bucket is carried forward by
    * a [[Carry]] manifest entry pointing at the dir that physically holds
    * it (fully resolved — a bucket carried across ten commits still
    * records its one physical owner). At 100 TB a point upsert writes 1 of
    * `numBuckets` buckets plus one O(buckets) metadata file — no link
    * walk, no object-store copy storm. The meta.json swap stays atomic,
    * so readers see either the old or the new version, never a mix.
    *
    * @param mergedAffected replacement rows for the affected buckets only
    *                       (must already be exactly those buckets' content)
    */
  def writeMergedVersion(
      mergedAffected: DataFrame, affected: Set[Int], expected: CollectionMeta,
      beforeCommit: () => Unit = () => ()): Unit = commitNext(expected) { newDir =>
    // same canonical-layout rule as writeVersion (and the same
    // no-.rdd-probe constraint: the merge plan carries the clash-probe
    // observe()); the affected-bucket count bounds the exchange width
    writeBuckets(bucketed(mergedAffected.drop("pt"), expected),
      math.min(expected.buckets, math.max(1, affected.size)), newDir)
    Carry.write(io, newDir, owners(expected.version)
      .filterNot { case (part, _) => affected.contains(part.stripPrefix("pt=").toInt) }
      .map { case (part, owner) => part -> owner.getName })
    beforeCommit()
  }

  /** Commit `expected`'s successor as a copy of committed version `from`:
    * every bucket carried by [[Carry]] manifest entry — O(buckets)
    * metadata, zero data movement on any filesystem. */
  def writeCarriedVersion(expected: CollectionMeta, from: Int): Unit =
    commitNext(expected) { newDir =>
      io.mkdirs(newDir)
      Carry.write(io, newDir, owners(from).map { case (part, owner) => part -> owner.getName })
    }

  /** Commit `born`'s successor — version 1 of a fork whose pointer holds
    * `born` — as `source`'s snapshot `m`: every bucket's files carried
    * PHYSICALLY (a carry manifest cannot cross the collection boundary),
    * then `extras` (sidecars, index builds), all before the marker. */
  def writeForkedVersion(born: CollectionMeta, source: VersionStore, m: CollectionMeta)(
      extras: => Unit): Unit = commitNext(born) { newDir =>
    io.mkdirs(newDir)
    source.owners(m.version).foreach { case (part, owner) =>
      VersionStore.carryFiles(io, new Path(owner, part), new Path(newDir, part)) }
    extras
  }

  /** Per-bucket identity for change detection: (physical owner dir name,
    * file names). A carried bucket keeps its owner's identity, so a COW
    * carry reads as unchanged and a rewrite (fresh files in the new
    * version dir) reads as changed — the same contract the hard-link
    * layout had, where carried files kept their names in place. An owner
    * dir a concurrent vacuum already reclaimed reads as an empty file
    * set — conservatively "changed", never a crash. */
  private def bucketSignatures(v: Int): Map[Int, (String, Set[String])] =
    owners(v).map { case (part, owner) =>
      val bdir = new Path(owner, part)
      val files =
        if (io.exists(bdir))
          io.list(bdir).filterNot(_.isDir).map(_.name).toSet
        else Set.empty[String]
      part.stripPrefix("pt=").toInt -> (owner.getName -> files)
    }

  /** Id buckets whose data changed between two committed versions (see
    * [[bucketSignatures]] for why an owner+file-name diff is the right
    * detector). */
  def changedBucketsBetween(vOld: Int, vNew: Int): Set[Int] = {
    val o = bucketSignatures(vOld)
    val n = bucketSignatures(vNew)
    (o.keySet ++ n.keySet).filter(b => o.get(b) != n.get(b))
  }

  /** Resolved data-file count of version `m.version` — a pure listing
    * walk over the carry-resolved owner dirs (no Spark job). */
  def dataFileCount(m: CollectionMeta): Int = Carry.parquetFileCount(io, owners(m.version))

  /** Committed versions still on disk, ascending (an uncommitted claim or
    * a vacuumed dir is not readable history). */
  def history(): Seq[Int] = io.list(dir)
    .filter(e => e.isDir && VersionStore.isDataDir(e.name))
    .map(e => VersionStore.versionOf(e.path))
    .filter(v => isCommitted(dataDir(v)))
    .sorted

  /** LOUD unless `version`'s data dir and commit marker both survive. */
  def requireCommitted(version: Int, problem: String): Unit =
    require(hasData(version) && isCommitted(dataDir(version)),
      s"$problem (available: ${history().mkString(", ")})")

  /** Delete the version-claim files below `cutoff`. */
  def dropClaimsBelow(cutoff: Int): Unit =
    io.list(dir).filter(e => CollectionMeta.isClaimFile(e.name))
      .filter(e => CollectionMeta.claimVersionOf(e.name) < cutoff)
      .foreach(e => io.deleteIfExists(e.path))
}

private[catalog] object VersionStore {
  /** A collection dir's current-version pointer. */
  def pointer(dir: Path): Path = new Path(dir, "meta.json")

  /** Whether `dir` holds a collection: its pointer exists. */
  def isCollection(io: StoreIO, dir: Path): Boolean = io.exists(pointer(dir))

  def dataDir(dir: Path, v: Int): Path = new Path(dir, f"data_v$v%06d")

  def isDataDir(name: String): Boolean = name.startsWith("data_v")

  /** Version number encoded in a data dir or index build name
    * (`data_v<V>` / `index_v<V>[.b<B>]` / `docindex_v<V>[.b<B>]`). */
  def versionOf(p: Path): Int =
    p.getName.dropWhile(!_.isDigit).takeWhile(_.isDigit).toInt

  /** Physically carry the files directly under `from` into `into` — hard
    * links where the store has them, copies otherwise
    * ([[StoreIO.carryFile]]): the fork path, where a carry manifest
    * cannot cross the collection boundary. */
  def carryFiles(io: StoreIO, from: Path, into: Path): Unit = {
    io.mkdirs(into)
    io.list(from).filterNot(_.isDir).foreach(f => io.carryFile(f.path, new Path(into, f.name)))
  }
}

final case class CollectionMeta(
    name: String,
    space: String,
    version: Int,
    metadata: Map[String, String],
    buckets: Int = 32)

object CollectionMeta {
  /** Minimal hand-rolled JSON (flat strings/ints only) — no extra deps.
    * Braces and control characters are \uXXXX-escaped so the regex reader
    * below can delimit the metadata object without a full JSON parser. */
  def toJson(m: CollectionMeta): String = {
    def q(s: String) = "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"
      case c if c < ' ' || c == '{' || c == '}' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val md = m.metadata.toSeq.sortBy(_._1)
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ", ", "}")
    s"""{"name": ${q(m.name)}, "space": ${q(m.space)}, "version": ${m.version}, "buckets": ${m.buckets}, "metadata": $md}"""
  }

  private def unescape(raw: String): String = {
    val sb = new StringBuilder
    var i = 0
    while (i < raw.length) {
      if (raw(i) == '\\' && i + 1 < raw.length) raw(i + 1) match {
        case 'u' => sb.append(Integer.parseInt(raw.substring(i + 2, i + 6), 16).toChar); i += 6
        case 'n' => sb.append('\n'); i += 2
        case c   => sb.append(c); i += 2
      } else { sb.append(raw(i)); i += 1 }
    }
    sb.toString
  }

  def fromJson(s: String): CollectionMeta = {
    def str(k: String) = ("\"" + k + "\"\\s*:\\s*\"((?:[^\"\\\\]|\\\\.)*)\"").r
      .findFirstMatchIn(s).map(m => unescape(m.group(1)))
    def int(k: String) = ("\"" + k + "\"\\s*:\\s*(\\d+)").r
      .findFirstMatchIn(s).map(_.group(1).toInt)
    val mdBody = ("\"metadata\"\\s*:\\s*\\{([^}]*)\\}").r.findFirstMatchIn(s).map(_.group(1)).getOrElse("")
    val md = "\"((?:[^\"\\\\]|\\\\.)*)\"\\s*:\\s*\"((?:[^\"\\\\]|\\\\.)*)\"".r
      .findAllMatchIn(mdBody).map(m => unescape(m.group(1)) -> unescape(m.group(2))).toMap
    CollectionMeta(str("name").get, str("space").getOrElse("l2"),
      int("version").getOrElse(0), md, int("buckets").getOrElse(32))
  }

  private[catalog] def claimFile(dir: Path, version: Int): Path =
    new Path(dir, f"meta.v$version%06d.json")

  private[catalog] def isClaimFile(name: String): Boolean =
    name.startsWith("meta.v") && name.endsWith(".json")

  private[catalog] def claimVersionOf(name: String): Int =
    name.stripPrefix("meta.v").stripSuffix(".json").toInt

  /** Completeness marker of a data version or an index build, written
    * LAST: readers adopt only dirs that carry it. */
  private[catalog] val CommittedName = "_graft_committed"

  /** `data_v<N>/_graft_committed`: written after ALL data work for the
    * version (parquet write + carry manifest) — `_SUCCESS` alone is not
    * enough, Spark writes it before the carry pass. */
  private[catalog] def commitMarker(dir: Path, version: Int): Path =
    new Path(VersionStore.dataDir(dir, version), CommittedName)

  /** Current meta = the `meta.json` pointer, unless a newer COMMITTED
    * claim exists (claim file + its version's completeness marker): a
    * writer that crashed between the marker and the pointer refresh
    * cannot lose its commit, and a claim whose data write never finished
    * is never served. The common path compares claim-file NAMES only —
    * no extra reads/parses when the pointer is current. Version ties
    * prefer the pointer (rename refreshes only the pointer's `name`). */
  def read(io: StoreIO, dir: Path): CollectionMeta = {
    val pointerPath = VersionStore.pointer(dir)
    val pointer =
      if (io.exists(pointerPath))
        Some(fromJson(new String(io.readBytes(pointerPath), StandardCharsets.UTF_8)))
      else None
    val floor = pointer.map(_.version).getOrElse(-1)
    val adopted = io.list(dir).filter(e => isClaimFile(e.name))
      .filter(e => claimVersionOf(e.name) > floor)
      .sortBy(e => claimVersionOf(e.name)).reverse
      .find(e => io.exists(commitMarker(dir, claimVersionOf(e.name))))
      .map(e => fromJson(new String(io.readBytes(e.path), StandardCharsets.UTF_8)))
    adopted.orElse(pointer).getOrElse(
      throw new java.nio.file.NoSuchFileException(pointerPath.toString))
  }

  /** Atomically claim `meta.version`: `O_CREAT|O_EXCL` create of the
    * version-numbered claim file — of two racing writers exactly one
    * create succeeds; the loser gets `FileAlreadyExistsException`. (A
    * `Files.move` without `REPLACE_EXISTING` is NOT a CAS on POSIX: the
    * provider stat-checks then rename(2)s, and rename silently replaces.)
    * This is the one true serialization point of the copy-on-write commit
    * protocol, taken BEFORE any data write. Claim content is only parsed
    * by readers after the commit marker exists, so the non-atomic content
    * write is safe. */
  private[catalog] def claimVersion(io: StoreIO, dir: Path, meta: CollectionMeta): Unit =
    io.createExclusive(claimFile(dir, meta.version),
      toJson(meta).getBytes(StandardCharsets.UTF_8))

  def atomicWrite(io: StoreIO, dir: Path, meta: CollectionMeta): Unit = {
    // tmp name is UNIQUE per call: two live writers refreshing the
    // pointer concurrently (commit of v2 racing commit of v3) must not
    // share a staging file — with a fixed name, one writer's replace
    // consumes the other's tmp and the victim fails AFTER its commit
    // marker landed (a commit reported as failed that actually
    // succeeded). With unique tmps both replaces land; whichever pointer
    // loses the last-rename race is harmless — the pointer is a cache,
    // read() recovers the newest COMMITTED claim above it.
    val tmp = new Path(dir, s"meta.json.tmp.${java.util.UUID.randomUUID}")
    io.writeBytes(tmp, toJson(meta).getBytes(StandardCharsets.UTF_8))
    io.replace(tmp, VersionStore.pointer(dir))
  }
}
