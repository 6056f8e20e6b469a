package graft.catalog

import java.nio.charset.StandardCharsets

import org.apache.hadoop.fs.Path

/** One sidecar index family (`index` IVF/PQ, `docindex` trigram
  * postings, `kwindex` keyword stats) of the collection `versions`
  * stores: version-pinned build dirs `<name>_v<V>.b<B>/` whose
  * refreshable layout slices on `<axis>=<x>/pb=<b>`, plus the durable
  * `_graft_has_<name>` marker. ONE discipline for every family, the data
  * versions' MVCC: each build claims a FRESH dir (`O_CREAT|O_EXCL`
  * directory create = the CAS, racing writers get distinct dirs), commits
  * with its marker LAST, readers adopt the highest marker-complete build
  * of their version (a crashed build is never adopted), and nothing is
  * deleted in place — a rebuild cannot pull files from under an in-flight
  * reader; [[Collection.vacuum]] reclaims superseded builds. `refresh` is
  * the owner's refresh call (through [[refreshTo]]). */
private[catalog] final class IndexFamily(versions: VersionStore, val name: String,
                                         val axis: String, val refresh: () => Int) {
  private def io: StoreIO = versions.io
  private def dir: Path = versions.dir
  private lazy val log = org.slf4j.LoggerFactory.getLogger(classOf[Collection])

  private def prefix(v: Int): String = f"${name}_v$v%06d"

  /** Whether a dir name is a build of this family (any version). The
    * `_v` suffix keeps `index_v` from matching `docindex_v`. */
  def owns(dirName: String): Boolean = dirName.startsWith(s"${name}_v")

  private def buildsOf(v: Int): Seq[Path] =
    io.list(dir).filter { e =>
      e.isDir && (e.name == prefix(v) || e.name.startsWith(prefix(v) + ".b"))
    }.map(_.path)

  /** Build dir `b` of version `version` under collection dir `under`. */
  private def buildDir(under: Path, version: Int, b: Int): Path =
    new Path(under, f"${prefix(version)}.b$b%03d")

  /** Highest marker-complete build for version `m.version`. */
  def current(m: CollectionMeta): Option[Path] =
    buildsOf(m.version).filter(versions.isCommitted).sortBy(IndexFamily.buildNumberOf).lastOption

  /** [[current]], for a read: without one the read serves the full scan,
    * and LOUDLY when every committed build is version-stale — the answer
    * stays correct (scan semantics are the contract), but at 100 TB the
    * SILENT cost cliff is the bug: a SQL-only writer
    * (`df.write.format("graft")`) advances the version without any way to
    * know the sidecars went stale. */
  def servable(m: CollectionMeta): Option[Path] = {
    val build = current(m)
    // memoized per (collection, family, version) and JVM: the warning is
    // a log line, so probing once per version is enough — without the
    // memo EVERY scan-fallback read (including on collections that never
    // built the family at all) would pay a directory LIST purely to
    // decide not to log, a per-query I/O tax on object stores. A build
    // committed for the SAME version after the probe only suppresses the
    // (already moot) warning, never a serving decision.
    if (build.isEmpty && Collection.staleProbe.add(s"$dir|$name|v${m.version}")) {
      if (Collection.staleProbe.size > 65536) Collection.staleProbe.clear()
      newestCommitted match {
        case Some(b) if VersionStore.versionOf(b) != m.version =>
          log.warn(s"collection '${m.name}': newest committed $name build " +
            s"serves v${VersionStore.versionOf(b)} but the collection is at " +
            s"v${m.version} — serving the full scan instead (correct, but " +
            "O(corpus)); refresh via refreshIndexes() or the SQL write " +
            "option refresh=true")
        case None if recorded =>
          // the family was built once but NO build survives (an overwrite
          // made every build version-stale and vacuum reclaimed them) —
          // without this arm the cost cliff would be silent forever
          log.warn(s"collection '${m.name}': the $name index was built " +
            "once but no build survives (overwrite + vacuum) — serving the " +
            "full scan; refreshIndexes() or the SQL write option " +
            "refresh=true rebuilds it in full")
        case _ => ()
      }
    }
    build
  }

  /** Newest committed build of ANY version (highest (version, build))
    * — the refresh diff basis. */
  def newestCommitted: Option[Path] =
    io.list(dir).filter(e => e.isDir && owns(e.name)).map(_.path)
      .filter(versions.isCommitted)
      .sortBy(p => (VersionStore.versionOf(p), IndexFamily.buildNumberOf(p))).lastOption

  /** Claim a build of `version`, `write` it, commit it with `stamp`. */
  def build(version: Int, stamp: Option[(String, String)] = None)(write: Path => Unit): Unit = {
    val claimed = claim(version)
    write(claimed)
    commit(claimed, stamp)
  }

  /** Claim the next build dir via O_CREAT|O_EXCL directory create —
    * racing builders each win a DISTINCT number, never share a dir. */
  private def claim(version: Int): Path = {
    var b = buildsOf(version).map(IndexFamily.buildNumberOf).maxOption.fold(0)(_ + 1)
    var claimed: Path = null
    while (claimed == null) {
      try {
        io.createDirExclusive(buildDir(dir, version, b))
        claimed = buildDir(dir, version, b)
      } catch { case _: java.nio.file.FileAlreadyExistsException => b += 1 }
    }
    claimed
  }

  /** Commit a fully written build: the family's identity stamp (e.g.
    * the keyword analyzer), then the marker — LAST, so a build is never
    * adopted unstamped or half-written. */
  private def commit(build: Path, stamp: Option[(String, String)] = None): Unit = {
    stamp.foreach { case (f, v) =>
      io.writeBytes(new Path(build, f), v.getBytes(StandardCharsets.UTF_8)) }
    io.writeBytes(new Path(build, CollectionMeta.CommittedName), Array.emptyByteArray)
  }

  /** Whether `build` uses the two-level refreshable layout: its first-
    * axis dirs hold `pb=` slices — locally, or via carry-manifest
    * entries (a refresh that rewrote nothing has ONLY carried slices). */
  def hasPbSlices(build: Path): Boolean =
    io.list(build).find(e => e.isDir && e.name.startsWith(s"$axis=")).exists(g =>
      io.list(g.path).exists(e => e.isDir && e.name.startsWith("pb="))) ||
      Carry.read(io, build).keys.exists(k => k.startsWith(s"$axis=") && k.contains("/pb="))

  /** The one refresh body of every family, to snapshot `m`. The prior is
    * the newest committed build passing the family's `usable` check. A
    * prior of `m`'s version returns 0. A prior with pb slices whose
    * indexed version's data survives gets an incremental build:
    * `writeChanged(prior, changed, build)` for the buckets whose data
    * changed since ([[VersionStore.changedBucketsBetween]]), every other
    * slice carried by manifest entry, committed with `stamp`; returns the
    * changed count. Otherwise `full(prior)` runs; returns `m.buckets`.
    * Any rebuild then runs `autoCompact`. */
  def refreshTo(m: CollectionMeta, writeChanged: (Path, Set[Int], Path) => Unit,
                full: Option[Path] => Unit, usable: Path => Boolean = _ => true,
                stamp: Option[(String, String)] = None)(autoCompact: => Unit): Int = {
    val prior = newestCommitted.filter(usable)
    val refreshed = prior match {
      case Some(old) if VersionStore.versionOf(old) == m.version => 0
      case Some(old) if hasPbSlices(old) && versions.hasData(VersionStore.versionOf(old)) =>
        val changed = versions.changedBucketsBetween(VersionStore.versionOf(old), m.version)
        build(m.version, stamp) { claimed =>
          writeChanged(old, changed, claimed)
          carryUnchangedSlices(old, claimed, changed)
        }
        changed.size
      case _ =>
        full(prior)
        m.buckets
    }
    if (refreshed > 0) autoCompact
    refreshed
  }

  /** Carry the prior build's unchanged pb slices forward: every
    * `<axis>=<x>/pb=<b>` slice of `old` with b ∉ changed becomes a carry-
    * manifest entry of `claimed` pointing at the dir PHYSICALLY holding
    * it (old's own carries stay one-hop resolved) — O(slices) metadata,
    * no per-file work, works on any filesystem. MUST run after the
    * claimed build's parquet write: `mode(overwrite)` clears the dir. */
  private def carryUnchangedSlices(old: Path, claimed: Path, changed: Set[Int]): Unit =
    Carry.write(io, claimed, Carry.slicedOwners(io, dir, old)
      .filterNot { case (slice, _) =>
        changed.contains(slice.substring(slice.indexOf("/pb=") + 4).toInt) }
      .map { case (slice, owner) => slice -> owner.getName })

  /** Resolved parquet-file count of a build of this family. */
  def fileCount(build: Path): Int = Carry.parquetFileCount(io, Carry.slicedOwners(io, dir, build))

  /** Fork carry: this family's committed build of snapshot `m` — never a
    * version-stale one, which would answer for content the fork does not
    * hold — lands in `forkDir` as build 0 of v1. Slices are resolved
    * through the carry manifest and copied physically (a manifest cannot
    * cross the collection boundary); top-level sidecars (centroids, PQ
    * codebooks, stamps) travel as bytes; the marker is written last. */
  def copyForFork(m: CollectionMeta, forkDir: Path): Unit = current(m).foreach { src =>
    val dst = buildDir(forkDir, 1, 0)
    io.mkdirs(dst)
    // two-level slices (cell|gp|tp / pb), carry-manifest-resolved
    Carry.slicedOwners(io, dir, src).foreach { case (slice, owner) =>
      VersionStore.carryFiles(io, new Path(owner, slice), new Path(dst, slice)) }
    // one-level slices (compactIndexes(keepRefreshAxis = false) drops the
    // pb axis; such builds are manifest-free). A two-level build's local
    // axis dirs hold only pb dirs, which the loop above already made.
    io.list(src).filter(e => e.isDir && e.name.contains("=")).foreach { axis =>
      VersionStore.carryFiles(io, axis.path, new Path(dst, axis.name)) }
    io.list(src).filterNot(_.isDir)
      .filterNot(e => e.name == CollectionMeta.CommittedName || e.name == Carry.ManifestName)
      .foreach(e => io.writeBytes(new Path(dst, e.name), io.readBytes(e.path)))
    commit(dst)
  }

  private def marker: Path = new Path(dir, s"_graft_has_$name")

  /** Durable "this family was built once" marker (a flat file outside
    * the versioned build dirs): the owner's sizing decision survives
    * even when [[Collection.vacuum]] reclaims every superseded BUILD (an
    * overwrite makes all builds version-stale, and an overwrite+vacuum
    * without refresh used to leave [[Collection.refreshIndexes]] with
    * nothing to detect the family by — refresh=true on the NEXT write
    * silently no-opped and the collection was stranded index-less with
    * no SQL-surface recovery). Written at every build commit; self-healed
    * by [[Collection.refreshIndexes]] for pre-marker collections. */
  def record(): Unit = if (!io.exists(marker)) io.writeBytes(marker, Array.emptyByteArray)

  def recorded: Boolean = io.exists(marker)

  /** Delete ALL builds (any version, committed or claimed) plus the
    * marker. Returns whether any build existed. */
  def drop(): Boolean = {
    val builds = io.list(dir).filter(e => e.isDir && owns(e.name)).map(_.path)
    builds.foreach(io.deleteRecursively)
    if (recorded) io.deleteRecursively(marker)
    builds.nonEmpty
  }
}

private[catalog] object IndexFamily {
  /** Build number of an index dir name; the legacy unsuffixed
    * `index_v<V>` layout reads as build 0. */
  def buildNumberOf(p: Path): Int = {
    val n = p.getName
    val dot = n.indexOf(".b")
    if (dot < 0) 0 else n.substring(dot + 2).toInt
  }
}
