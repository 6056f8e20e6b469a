package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Regrowth guard for the commit protocol: the completeness-marker name is
  * spelled once, as `CollectionMeta.CommittedName`, and every writer and
  * reader of the marker goes through it; the version pointer and the data
  * dir names are spelled only in `VersionStore.scala`, which owns the
  * data-version layout. A second literal elsewhere means the protocol is
  * being written out by hand again at a new site. Likewise every read of
  * a committed dir in the store goes through the one resolved-read cache
  * (`ResolvedCache.scala`): a `mergeSchema` option in the store or its
  * SQL source, or a second map cache in the store, means a read surface is
  * skipping it. */
class CommitMarkerGuardSpec extends AnyFunSuite {

  /** `file:line` of every line under `dir` containing `literal`. */
  private def sites(literal: String, dir: String = "src/main/scala"): Seq[String] = {
    val root = Paths.get(dir)
    assert(Files.isDirectory(root), s"run from the project root: ${root.toAbsolutePath} is missing")
    val files = {
      val s = Files.walk(root)
      try s.iterator().asScala.filter(_.toString.endsWith(".scala")).toList finally s.close()
    }
    files.flatMap { f =>
      Files.readAllLines(f).asScala.zipWithIndex
        .filter(_._1.contains(literal)).map { case (_, i) => s"$f:${i + 1}" }
    }
  }

  test("src/main/scala spells the \"_graft_committed\" literal at most once") {
    val sites = this.sites("\"_graft_committed\"")
    assert(sites.nonEmpty, "the marker constant itself is missing — the scan checked nothing")
    assert(sites.size == 1, s"the commit-marker literal is spelled at ${sites.size} sites: " +
      sites.mkString(", "))
  }

  test("the \"meta.json\" and \"data_v\" names are spelled only in VersionStore.scala") {
    for (literal <- Seq("\"meta.json", "\"data_v")) {
      val found = sites(literal)
      assert(found.nonEmpty, s"$literal is spelled nowhere — the scan checked nothing")
      val outside = found.filterNot(_.contains("/catalog/VersionStore.scala:"))
      assert(outside.isEmpty, s"$literal is spelled outside VersionStore.scala: " +
        outside.mkString(", "))
    }
  }

  test("the store spells mergeSchema and builds a map cache only in ResolvedCache.scala") {
    val store = "src/main/scala/graft/catalog"
    val cache = "/catalog/ResolvedCache.scala:"
    // the SQL source reads committed dirs too
    val merge = Seq(store, "src/main/scala/graft/sources").flatMap(sites("\"mergeSchema\"", _))
    assert(merge.exists(_.contains(cache)), "the cache spells no mergeSchema read — the scan checked nothing")
    assert(merge.forall(_.contains(cache)), "a mergeSchema read outside the resolved-read cache: " +
      merge.filterNot(_.contains(cache)).mkString(", "))
    // CommitCoordinator's maps key writer coordination (catalog roots,
    // lock and lease keys), not facts about committed dirs
    val maps = sites("ConcurrentHashMap[", store).filterNot(_.contains("/catalog/CommitCoordinator.scala:"))
    assert(maps.count(_.contains(cache)) == 1, s"the resolved-read cache is not one map: $maps")
    assert(maps.forall(_.contains(cache)), "a map cache outside the resolved-read cache: " +
      maps.filterNot(_.contains(cache)).mkString(", "))
  }
}
