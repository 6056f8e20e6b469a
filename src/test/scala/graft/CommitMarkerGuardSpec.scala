package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Regrowth guard for the commit protocol: the completeness-marker name is
  * spelled once, as `CollectionMeta.CommittedName`, and every writer and
  * reader of the marker goes through it. A second literal means the
  * protocol is being written out by hand again at a new site. */
class CommitMarkerGuardSpec extends AnyFunSuite {

  test("src/main/scala spells the \"_graft_committed\" literal at most once") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the project root: ${root.toAbsolutePath} is missing")
    val literal = "\"_graft_committed\""
    val files = {
      val s = Files.walk(root)
      try s.iterator().asScala.filter(_.toString.endsWith(".scala")).toList finally s.close()
    }
    val sites = files.flatMap { f =>
      Files.readAllLines(f).asScala.zipWithIndex
        .filter(_._1.contains(literal)).map { case (_, i) => s"$f:${i + 1}" }
    }
    assert(sites.nonEmpty, "the marker constant itself is missing — the scan checked nothing")
    assert(sites.size == 1, s"the commit-marker literal is spelled at ${sites.size} sites: " +
      sites.mkString(", "))
  }
}
