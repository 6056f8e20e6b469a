package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Regrowth guard for the PQ reads: the ADC lookup of a row's codes is
  * written once, inside `Ann.pqAdcCol`, and every PQ read ranks through
  * it. A second spelling elsewhere means a read is folding ADC by hand
  * again — a fork of the fold that an oracle-portability or a residual
  * fix would then have to find and mend twice. */
class PqReadGuardSpec extends AnyFunSuite {

  test("src/main/scala spells the ADC lookup col(\"codes\").getItem only in Ann.pqAdcCol") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the project root: ${root.toAbsolutePath} is missing")
    val files = {
      val s = Files.walk(root)
      try s.iterator().asScala.filter(_.toString.endsWith(".scala")).toList finally s.close()
    }
    val lookup = "col(\"codes\").getItem"
    val sites = files.flatMap { f =>
      Files.readAllLines(f).asScala.zipWithIndex
        .filter(_._1.contains(lookup)).map { case (_, i) => (f, i) }
    }
    assert(sites.nonEmpty, "the lookup is spelled nowhere — the scan checked nothing")
    // pqAdcCol's body: from its `def` line to the first line closing at
    // the def's own indentation
    val ann = root.resolve("graft/operators/Ann.scala")
    val lines = Files.readAllLines(ann).asScala.toIndexedSeq
    val start = lines.indexWhere(_.contains("def pqAdcCol("))
    assert(start >= 0, "Ann.pqAdcCol is missing")
    val indent = lines(start).takeWhile(_ == ' ')
    val end = lines.indexWhere(_ == s"$indent}", start)
    val outside = sites.filterNot { case (f, i) => f.endsWith(ann) && i > start && i < end }
    assert(outside.isEmpty, s"$lookup is spelled outside Ann.pqAdcCol: " +
      outside.map { case (f, i) => s"$f:${i + 1}" }.mkString(", "))
  }
}
