package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Regrowth guard: `src/main/scala` has one main per kept entry point. A
  * one-off audit or timing main (say, one that re-measures a layer the
  * traced benchmark already reports) fails this spec until the list grows
  * in review with a reason. */
class MainGuardSpec extends AnyFunSuite {

  private val allowed = Set(
    "graft.Bench",                  // the 185-query suite's JSON line
    "graft.Verify",                 // the oracle dump
    "graft.Probe",                  // entry smoke, explain, jobcount
    "graft.tools.ScaleUp",          // the 10x replica builder
    "graft.tools.RecallProbe",      // recall of the approximate reads
    "graft.tools.LeaseRaceWriter")  // LeaseCoordinatorSpec's second JVM

  test("src/main/scala defines def main( only in the kept entry points") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the project root: ${root.toAbsolutePath} is missing")
    val files = {
      val s = Files.walk(root)
      try s.iterator().asScala.filter(_.toString.endsWith(".scala")).toList finally s.close()
    }
    assert(files.nonEmpty)
    val pkg = """(?m)^package\s+([\w.]+)""".r
    val obj = """(?m)^\s*(?:private(?:\[\w+\])?\s+)?object\s+(\w+)""".r
    // each main names the object it sits in: the last `object` above it
    val found: Seq[(Path, String)] = files.flatMap { f =>
      val src = new String(Files.readAllBytes(f), "UTF-8")
      val p = pkg.findFirstMatchIn(src).map(_.group(1) + ".").getOrElse("")
      "def main\\(".r.findAllMatchIn(src).map { m =>
        val owner = obj.findAllMatchIn(src.substring(0, m.start)).toSeq.lastOption
          .map(_.group(1)).getOrElse("?")
        f -> (p + owner)
      }.toSeq
    }
    assert(found.map(_._2).toSet.contains("graft.Bench"), "the scan found nothing to check")
    val unknown = found.filterNot { case (_, m) => allowed.contains(m) }
    assert(unknown.isEmpty,
      "mains outside the kept entry points: " +
        unknown.map { case (f, m) => s"$m in $f" }.distinct.mkString(", "))
  }
}
