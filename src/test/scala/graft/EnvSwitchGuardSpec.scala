package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Regrowth guard: every `SPARK_GRAFT_*` environment variable the engine
  * reads must be a run-mode setting named here. A new env switch (say,
  * one that keeps an A/B alternative path alive) fails this spec until
  * the allowlist grows in review with a reason. */
class EnvSwitchGuardSpec extends AnyFunSuite {

  private val allowed = Set(
    "SPARK_GRAFT_CPUS",          // local[*] width of the mains' sessions
    "SPARK_GRAFT_SF_DIR",        // Bench input scale
    "SPARK_GRAFT_BENCH_RUNS",    // Bench: suite repetitions
    "SPARK_GRAFT_BENCH_STEADY",  // Bench: steady-state vector on/off
    "SPARK_GRAFT_BENCH_ONLY",    // Bench: query-name filter
    "SPARK_GRAFT_BENCH_RECALL")  // Bench: recall measurement

  test("src/main/scala reads no SPARK_GRAFT_* name outside the run-mode allowlist") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the project root: ${root.toAbsolutePath} is missing")
    val name = "SPARK_GRAFT_[A-Z_]+".r
    val files = {
      val s = Files.walk(root)
      try s.iterator().asScala.filter(_.toString.endsWith(".scala")).toList finally s.close()
    }
    assert(files.nonEmpty)
    val found: Seq[(Path, String)] = files.flatMap { f =>
      name.findAllIn(new String(Files.readAllBytes(f), "UTF-8")).map(f -> _).toSeq
    }
    assert(found.map(_._2).toSet.contains("SPARK_GRAFT_CPUS"), "the scan found nothing to check")
    val unknown = found.filterNot { case (_, n) => allowed.contains(n) }
    assert(unknown.isEmpty,
      "env switches outside the allowlist: " +
        unknown.map { case (f, n) => s"$n in $f" }.distinct.mkString(", "))
  }
}
