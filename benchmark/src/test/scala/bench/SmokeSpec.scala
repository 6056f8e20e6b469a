package bench

import java.nio.file.{Files => NioFiles}

import org.scalatest.funsuite.AnyFunSuite

/** Both workloads end to end on the smoke corpus, untraced and
  * traced: every check passes and every metric is reported. */
class SmokeSpec extends AnyFunSuite {
  for (w <- Main.WorkloadNames; trace <- Seq(false, true))
    test(s"$w (trace=$trace): all checks pass, every metric reported") {
      val root = NioFiles.createDirectories(java.nio.file.Paths.get("target", "smoke-work"))
      val work = NioFiles.createTempDirectory(root, s"$w-").toAbsolutePath.toString
      val r = Main.run(Main.Opts(w, seed = 3, seconds = 1, trace = trace, work = work,
        record = Some(s"$work/record.json"), smoke = true))
      assert(r.failed == 0 && r.correct, r)
      assert(r.attempted > 0)
      val expected = if (trace) Main.PerLayer else Main.EndToEnd
      assert(r.metrics.map { case (k, (_, u)) => (k, u) } == expected)
      if (!trace) assert(r.metrics.forall { case (_, (v, _)) => v > 0 }, r.metrics)
      assert(NioFiles.size(java.nio.file.Paths.get(s"$work/record.json")) > 0)
    }
}
