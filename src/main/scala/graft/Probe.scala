package graft

import org.apache.spark.sql.{GraftColumnShim, SparkSession}
import org.apache.spark.sql.execution.FormattedMode

/** Dev-only smoke/plan runner for the driver contract surface:
  *  - no argument: the entry smoke, `SparkEntry.entry` twice on sf0.001;
  *  - `explain [sfDir] [outDir] [q1,q2,...] [suffix]`: each query's
  *    formatted plan, written to `<outDir>/<query>_<suffix>.txt`;
  *  - `jobcount [sfDir] [q1,q2,...]`: the Spark jobs and seconds of each
  *    query's construction and of its execution, cold then warm. */
object Probe {
  /** The bench-shaped session `explain` and `jobcount` run under. */
  private def benchSession(): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val s = GraftSession.builder(s"local[$cpus]", cpus.toInt).getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.lift(1).getOrElse("/root/testdata/sf0.1")
    args.headOption match {
      case Some("explain") =>
        // plan-artifact dump for the optimization record. Store-mutating
        // queries execute their side effects while building the frame —
        // same as in the bench — so the captured plan is the final read.
        val outDir = args.lift(2).getOrElse("/root/repo/plans/r17")
        val names = args.lift(3).map(_.split(",").toSeq).getOrElse(Seq.empty)
        val suffix = args.lift(4).getOrElse("before")
        val spark = benchSession()
        new java.io.File(outDir).mkdirs()
        names.foreach { q =>
          val txt = SparkEntry.queries(q)(spark, sfDir).queryExecution.explainString(FormattedMode)
          val w = new java.io.PrintWriter(s"$outDir/${q}_$suffix.txt")
          try w.write(txt) finally w.close()
          println(s"[explain] wrote $outDir/${q}_$suffix.txt")
        }
        spark.stop()
        sys.exit(0)
      case Some("jobcount") =>
        // load-immune evidence for construct-phase job removal: seconds on
        // a shared host drift ±30% with ambient load, but a job submitted
        // is a job submitted — the before/after job count is the
        // deterministic record a seconds A/B cannot give.
        val names = args.lift(2).map(_.split(",").toSeq).getOrElse(Seq.empty)
        val spark = benchSession()
        def timedJobs[T](body: => T): (T, Int, Double) = {
          val t0 = System.nanoTime()
          val (out, jobs) = GraftColumnShim.countJobs(spark.sparkContext)(body)
          (out, jobs, (System.nanoTime() - t0) / 1e9)
        }
        names.foreach { q =>
          (1 to 2).foreach { rep =>
            val (df, cJobs, cSec) = timedJobs(SparkEntry.queries(q)(spark, sfDir))
            val (_, eJobs, eSec) = timedJobs(df.write.mode("overwrite").format("noop").save())
            println(f"[jobcount] $q rep$rep construct_jobs=$cJobs exec_jobs=$eJobs construct=$cSec%.3f s exec=$eSec%.3f s")
          }
        }
        spark.stop()
        sys.exit(0)
      case _ =>
        val spark = SparkSession.builder().master("local[8]")
          .config("spark.sql.shuffle.partitions", "8")
          .config("spark.sql.adaptive.enabled", "true")
          .config("spark.ui.enabled", "false")
          .getOrCreate()
        spark.sparkContext.setLogLevel("ERROR")
        val df = SparkEntry.entry(spark)
        df.show(10, false)
        println(s"ENTRY ROWS: ${df.count()}")
        val df2 = SparkEntry.entry(spark)
        println(s"ENTRY ROWS 2ND RUN: ${df2.count()}")
        spark.stop()
    }
  }
}
