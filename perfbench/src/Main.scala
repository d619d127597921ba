package perfbench

/** Benchmark entry point (launched by run.py):
  *
  * {{{
  * perfbench.Main run <workload> <seed> <seconds> <trace 0|1> <runDir> <dataDir> <outJson> [steadyRate]
  * perfbench.Main oracle <outJson>     # oracle SQL of the panel queries
  * perfbench.Main selftest <runDir>    # the benchmark's own tests
  * }}}
  *
  * The result file holds `correct`, `attempted`, `failed`, the
  * end-to-end metrics, the per-layer metrics (traced runs) and the
  * detail; run.py prints the one-line summary.
  */
object Main {
  val Workloads = Seq("ingest", "query_panel")

  def main(args: Array[String]): Unit = {
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    args.headOption match {
      case Some("run") => run(args.drop(1), jvmStartMs)
      case Some("oracle") => oracle(args(1))
      case Some("selftest") => sys.exit(SelfTest.run(args(1)))
      case _ =>
        System.err.println("usage: perfbench.Main run|oracle|selftest ...")
        sys.exit(2)
    }
  }

  private def oracle(out: String): Unit = {
    val sql = graft.SparkEntry.oracleSql
    val m = Panel.Queries.map { case (n, _) => n -> sql(n) }.toMap
    java.nio.file.Files.writeString(java.nio.file.Paths.get(out), Json(m))
  }

  private def run(a: Array[String], jvmStartMs: Long): Unit = {
    val Array(workload, seedS, secondsS, traceS, runDir, dataDir, out) = a.take(7)
    // the steady offered rate is fixed; the optional override exists to
    // re-measure the steady mix's capacity
    val steadyRate = a.lift(7).map(_.toDouble).getOrElse(IngestRun.SteadyRate)
    require(Workloads.contains(workload), s"unknown workload $workload")
    val tracer = new Tracer(traceS == "1")
    val spark = graft.GraftSession.build()
    spark.sparkContext.setLogLevel("ERROR")
    val seed = seedS.toLong
    val seconds = secondsS.toInt
    val result =
      try workload match {
        case "ingest" => new IngestRun(spark, runDir, seed, seconds, tracer, steadyRate).run(jvmStartMs)
        case "query_panel" => new PanelRun(spark, runDir, dataDir, seed, seconds, tracer).run(jvmStartMs)
      }
      catch { case e: Throwable =>
        e.printStackTrace()
        RunResult(correct = false, 1, 1, Map.empty, Map.empty,
          Map("error" -> (e.getClass.getName + ": " + e.getMessage)))
      }
    tracer.write(s"$out.trace.jsonl")
    val json = Json(Map(
      "correct" -> result.correct, "attempted" -> result.attempted, "failed" -> result.failed,
      "e2e" -> result.e2e, "layers" -> result.layers, "detail" -> result.detail,
      "spans" -> tracer.all.length))
    java.nio.file.Files.writeString(java.nio.file.Paths.get(out), json)
    spark.stop()
  }
}
