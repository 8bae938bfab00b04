package graft.perfbench

import java.nio.file.{Files, Paths}

/** Runs one workload and writes its result file for the wrapper.
  *
  *   --workload online|batch  --data <generated input dir>
  *   --work <scratch dir>  --seconds <s>  --trace 0|1  --cores <n>
  *   --out <result json>
  */
object Main {
  def main(args: Array[String]): Unit = {
    val o = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = o("workload")
    val r = new Run(o("cores").toInt, o("data"), o("work"), o("seconds").toDouble,
      o("trace") == "1")
    Trace.enable(r.traced)
    val t0 = System.nanoTime()
    try {
      workload match {
        case "online" => Online.run(r)
        case "batch" => Batch.run(r)
        case other => throw new IllegalArgumentException(s"unknown workload $other")
      }
    } catch {
      case e: Throwable =>
        e.printStackTrace()
        r.fail(s"$workload aborted: ${e.getClass.getSimpleName}: ${e.getMessage}")
    } finally r.stopSession()
    r.detail("wall_s") = (System.nanoTime() - t0) / 1e9
    if (r.traced) {
      Trace.write(Paths.get(s"${r.work}/spans.tsv"))
      r.detail("spans") = Trace.summary(Trace.all).map { case (n, c, tot, self) =>
        Map("name" -> n, "calls" -> c, "total_s" -> tot / 1e9, "self_s" -> self / 1e9)
      }
    }
    val out = Map("workload" -> workload, "attempted" -> r.attempted.get,
      "failed" -> r.failed.get, "failures" -> r.failureList,
      "end_to_end" -> r.endToEnd, "per_layer" -> r.layers,
      "detail" -> r.detail, "oracle" -> r.oracle)
    Files.write(Paths.get(o("out")), Json(out).getBytes("UTF-8"))
    // the context is stopped; do not wait for stray non-daemon threads
    System.exit(0)
  }
}
