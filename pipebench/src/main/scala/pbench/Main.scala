package pbench

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.SparkSession

/** What one workload run hands back: end-to-end metrics (untraced run),
  * per-layer metrics (traced run), operation counts, and the paths and
  * counts the correctness check needs.
  */
final case class Result(e2e: Map[String, Double], layers: Map[String, Double],
    attempted: Long, failed: Long, check: Map[String, Any], selfMs: Map[String, Double],
    windowS: Double)

object Result {
  def json(m: Map[String, Any]): String = m.toSeq.sortBy(_._1).map { case (k, v) =>
    val s = v match {
      case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
      case n: Long => n.toString
      case n: Int => n.toString
      case b: Boolean => b.toString
      case m: Map[_, _] => json(m.asInstanceOf[Map[String, Any]])
      case x => quote(x.toString)
    }
    s"${quote(k)}:$s"
  }.mkString("{", ",", "}")

  private def quote(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def du(p: Path): Long = graft.plans.BatchScale.dirBytes(p.toString)

  /** CPU time this process has used so far, in ms (all threads). */
  def processCpuMs(): Double =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime / 1e6
}

/** Entry point: `pbench.Main <workload> <inputs> <work> <trace> <cores>`.
  * Writes `<work>/result.json` (and `<work>/spans.jsonl` when traced); the
  * benchmark's runner turns that into its one-line report.
  */
object Main {
  def main(args: Array[String]): Unit = {
    val Array(workload, inputsArg, workArg, traceArg, cores) = args
    val inputs = Paths.get(inputsArg).toAbsolutePath
    val work = Paths.get(workArg).toAbsolutePath
    val tracing = traceArg == "1"
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.hadoop.fs.file.impl", "graft.streaming.NioLocalFileSystem")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config(graft.plans.BatchScale.aqeWidthConfs(inputs.toString, cores.toInt).toMap)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val sessionReadyS = (System.currentTimeMillis() - jvmStartMs) / 1000.0
    val probe = new Probe(spark, tracing)
    val r = workload match {
      case "medallion_stream" =>
        new MedallionStream(spark, probe, inputs, work).run(sessionReadyS)
      case "curation_gates" =>
        new Curation(spark, probe, inputs, work).run(sessionReadyS)
    }
    if (tracing) probe.writeSpans(work.resolve("spans.jsonl"))
    Files.writeString(work.resolve("result.json"), Result.json(Map(
      "e2e" -> r.e2e, "layers" -> r.layers, "attempted" -> r.attempted,
      "failed" -> r.failed, "check" -> r.check, "self_ms" -> r.selfMs,
      "window_s" -> r.windowS)))
    spark.stop()
  }
}
