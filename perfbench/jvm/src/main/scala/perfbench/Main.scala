package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.SparkSession

/** One benchmark run inside a JVM:
  * `perfbench.Main <workload> <seed> <seconds> <trace 0|1> <work dir> <result json>`.
  * Everything it writes stays under the work dir; the result file carries
  * the metrics, the operation counts and the gate results for the oracle.
  */
object Main {
  /** The session posture of the program's own mains: `EngineTuning` on
    * the builder, `local[cores]` with as many shuffle partitions.
    */
  def session(cores: Int, work: Path): SparkSession = {
    val spark = graft.EngineTuning(SparkSession.builder())
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      // keeps every batch's progress, so batch end times cover the run
      .config("spark.sql.streaming.numRecentProgressUpdates", "100000")
      .getOrCreate()
    graft.EngineTuning.verify(spark)
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def main(args: Array[String]): Unit = {
    val Array(workload, seed, seconds, trace, workDir, out) = args
    val work = Paths.get(workDir).toAbsolutePath
    val cores = Runtime.getRuntime.availableProcessors
    val t0 = Probe.nowS
    val spark = session(cores, work)
    val r = new Result
    r.log(f"session up in ${Probe.nowS - t0}%.2f s at local[$cores]")
    val c = Ctx(spark, work, seed.toLong, seconds.toInt, trace == "1")
    try workload match {
      case "enrich_stream" => Workloads.enrichStream(c, r)
      case "gates" => Workloads.gates(c, r)
      case other => sys.error(s"unknown workload '$other'")
    } finally {
      r.log("workload done")
      SparkSession.getActiveSession.foreach(_.stop())
    }
    Files.write(Paths.get(out), json(r).getBytes(StandardCharsets.UTF_8))
    r.log("session stopped")
  }

  private def q(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case ch if ch < ' ' => f"\\u${ch.toInt}%04x"
    case ch => ch.toString
  } + "\""

  private def obj(m: Iterable[(String, Double)]): String =
    m.map { case (k, v) => s"${q(k)}: ${if (v.isNaN || v.isInfinite) "null" else v.toString}" }
      .mkString("{", ", ", "}")

  private def json(r: Result): String =
    s"""{"attempted": ${r.attempted}, "failed": ${r.failed}, """ +
      s""""metrics": ${obj(r.metrics)}, "layers": ${obj(r.layers)}, "gates": """ +
      r.gates.map { case (n, dir, sql, data) =>
        s"""{"name": ${q(n)}, "result": ${q(dir)}, "sql": ${q(sql)}, "tables": ${q(data)}}"""
      }.mkString("[", ", ", "]") + "}"
}
