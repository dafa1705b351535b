package perfbench

import java.nio.file.{Files, Paths}

import scala.util.control.NonFatal

/** Benchmark entry point, one workload per process:
  *
  * {{{
  *   perfbench.Main --workload <hypercube_bulk|corpus_sf001>
  *     --seed <n> --seconds <s> --trace <0|1> [--trace-out <file>]
  * }}}
  *
  * Run it from a fresh, empty working directory (perfbench/run.py does):
  * inputs, outputs and the engine's staged artifacts all land there.
  * Prints one environment line and, last, the result line
  * `{"correct":…,"attempted":…,"failed":…,"metrics":{…}}`. With
  * `--trace 0` the metrics are the end-to-end ones; with `--trace 1` the
  * per-layer ones. Exits 1 when any output check failed. */
object Main {
  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
      traceOut: Option[String])

  /** A metric as printed: integral counts print without a fraction. */
  final case class Metric(name: String, value: Double, unit: String) {
    def json: String = {
      val v = if (unit == "count") value.round.toString else value.toString
      s""""$name":{"value":$v,"unit":"$unit"}"""
    }
  }

  def parse(argv: Array[String]): Args = {
    val kv = argv.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => throw new IllegalArgumentException(s"bad arguments: ${other.mkString(" ")}")
    }.toMap
    val w = kv.getOrElse("workload", throw new IllegalArgumentException("--workload is required"))
    require(Workloads.names.contains(w), s"unknown workload $w; one of ${Workloads.names.mkString(", ")}")
    Args(w, kv.getOrElse("seed", "1").toLong, kv.getOrElse("seconds", "10").toDouble,
      kv.getOrElse("trace", "0") == "1", kv.get("trace-out"))
  }

  def main(argv: Array[String]): Unit = {
    val args = parse(argv)
    val env = Env.capture(args)
    val out = Workloads(args.workload).run(args)
    val envJson = env.json(Env.loadavg)
    println(s"""{"env":$envJson}""")
    args.traceOut.foreach { p =>
      Files.createDirectories(Paths.get(p).toAbsolutePath.getParent)
      Files.writeString(Paths.get(p),
        s"""{"env":$envJson,"problems":[${out.problems.map(Env.quote).mkString(",")}],""" +
          s""""spans":[${out.spans.map(_.json).mkString(",\n")}]}""" + "\n")
    }
    out.problems.foreach(p => System.err.println(s"[perfbench] check failed: $p"))
    val correct = out.failed == 0
    println(s"""{"correct":$correct,"attempted":${out.attempted},"failed":${out.failed},""" +
      s""""metrics":{${out.metrics.map(_.json).mkString(",")}}}""")
    System.out.flush()
    sys.exit(if (correct) 0 else 1)
  }
}

/** Seed, source id, cores and load average, recorded with every result,
  * plus the share of CPU time the hypervisor stole over the run: on a
  * shared host, runs with steal are markedly slower. */
final case class Env(workload: String, seed: Long, seconds: Double, trace: Boolean,
    source: String, cores: Int, loadStart: String, cpuStart: Option[Array[Long]]) {
  def json(loadEnd: String): String = {
    val steal = for (a <- cpuStart; b <- Env.cpuTimes) yield {
      val d = b.zip(a).map { case (x, y) => x - y }
      if (d.length > 7 && d.sum > 0) d(7).toDouble / d.sum else 0.0
    }
    s"""{"workload":"$workload","seed":$seed,"seconds":$seconds,"trace":$trace,""" +
      s""""source":${Env.quote(source)},"cores":$cores,"spark_graft_cpus":""" +
      s"""${Env.quote(sys.env.getOrElse("SPARK_GRAFT_CPUS", ""))},""" +
      s""""loadavg_start":$loadStart,"loadavg_end":$loadEnd,""" +
      s""""steal_frac":${steal.fold("null")(_.toString)}}"""
  }
}

object Env {
  def capture(a: Main.Args): Env = Env(a.workload, a.seed, a.seconds, a.trace,
    sys.env.getOrElse("PERFBENCH_SOURCE_ID", "unknown"),
    Runtime.getRuntime.availableProcessors, loadavg, cpuTimes)

  /** The aggregate `cpu` line of /proc/stat, in clock ticks. */
  def cpuTimes: Option[Array[Long]] =
    try Some(Files.readAllLines(Paths.get("/proc/stat")).get(0).trim.split("\\s+").drop(1).map(_.toLong))
    catch { case NonFatal(_) => None }

  def loadavg: String =
    try Files.readString(Paths.get("/proc/loadavg")).trim.split("\\s+").take(3).mkString("[", ",", "]")
    catch { case NonFatal(_) => "null" }

  def quote(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
}
