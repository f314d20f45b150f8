package perfbench

import graft.config.StreamDef
import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable

/** The load rig. For the CDC workloads it generates the seeded inputs,
  * hosts the broker (and, for `live_stream`, Postgres), runs `graft.Main` as
  * a child process (or, when traced, the same pipeline in-process) and
  * checks every delivery; for `query_suite` it runs the queries itself.
  * Writes one result JSON. See README.md in this directory. */
object Rig {
  final case class Args(workload: String, seed: Long, seconds: Int,
      trace: Boolean, runDir: Path, result: Path, engineCp: String,
      digest: String, records: Path, expectWrong: Boolean, benchDir: Path,
      launchedMs: Long, layerMetrics: Seq[(String, String)])

  final case class Metric(name: String, value: Double, unit: String)

  /** What a workload hands back: metrics, checks, and extra run-record
    * fields. */
  final class Outcome {
    val metrics = mutable.ArrayBuffer.empty[Metric]
    var attempted = 0L
    var failed = 0L
    val notes = mutable.LinkedHashMap.empty[String, String]
    def metric(name: String, value: Double, unit: String): Unit =
      metrics += Metric(name, value, unit)
    def check(c: Check): Unit = {
      attempted += c.expectedCount
      failed += c.failures
      if (c.failures > 0) System.err.println(s"[rig] check failed: ${c.describe}")
    }
    /** A failed assertion counts as one failed operation. */
    def require(ok: Boolean, what: => String): Unit = {
      attempted += 1
      if (!ok) { failed += 1; System.err.println(s"[rig] check failed: $what") }
    }
  }

  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) => k -> v }.toMap
    Args(m("--workload"), m("--seed").toLong, m("--seconds").toInt,
      m("--trace") == "1", Paths.get(m("--run-dir")), Paths.get(m("--result")),
      m("--engine-cp"), m("--source-digest"), Paths.get(m("--records")),
      m("--expect-wrong") == "1", Paths.get(m("--bench-dir")),
      m("--launched-ms").toLong,
      m("--layer-metrics").split(",").toSeq.map { nu =>
        val Array(n, u) = nu.split(":"); n -> u })
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val startedMs = System.currentTimeMillis()
    val loadStart = Procfs.loadAvg
    val cpuStart = Procfs.cpuTimes
    val o = new Outcome
    val rc = try {
      // the layers each workload leaves untouched: their per-layer
      // metrics read 0 in its traced run
      val untouched = a.workload match {
        case "backlog_drain" => BacklogDrain.run(a, o); Set("query")
        case "live_stream" => LiveStream.run(a, o); Set("query")
        case "query_suite" => QuerySuite.run(a, o); Trace.CdcLayers
        case w => sys.error(s"unknown workload $w")
      }
      if (a.trace) {
        o.metric("proc.cpu_s", Procfs.selfCpuSeconds, "s")
        Trace.finish(a, o)
        a.layerMetrics.filter { case (n, _) => untouched(n.takeWhile(_ != '.')) &&
          !o.metrics.exists(_.name == n) }.foreach { case (n, u) => o.metric(n, 0.0, u) }
      }
      if (a.trace) o.metric("check.failed_ratio", o.failed.toDouble / math.max(1L, o.attempted), "ratio")
      if (o.attempted < 1) sys.error("no operation attempted")
      o.notes("cpu_steal_share") = f"${Procfs.stealShare(cpuStart, Procfs.cpuTimes)}%.4f"
      write(a, o, startedMs, loadStart)
      0
    } catch { case e: Throwable =>
      e.printStackTrace()
      1
    }
    // exits through the shutdown hooks: they reap every child process
    sys.exit(rc)
  }

  def jsonStr(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""; case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  private def write(a: Args, o: Outcome, startedMs: Long, loadStart: String): Unit = {
    o.metrics.foreach(m => require(!m.value.isNaN && !m.value.isInfinite,
      s"metric ${m.name} is ${m.value}"))
    val metrics = o.metrics.map(m =>
      s"${jsonStr(m.name)}: {\"value\": ${m.value}, \"unit\": ${jsonStr(m.unit)}}")
      .mkString("{", ", ", "}")
    val correct = o.failed == 0
    Files.writeString(a.result,
      s"""{"correct": $correct, "attempted": ${o.attempted}, "failed": ${o.failed}, "metrics": $metrics}""")
    // the run record: everything needed to judge the run's conditions
    val env = Seq(
      "workload" -> a.workload, "seed" -> a.seed.toString,
      "trace" -> a.trace.toString, "seconds" -> a.seconds.toString,
      "source_digest" -> a.digest,
      "git_commit" -> Env.gitCommit,
      "nproc" -> Runtime.getRuntime.availableProcessors().toString,
      "loadavg_start" -> loadStart, "loadavg_end" -> Procfs.loadAvg,
      "jvm" -> s"${sys.props("java.vm.name")} ${sys.props("java.runtime.version")}",
      "disk_free_gb" -> f"${Procfs.diskFreeGb(a.runDir)}%.1f",
      "started_ms" -> startedMs.toString,
      "correct" -> correct.toString, "attempted" -> o.attempted.toString,
      "failed" -> o.failed.toString) ++ o.notes
    val record = (env.map { case (k, v) => s"${jsonStr(k)}: ${jsonStr(v)}" } ++
      Seq("\"metrics\": " + metrics)).mkString("{", ", ", "}")
    Files.createDirectories(a.records)
    Files.writeString(a.records.resolve(
      s"${a.workload}-seed${a.seed}-trace${if (a.trace) 1 else 0}-$startedMs.json"),
      record + "\n")
    System.err.println(s"[rig] record: $record")
  }

  // ------------------------------------------------------------ shared bits

  def configJson(streams: Seq[StreamDef], pg: Option[(String, String, String)]): String = {
    val ss = streams.map { s =>
      s"""{"name": "${s.name}", "resource": "${s.resource}", """ +
        s""""operations": [${s.operations.map("\"" + _ + "\"").mkString(", ")}], """ +
        s""""destination": "${s.destination}", "routing_key": "${s.routingKey}"}"""
    }.mkString(",\n    ")
    val src = pg match {
      case Some((env, slot, pub)) =>
        s"""{"type": "postgres", "postgres": {"connection_env": "$env", """ +
          s""""slot_name": "$slot", "publication_name": "$pub"}}"""
      case None => """{"type": "postgres"}"""
    }
    s"""{
       |  "source": $src,
       |  "sink": {"type": "kafka"},
       |  "format": "json",
       |  "streams": [
       |    $ss]
       |}""".stripMargin
  }

  /** Poll `cond` every few ms until true or `timeoutS` passes. */
  def await(timeoutS: Double, what: String)(cond: => Boolean): Boolean = {
    val deadline = System.nanoTime() + (timeoutS * 1e9).toLong
    while (!cond && System.nanoTime() < deadline) Thread.sleep(2)
    val ok = cond
    if (!ok) System.err.println(s"[rig] timed out after ${timeoutS}s waiting for $what")
    ok
  }

  def mkdirs(p: Path*): Unit = p.foreach(Files.createDirectories(_))

  private val t0 = System.nanoTime()
  /** Progress line on stderr, stamped with seconds since the rig started. */
  def phase(what: String): Unit =
    System.err.println(f"[rig] +${(System.nanoTime() - t0) / 1e9}%.1fs $what")
}

object Env {
  /** The commit, when the checkout is a git work tree (it need not be: the
    * source digest in the run record identifies the code either way). */
  def gitCommit: String = try {
    val p = new ProcessBuilder("git", "rev-parse", "HEAD")
      .redirectErrorStream(true).start()
    val out = new String(p.getInputStream.readAllBytes()).trim
    if (p.waitFor() == 0) out else "none"
  } catch { case _: Throwable => "none" }
}
