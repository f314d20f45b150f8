package perfbench

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.TimeUnit
import scala.jdk.CollectionConverters._

/** The engine under test, as the rig sees it. */
trait Engine extends AutoCloseable {
  def launchedNanos: Long
  def alive: Boolean
  def cpuSeconds: Double
  def rssPeakMb: Double
  def eventsProcessed: Long
}

/** `graft.Main` as a child process, started the way a deployment starts it:
  * a config file, the WAL/checkpoint/output dirs, and only the environment a
  * deployment must set — the broker bootstrap, the connection env var, the
  * metrics port and the core count. No `GRAFT_*` tuning switch is set, so
  * the child runs whatever delivery path Main ships. */
final class MainChild(engineCp: String, config: Path, walDir: String,
    ckptDir: String, outDir: String, tmpDir: String, env: Map[String, String],
    logFile: Path) extends Engine {
  val metricsPort: Int = MainChild.freePort()
  val launchedNanos: Long = System.nanoTime()
  private val proc: Process = {
    val java = Paths.get(sys.props("java.home"), "bin", "java").toString
    val cmd = Seq(java) ++ MainChild.addOpens ++ Seq("-Xmx2g",
      s"-Djava.io.tmpdir=$tmpDir", "-cp", engineCp, "graft.Main",
      config.toString, walDir, ckptDir, outDir)
    val pb = new ProcessBuilder(cmd: _*)
      .redirectErrorStream(true)
      .redirectOutput(ProcessBuilder.Redirect.appendTo(logFile.toFile))
    val e = pb.environment()
    // the child inherits nothing that could select a delivery path
    e.keySet().asScala.filter(_.startsWith("GRAFT_")).toList.foreach(e.remove)
    e.put("GRAFT_HTTP_PORT", metricsPort.toString)
    e.put("SPARK_GRAFT_CPUS", Runtime.getRuntime.availableProcessors().toString)
    e.put("SPARK_LOCAL_DIRS", tmpDir)
    env.foreach { case (k, v) => e.put(k, v) }
    val p = pb.start()
    MainChild.live.add(p)
    p
  }
  def pid: Long = proc.pid()
  def alive: Boolean = proc.isAlive

  /** utime+stime of the child, in seconds. */
  def cpuSeconds: Double = Procfs.cpuSeconds(pid)
  def rssPeakMb: Double = Procfs.statusKb(pid, "VmHWM") / 1024.0

  /** `graft_events_processed_total` from the child's own /metrics. */
  def eventsProcessed: Long = metric("graft_events_processed_total")
  private def metric(name: String): Long = {
    val c = new java.net.URL(s"http://127.0.0.1:$metricsPort/metrics")
      .openConnection().asInstanceOf[java.net.HttpURLConnection]
    c.setConnectTimeout(2000); c.setReadTimeout(5000)
    val body = try new String(c.getInputStream.readAllBytes(), "UTF-8")
      finally c.disconnect()
    body.linesIterator.collectFirst {
      case l if l.startsWith(name + " ") => l.substring(name.length + 1).trim.toLong
    }.getOrElse(sys.error(s"/metrics has no $name"))
  }

  /** SIGTERM (Main's shutdown hook closes the wire and the query), then
    * SIGKILL after a grace period; returns once the process is gone. */
  override def close(): Unit = {
    if (proc.isAlive) {
      proc.destroy()
      if (!proc.waitFor(20, TimeUnit.SECONDS)) {
        proc.destroyForcibly(); proc.waitFor(10, TimeUnit.SECONDS)
      }
    }
    MainChild.live.remove(proc)
  }
}

object MainChild {
  /** The JDK module opens Spark needs, forwarded from the rig's own command
    * line (the runner sets them once, for both JVMs). */
  val addOpens: Seq[String] = {
    val in = java.lang.management.ManagementFactory.getRuntimeMXBean
      .getInputArguments.asScala.toVector
    in.indices.flatMap { i =>
      if (in(i).startsWith("--add-opens=")) Seq(in(i))
      else if (in(i) == "--add-opens" && i + 1 < in.size) Seq(in(i), in(i + 1))
      else Nil
    }
  }

  /** Every child still running — killed from a shutdown hook, so no exit
    * path of the rig leaves a Main behind. */
  private val live = java.util.concurrent.ConcurrentHashMap.newKeySet[Process]()
  Runtime.getRuntime.addShutdownHook(new Thread(() =>
    live.forEach { p => p.destroyForcibly(); p.waitFor(10, TimeUnit.SECONDS) },
    "perfbench-child-reaper"))

  def freePort(): Int = {
    val s = new java.net.ServerSocket(0)
    try s.getLocalPort finally s.close()
  }
}

object Procfs {
  private val ticks = 100.0 // USER_HZ on Linux

  def cpuSeconds(pid: Long): Double = {
    val stat = Files.readString(Paths.get(s"/proc/$pid/stat"))
    val f = stat.substring(stat.lastIndexOf(')') + 2).split(' ')
    (f(11).toLong + f(12).toLong) / ticks // utime, stime
  }
  def statusKb(pid: Long, key: String): Double =
    Files.readAllLines(Paths.get(s"/proc/$pid/status")).asScala
      .collectFirst { case l if l.startsWith(key + ":") =>
        l.split("\\s+")(1).toDouble }.getOrElse(0.0)
  def selfCpuSeconds: Double = cpuSeconds(ProcessHandle.current().pid())
  def loadAvg: String = Files.readString(Paths.get("/proc/loadavg")).trim
  /** The machine's CPU time counters (/proc/stat, first line). */
  def cpuTimes: Array[Long] =
    Files.readAllLines(Paths.get("/proc/stat")).get(0).trim.split("\\s+").drop(1).map(_.toLong)
  /** Share of CPU time stolen by the hypervisor between two samples. */
  def stealShare(from: Array[Long], to: Array[Long]): Double = {
    val d = to.indices.map(i => to(i) - from(i))
    d(7).toDouble / math.max(1L, d.sum)
  }
  def diskFreeGb(p: Path): Double = Files.getFileStore(p).getUsableSpace / 1e9

  def rmRf(p: Path): Unit = if (Files.exists(p)) {
    val w = Files.walk(p)
    try w.sorted(java.util.Comparator.reverseOrder()).iterator().asScala
      .foreach(f => try Files.deleteIfExists(f) catch { case _: java.io.IOException => () })
    finally w.close()
  }
}
