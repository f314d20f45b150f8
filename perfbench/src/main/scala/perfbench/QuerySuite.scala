package perfbench

import graft.SparkEntry
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path}
import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** `query_suite`: the training-data side. A fixed subset of
  * `SparkEntry.queries` runs once, in a fixed order, in this fresh JVM with
  * no warm-up (a batch job pays JIT on every launch), over tables the seed
  * generates (`tables.py`). Each result is written as parquet and checked
  * against its DuckDB oracle (`oracle.py`). */
object QuerySuite {
  /** Drawn once, with Python's `random.Random(1).sample` over the sorted
    * query names of each module in turn (2 of CdcQueries, 5 of
    * AnalyticsQueries, 2 of OlapDeepQueries, 9 of ExtQueries), and cut to
    * the first of each sample so that a cold pass fits the benchmark's time
    * budget (about 20 s on 4 cores). The list is fixed so
    * that every seed runs the same queries in the same order; the seed
    * drives the data. */
  val Queries: Seq[String] = Seq(
    "cdc_kafka_messages", "events_histogram", "olap_waiting_suppliers",
    "graph_kcore")

  /** The session of `graft.Bench`'s query suite. */
  val SessionConf: Seq[(String, String)] = Seq(
    "spark.sql.objectHashAggregate.sortBased.fallbackThreshold" -> "65536",
    "spark.sql.adaptive.enabled" -> "true",
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    "spark.ui.enabled" -> "false")

  def run(a: Rig.Args, o: Rig.Outcome): Unit = {
    val cpus = Runtime.getRuntime.availableProcessors().toString
    val tables = a.runDir.resolve("tables")
    val out = a.runDir.resolve("out")
    Rig.mkdirs(out)
    val s0 = System.nanoTime()
    val spark = SparkSession.builder()
      .appName("perfbench-query-suite")
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.local.dir", a.runDir.resolve("tmp").toString)
      .config(SessionConf.toMap)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    // from the runner's launch of this JVM until the session is ready
    val setup = (System.currentTimeMillis() - a.launchedMs) / 1e3
    val sessionS = (System.nanoTime() - s0) / 1e9
    o.notes("session_conf") = SessionConf.map { case (k, v) => s"$k=$v" }.mkString(" ")
    try {
      Rig.phase("session ready; generating tables")
      Py.run(a, "tables.py", a.seed.toString, tables.toString)
      val again = a.runDir.resolve("tables.again")
      Py.run(a, "tables.py", a.seed.toString, again.toString)
      o.require(Files.list(tables).iterator().asScala.forall(f =>
        Files.mismatch(f, again.resolve(f.getFileName)) == -1),
        "same seed generated different tables")
      Procfs.rmRf(again)

      val fns = SparkEntry.queries
      val oracles = SparkEntry.oracleSql
      val tracer = if (a.trace) Some(new SuiteListeners(spark)) else None
      val gc0 = gcSeconds
      val cpu0 = Procfs.selfCpuSeconds
      val build = mutable.ArrayBuffer.empty[Double]
      val exec = mutable.ArrayBuffer.empty[Double]
      Rig.phase(s"running ${Queries.size} queries")
      Queries.foreach { name =>
        Tracer.span(name, "bench") {
          val t0 = System.nanoTime()
          val df = Tracer.span("build", "query")(fns(name)(spark, tables.toString))
          val t1 = System.nanoTime()
          Tracer.span("exec", "query") {
            df.coalesce(1).write.mode("overwrite").parquet(out.resolve(name).toString)
            graft.util.Checkpoints.releaseOwned(spark)
          }
          build += (t1 - t0) / 1e9
          exec += (System.nanoTime() - t1) / 1e9
        }
      }
      val cpu = Procfs.selfCpuSeconds - cpu0
      val gc = gcSeconds - gc0
      val wall = build.indices.map(i => build(i) + exec(i)).toArray
      val suite = wall.sum
      Rig.phase(f"suite done in $suite%.2fs; checking against DuckDB")
      o.notes("suite_s") = f"$suite%.3f"
      o.notes("query_p90_s") = f"${Stats.pct(wall, 0.9)}%.3f"
      o.notes("query_s") = Queries.indices.map(i => f"${Queries(i)}=${wall(i)}%.3f").mkString(",")

      val prefix = if (a.trace) "trace." else ""
      o.metric(if (a.trace) "proc.setup_s" else "setup_s", setup, "s")
      o.metric(prefix + "events_per_s", Queries.size / suite, "1/s")
      o.metric(prefix + "ack_p50_ms", Stats.pct(wall, 0.5) * 1e3, "ms")
      o.metric(prefix + "ack_p99_ms", Stats.pct(wall, 0.99) * 1e3, "ms")
      o.metric(prefix + "cpu_us_per_event", cpu * 1e6 / Queries.size, "us")
      tracer.foreach { t =>
        t.report(o, build.sum, exec.sum, gc)
        o.metric("proc.jvm_session_s", sessionS, "s")
        o.metric("proc.rss_peak_mb",
          Procfs.statusKb(ProcessHandle.current().pid(), "VmHWM") / 1024.0, "MB")
      }

      // the oracle check: every query's result against DuckDB
      val sql = Queries.map { q =>
        val s = oracles.getOrElse(q, "")
        q -> (if (a.expectWrong && q == Queries.head) s"SELECT * FROM ($s) AS q LIMIT 0" else s)
      }
      Files.writeString(out.resolve("oracle_sql.json"), sql.filter(_._2.nonEmpty)
        .map { case (q, s) => s"${Rig.jsonStr(q)}: ${Rig.jsonStr(s)}" }.mkString("{", ", ", "}"))
      val verdict = Py.run(a, "oracle.py", tables.toString, out.toString)
      Rig.phase("oracle check done")
      Queries.foreach { q =>
        o.require(sql.toMap.apply(q).nonEmpty, s"$q has no oracle SQL")
        o.require(verdict.contains(s"PASS $q"),
          verdict.find(_.startsWith(s"FAIL $q:")).getOrElse(s"$q was not checked"))
      }
    } finally {
      spark.stop()
      Procfs.rmRf(out)
      Procfs.rmRf(tables)
    }
  }

  private def gcSeconds: Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum / 1e3
}

/** Runs one of the benchmark's Python helpers and returns its output
  * lines; a non-zero exit fails the run. */
object Py {
  def run(a: Rig.Args, script: String, args: String*): Seq[String] = {
    val cmd = Seq("python3", a.benchDir.resolve(script).toString) ++ args
    val p = new ProcessBuilder(cmd: _*).redirectError(ProcessBuilder.Redirect.INHERIT).start()
    val out = new String(p.getInputStream.readAllBytes(), "UTF-8")
    val rc = p.waitFor()
    require(rc == 0, s"${cmd.mkString(" ")} exited $rc")
    out.linesIterator.toSeq
  }
}

/** The suite's per-layer view: the phase tracker of every query execution
  * (analysis, optimization, planning) and Spark's job, stage and task
  * counts with their shuffle and spill bytes. */
final class SuiteListeners(spark: SparkSession) {
  private val phaseMs = new java.util.concurrent.ConcurrentHashMap[String, AtomicLong]()
  val jobs, stages, tasks, shuffleBytes, spillBytes = new AtomicLong(0)

  spark.listenerManager.register(new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      qe.tracker.phases.foreach { case (ph, s) =>
        phaseMs.computeIfAbsent(ph, _ => new AtomicLong(0)).addAndGet(s.durationMs)
      }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  })
  spark.sparkContext.addSparkListener(new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = stages.incrementAndGet()
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      tasks.incrementAndGet()
      Option(e.taskMetrics).foreach { m =>
        shuffleBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        spillBytes.addAndGet(m.diskBytesSpilled)
      }
    }
  })

  def report(o: Rig.Outcome, buildS: Double, execS: Double, gcS: Double): Unit = {
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    def ms(ph: String) = Option(phaseMs.get(ph)).map(_.get.toDouble).getOrElse(0.0)
    o.metric("query.build_s", buildS, "s")
    o.metric("query.exec_s", execS, "s")
    o.metric("query.analysis_ms", ms("analysis"), "ms")
    o.metric("query.optimization_ms", ms("optimization"), "ms")
    o.metric("query.planning_ms", ms("planning"), "ms")
    o.metric("query.jobs", jobs.get, "count")
    o.metric("query.stages", stages.get, "count")
    o.metric("query.tasks", tasks.get, "count")
    o.metric("query.shuffle_write_mb", shuffleBytes.get / 1e6, "MB")
    o.metric("query.spill_mb", spillBytes.get / 1e6, "MB")
    o.metric("query.gc_s", gcS, "s")
  }
}
