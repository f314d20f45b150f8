package graft

import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths, StandardOpenOption}
import java.nio.charset.StandardCharsets

/** Optimization-round tool: dump `.explain("formatted")` for declared
  * queries to files (plans/r19/<query>_<tag>.txt). Not part of the driver
  * contract; used to capture before/after plan evidence.
  *
  * Usage: runMain graft.PlanDump <sfDir> <outDir> <tag> [q1,q2,...]
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = args(1)
    val tag = args(2)
    val onlySet = if (args.length > 3) Some(args(3).split(",").toSet) else None
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold",
        sys.env.getOrElse("GRAFT_OBJ_AGG_FALLBACK", "65536"))
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    Files.createDirectories(Paths.get(outDir))
    val ordered = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => onlySet.forall(_.contains(n)) }
    ordered.foreach { case (name, fn) =>
      try {
        val df = fn(spark, sfDir)
        // Execute to the noop sink first (default): AQE finalizes the plan
        // (SMJ→BHJ conversions, coalesced reads), so the dump shows the
        // plan that actually ran, not the initial estimate.
        df.write.format("noop").mode("overwrite").save()
        val plan = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        Files.write(Paths.get(outDir, s"${name}_$tag.txt"),
          plan.getBytes(StandardCharsets.UTF_8),
          StandardOpenOption.CREATE, StandardOpenOption.TRUNCATE_EXISTING)
        System.err.println(s"[plandump] $name ok (${plan.length} chars)")
      } catch { case e: Throwable =>
        System.err.println(s"[plandump] $name FAILED: ${e.getMessage}")
      } finally graft.util.Checkpoints.releaseOwned(spark)
    }
    spark.stop()
  }
}
