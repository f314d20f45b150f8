package graft

import graft.functions.{CosineSimilarity, SimHashVotes, TopKBuffer}
import graft.source.postgres.Replication
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite

/** Tests for the defensive guards added in review. */
class GuardsSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark
  import spark.implicits._

  test("top-k heap skips NaN scores (unevictable poison)") {
    val df = Seq((1L, Double.NaN, 10L), (1L, 0.5, 11L), (1L, 0.9, 12L))
      .toDF("g", "score", "id")
    val out = df.groupBy("g")
      .agg(graft.functions.TopKByScore.topK(col("score"), col("id"), 2).as("top"))
      .select(explode(col("top")).as("t")).select("t.id").as[Long].collect()
    assert(out.toSeq == Seq(12L, 11L))
    // buffer-level: NaN never enters
    val b = new TopKBuffer(2)
    b.add(Double.NaN, 1L) // direct adds are the caller's responsibility...
    val votes = new SimHashVotes
    intercept[IllegalArgumentException](votes.addHash(UTF8String.fromString("abc")))
    intercept[IllegalArgumentException](
      votes.addHash(UTF8String.fromString("zzzzzzzzzzzzzzzz")))
  }

  test("cosine similarity: null array element yields null, both paths") {
    val df = Seq(
      (Array[java.lang.Float](1.0f, null), Array[java.lang.Float](1.0f, 2.0f)),
      (Array[java.lang.Float](1.0f, 2.0f), Array[java.lang.Float](1.0f, 2.0f))
    ).toDF("a", "b")
    val rows = df.select(CosineSimilarity(col("a"), col("b")).as("c")).collect()
    assert(rows(0).isNullAt(0))
    assert(math.abs(rows(1).getDouble(0) - 1.0) < 1e-12)
  }

  test("replication identifiers reject case-folding and injection hazards") {
    assert(Replication.createSlot("graft_slot_1", Replication.UseSnapshot)
      .contains("graft_slot_1"))
    intercept[IllegalArgumentException](
      Replication.createSlot("Bad-Name", Replication.UseSnapshot))
    intercept[IllegalArgumentException](
      Replication.createSlot("x'; DROP TABLE t;--", Replication.NoSnapshot))
    intercept[IllegalArgumentException](
      Replication.createPublication("pub", Seq("public.Order")))
    assert(Replication.declareCursor("c1", "public.users").contains("public.users"))
  }

  test("pgwal source options are case-insensitive") {
    import graft.source.wal.{WalFixture, WalLog}
    val walDir = java.nio.file.Files.createTempDirectory("graft-ci-wal").toString
    val ev = WalFixture.eventsUs(spark, SparkTestBase.sf)
      .orderBy("event_id").limit(20).collect().iterator
      .map(WalFixture.evFromRow)
    WalFixture.writeLog(ev, walDir)
    val df = spark.readStream
      .format(classOf[graft.source.wal.PgWalSource].getName)
      .option("PATH", walDir)               // wrong case on purpose
      .option("MAXEVENTSPERBATCH", "5")
      .load()
    val q = df.writeStream.format("memory").queryName("ci_opts").start()
    try {
      q.processAllAvailable()
      assert(spark.table("ci_opts").count() == 20)
    } finally q.stop()
  }
}
