package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{TimestampNTZType, TimestampType}

import graft.sources.Tables

/** The per-session schema memo behind `Tables.table`. */
class SourcesSpec extends SparkSpec {
  import spark.implicits._

  private val fixtures = Seq("region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "documents", "embeddings", "events")

  /** Spark jobs launched while `body` runs. */
  private def jobsDuring[T](body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val jobs = new AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    org.apache.spark.sql.GraftBridge.drainListenerBus(sc)
    sc.addSparkListener(listener)
    try {
      val r = body
      org.apache.spark.sql.GraftBridge.drainListenerBus(sc)
      (r, jobs.get)
    } finally sc.removeSparkListener(listener)
  }

  /** Row count and an order-free hash of every row. */
  private def rowHash(df: DataFrame): (Long, BigDecimal) = {
    val r = df.select(xxhash64(df.columns.map(col).toSeq: _*).cast("decimal(38,0)").as("h"))
      .agg(count(lit(1)), sum(col("h"))).head()
    (r.getLong(0), BigDecimal(r.getDecimal(1)))
  }

  test("a repeat fixture read launches no job and matches an inferred read") {
    for (t <- fixtures) {
      Tables.table(spark, sf001, t)
      val (df, jobs) = jobsDuring(Tables.table(spark, sf001, t))
      assert(jobs == 0, s"$t: a memoized read launched $jobs job(s)")
      val inferred = spark.read.parquet(s"$sf001/$t.parquet")
      assert(df.schema == inferred.schema, s"$t: schema differs from an inferred read")
      assert(rowHash(df) == rowHash(inferred), s"$t: rows differ from an inferred read")
    }
    val (_, eventJobs) = jobsDuring(Tables.events(spark, sf001))
    assert(eventJobs == 0)
  }

  test("a fixture rewritten under the same path is inferred again") {
    val dir = java.nio.file.Files.createTempDirectory("tables-memo").toString
    val path = s"$dir/t.parquet"
    Seq((1L, "a"), (2L, "b")).toDF("id", "v").write.parquet(path)
    assert(Tables.table(spark, dir, "t").columns.toSeq == Seq("id", "v"))
    assert(jobsDuring(Tables.table(spark, dir, "t"))._2 == 0)

    Seq((1.5, true)).toDF("x", "y").write.mode("overwrite").parquet(path)
    val (back, jobs) = jobsDuring(Tables.table(spark, dir, "t"))
    assert(jobs > 0, "a rewritten fixture must be inferred, not served from the memo")
    assert(back.columns.toSeq == Seq("x", "y"))
    assert(back.as[(Double, Boolean)].collect().toSeq == Seq((1.5, true)))
  }

  test("a changed inference setting is inferred again") {
    // events.ts is an unadjusted (local-time) timestamp: TIMESTAMP_NTZ when
    // inferTimestampNTZ is on, TIMESTAMP when it is off
    val ntz = "spark.sql.parquet.inferTimestampNTZ.enabled"
    val s = spark.newSession()
    s.conf.set(ntz, "true")
    assert(Tables.table(s, sf001, "events").schema("ts").dataType == TimestampNTZType)
    assert(jobsDuring(Tables.table(s, sf001, "events"))._2 == 0)

    s.conf.set(ntz, "false")
    val (back, jobs) = jobsDuring(Tables.table(s, sf001, "events"))
    assert(jobs > 0, "a changed setting must be inferred, not served from the memo")
    assert(back.schema == s.read.parquet(s"$sf001/events.parquet").schema)
    assert(back.schema("ts").dataType == TimestampType)
  }

  test("a new session starts with an empty memo") {
    Tables.table(spark, sf001, "nation")
    assert(jobsDuring(Tables.table(spark, sf001, "nation"))._2 == 0)
    val fresh: SparkSession = spark.newSession()
    val (df, jobs) = jobsDuring(Tables.table(fresh, sf001, "nation"))
    assert(jobs > 0, "a new session must infer the schema itself")
    assert(df.count() == 25)
  }
}
