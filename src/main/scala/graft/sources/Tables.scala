package graft.sources

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Fixture-table loaders (SURVEY §2.1 S3: parquet scans).
  *
  * All loads are plain `spark.read.parquet` so Catalyst retains full
  * pushdown/pruning freedom — callers `.select`/`.filter` and the parquet
  * scan shows `PushedFilters`/narrowed `ReadSchema`.
  *
  * Schema memo: inferring a parquet schema runs a one-task Spark job
  * (a warm read at sf0.1 on 4 cores: ~65 ms, against ~12 ms with the
  * schema given), so [[table]] resolves each fixture's schema once per
  * session. An entry is keyed on the path, the file listing under it
  * (name, length and modification time of every file) and the session's
  * parquet schema-inference settings ([[InferenceConfs]]). A hit reads with
  * `spark.read.schema(s).parquet(path)`: a fresh relation with fresh
  * expression ids and the same plan, and no job. A rewritten file, or a
  * changed setting, changes the key, so the next read infers again and a
  * stale schema is never served. Sessions are weak keys: a new session
  * starts empty and a stopped one leaks nothing.
  */
object Tables {

  /** Session settings that change what parquet schema inference returns. */
  private val InferenceConfs = Seq(
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.mergeSchema",
    "spark.sql.caseSensitive")

  private final case class SchemaKey(path: String, listing: Seq[(String, Long, Long)],
                                     confs: Seq[Option[String]])

  private val schemaMemo =
    java.util.Collections.synchronizedMap(
      new java.util.WeakHashMap[SparkSession, java.util.Map[SchemaKey, StructType]]())

  /** (path, length, modification time) of every file under `path`, or of
    * `path` itself when it is a file; empty when it does not exist.
    */
  private def listing(spark: SparkSession, path: String): Seq[(String, Long, Long)] = {
    val root = new Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // plain statuses, not `listFiles`: a located status reads each file's
    // permissions, which the local file system does by running a process
    def files(st: FileStatus): Seq[FileStatus] =
      if (st.isDirectory) fs.listStatus(st.getPath).toSeq.flatMap(files) else Seq(st)
    try files(fs.getFileStatus(root))
      .map(f => (f.getPath.toString, f.getLen, f.getModificationTime)).sorted
    catch { case _: java.io.FileNotFoundException => Nil }
  }

  def table(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    val path = s"$sfDir/$name.parquet"
    val key = SchemaKey(path, listing(spark, path), InferenceConfs.map(spark.conf.getOption))
    val memo = schemaMemo.computeIfAbsent(spark,
      _ => new java.util.concurrent.ConcurrentHashMap[SchemaKey, StructType]())
    Option(memo.get(key)) match {
      case Some(schema) => spark.read.schema(schema).parquet(path)
      case None =>
        val df = spark.read.parquet(path)
        memo.put(key, df.schema)
        df
    }
  }

  def region(spark: SparkSession, sfDir: String): DataFrame   = table(spark, sfDir, "region")
  def nation(spark: SparkSession, sfDir: String): DataFrame   = table(spark, sfDir, "nation")
  def customer(spark: SparkSession, sfDir: String): DataFrame = table(spark, sfDir, "customer")
  def supplier(spark: SparkSession, sfDir: String): DataFrame = table(spark, sfDir, "supplier")
  def part(spark: SparkSession, sfDir: String): DataFrame     = table(spark, sfDir, "part")
  def orders(spark: SparkSession, sfDir: String): DataFrame   = table(spark, sfDir, "orders")
  def lineitem(spark: SparkSession, sfDir: String): DataFrame = table(spark, sfDir, "lineitem")
  def documents(spark: SparkSession, sfDir: String): DataFrame = table(spark, sfDir, "documents")
  def embeddings(spark: SparkSession, sfDir: String): DataFrame = table(spark, sfDir, "embeddings")

  /** `events.ts` is TIMESTAMP(MICROS, isAdjustedToUTC=false) in the current
    * fixtures — already a timestamp on read (the `case _` branch). The
    * LongType branch handles legacy nanos-long fixtures (read as raw longs
    * under `spark.sql.legacy.parquet.nanosAsLong=true`) by truncating to
    * microseconds (floor division — matches DuckDB's
    * `CAST(ts_ns AS TIMESTAMP)` truncation in the oracle SQL).
    */
  def events(spark: SparkSession, sfDir: String): DataFrame = {
    val raw = table(spark, sfDir, "events")
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        // integer division — double division on int64 nanos loses precision
        raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case _ => raw // already a timestamp (micro/milli precision)
    }
  }

  /** CSV source with header + schema inference (SURVEY §2.1 S1 —
    * reference: spark/bronze/feeder_csv.py:95-100). Explicit schema
    * overload for production paths: inference costs an extra scan and is
    * sample-dependent — at 100 TB always pass the schema.
    */
  def csv(spark: SparkSession, path: String, schema: Option[StructType] = None): DataFrame = {
    val r = spark.read.option("header", "true")
    schema match {
      case Some(s) => r.schema(s).csv(path)
      case None    => r.option("inferSchema", "true").csv(path)
    }
  }

  /** JSON-lines source — the de-facto interchange format for LLM training
    * corpora (one JSON document per line, splittable, append-friendly).
    * Explicit schema for production paths (inference scans the data and is
    * sample-dependent — at 100 TB always pass the schema); inference
    * overload for exploration.
    */
  def jsonl(spark: SparkSession, path: String, schema: Option[StructType] = None): DataFrame =
    schema match {
      case Some(s) => spark.read.schema(s).json(path)
      case None    => spark.read.json(path)
    }

  /** ORC source — the second columnar format the engine round-trips
    * (Spark ships the ORC reader/writer natively). Same pushdown/pruning
    * properties as parquet: predicates and column selection reach the
    * stripe reader, so a narrow projection never pays for unread columns.
    */
  def orc(spark: SparkSession, path: String): DataFrame =
    spark.read.orc(path)

  /** JDBC source (SURVEY §2.1 S2 — reference: spark/bronze/feeder_postgres.py:68-77).
    * `partitionColumn`/bounds enable parallel reads; a single-connection JDBC
    * scan is a driver-side bottleneck at scale.
    */
  def jdbc(spark: SparkSession, url: String, dbtable: String,
           props: Map[String, String] = Map.empty): DataFrame = {
    val r = spark.read.format("jdbc").option("url", url).option("dbtable", dbtable)
    props.foldLeft(r) { case (acc, (k, v)) => acc.option(k, v) }.load()
  }

  // Memoized per (session, dir) so SQL-surface queries (q107/q126) that
  // call registerAll defensively don't pay catalog work inside a timed
  // bench rep (round-7 ADVICE: q126's measured time included
  // re-registering every view, skewing the q62-vs-q126 comparison the
  // query exists to make). Weak keys: stopped test sessions must not leak.
  private val registeredDir =
    java.util.Collections.synchronizedMap(
      new java.util.WeakHashMap[SparkSession, String]())

  /** Register all fixture tables as temp views for `spark.sql` use.
    * Idempotent per (session, dir): a repeat call with the same dir is a
    * no-op; a different dir re-registers.
    */
  def registerAll(spark: SparkSession, sfDir: String): Unit = {
    if (sfDir == registeredDir.get(spark)) return
    Seq("region", "nation", "customer", "supplier", "part", "orders",
        "lineitem", "documents", "embeddings").foreach { t =>
      table(spark, sfDir, t).createOrReplaceTempView(t)
    }
    events(spark, sfDir).createOrReplaceTempView("events")
    registeredDir.put(spark, sfDir)
  }
}
