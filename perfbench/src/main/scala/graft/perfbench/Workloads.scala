package graft.perfbench

import java.io.File

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.SparkEntry
import graft.ops.Serving
import graft.pipeline.{Bronze, Gold, Medallion, Silver}
import graft.queries.MedallionQueries

/** One benchmark workload: a fixed list of boundary calls that one closed-
  * loop client issues in a seed-permuted order, one pass after another.
  */
trait Workload {
  /** Untimed per-run preparation (inputs derived from the seed). */
  def prepare(spark: SparkSession, seed: Long): Unit = ()

  /** One timed pass. Every boundary call runs inside a span of `spans`;
    * returns the rows the pass carried (0 when the rows are counted from
    * the checked outputs instead).
    */
  def pass(spark: SparkSession, spans: Spans, passNo: Int): Long

  /** Untimed pass before the timed ones, writing every output the
    * correctness check reads under `dir`. The medallion batch has none: its
    * first timed pass is cold, as a nightly batch in a fresh JVM is, and the
    * check reads the Gold tables its last pass wrote.
    */
  def writeOutputs(spark: SparkSession, dir: String): Unit = ()

  /** Extra facts for the record (output paths, byte counts). */
  def facts: Map[String, Any] = Map.empty
}

object Workloads {

  /** Drops what a call may have left cached, outside the timed span, so a
    * call's time does not depend on the one before it.
    */
  def sweep(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
  }

  /** Short registry queries whose cost is per-query planning and per-job
    * scheduling: projection, validation filter and metrics, distinct,
    * pagination, point lookup, range filter, detail fetch, media metadata,
    * observed metrics, a per-source document cap and a Welch t-test (r17
    * 8-core medians 0.09-0.49 s, no prebuilt state).
    */
  val registryFloor: Seq[String] = Seq(
    "q01", "q02", "q03", "q11", "q16", "q17", "q18", "q19", "q53", "q106",
    "q155", "q179")

  /** After the check pass the JIT is still settling: the next noop pass
    * runs ~20% slow on both registry workloads. One untimed noop pass
    * absorbs that.
    */
  val warmPasses = 1

  /** The heavy operator families, one query each: graph (triangle counts,
    * the lightest graph/CC query; persists its edge frames), substring
    * dedup and byte-pair-encoding training (iterative, eager checkpoints).
    * At sf0.1 on four cores they keep the executors ~20% busy: ~20 jobs a
    * query weigh as much as the kernels.
    */
  val operatorsHeavy: Seq[String] = Seq("q190", "q137", "q237")
}

/** Registry queries through the `noop` sink, read-only. Untimed noop
  * passes (`Workloads.warmPasses`) follow the check pass before timing
  * starts.
  */
final class RegistryWorkload(prefixes: Seq[String], sfDir: String, seed: Long)
    extends Workload {
  private val all = SparkEntry.queries
  val queries: Seq[(String, (SparkSession, String) => DataFrame)] = prefixes.map { p =>
    all.find(_._1.startsWith(p + "_"))
      .getOrElse(throw new IllegalArgumentException(s"no registry query $p"))
  }.sortBy(_._1)

  def pass(spark: SparkSession, spans: Spans, passNo: Int): Long = {
    val order = new scala.util.Random(seed * 1000003L + passNo).shuffle(queries)
    for ((name, fn) <- order) {
      try spans(name)(fn(spark, sfDir).write.mode("overwrite").format("noop").save())
      catch { case e: Exception => System.err.println(s"[perfbench] $name failed: $e") }
      Workloads.sweep(spark)
    }
    0L
  }

  /** Also warms the JIT and the file-listing caches, so the timed passes
    * measure the warm calls an interactive session serves.
    */
  override def writeOutputs(spark: SparkSession, dir: String): Unit = {
    for ((name, fn) <- queries) {
      try fn(spark, sfDir).write.mode("overwrite").parquet(s"$dir/$name")
      catch { case e: Exception => System.err.println(s"[perfbench] check $name failed: $e") }
      Workloads.sweep(spark)
    }
    for (i <- 1 to Workloads.warmPasses) pass(spark, new Spans("warmup"), -i)
  }

  override def facts: Map[String, Any] = Map(
    "queries" -> queries.map(_._1),
    "oracle_sql" -> queries.flatMap { case (n, _) => SparkEntry.oracleSql.get(n).map(n -> _) }.toMap)
}

/** The reference lakehouse batch, layered as it runs: CSV sources → Bronze
  * → four Silver tables → Gold profile and portfolio → catalog → serving
  * reads. Every layer hands off through its written parquet.
  */
final class MedallionWorkload(sfDir: String, work: String, buildKey: String) extends Workload {
  private val lake = s"$work/lake"
  private val bronze = s"$lake/bronze"
  private val silver = s"$lake/silver"
  private val gold = s"$lake/gold"
  private val ingestDate = "2026-01-01"
  private val date = Medallion.PartitionDate(2026, 1, 1)
  private var csvRoot = ""
  private var csvBytes = 0L
  private var lookupIds = Seq.empty[Long]
  private val Chunks = 16
  private val FilesPerTable = 4

  private val sources: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
    "application_train" -> MedallionQueries.train,
    "application_test" -> MedallionQueries.test,
    "bureau" -> MedallionQueries.bureau,
    "bureau_balance" -> MedallionQueries.bureauBalance,
    "installments_payments" -> MedallionQueries.installments,
    "previous_application" -> MedallionQueries.previousApps)
  private var schemas = Map.empty[String, org.apache.spark.sql.types.StructType]

  /** Writes the six sources as CSV, then lays them out for this seed.
    *
    * The sources are written once per fixture as 16 hash-split chunk files
    * per table. Each run then assembles every table's four files from its
    * chunks: the seed picks which chunks go to which file and in what
    * order, so row order and file split vary with the seed while the rows
    * and the file count do not (a varying file count would change the scan
    * parallelism, and so the time, with the seed). The program sees only
    * the files; the Gold outputs must not depend on the seed. The chunks
    * are keyed on `buildKey` too, so a change to the source frames
    * re-writes them; the lake starts empty in every run.
    */
  override def prepare(spark: SparkSession, seed: Long): Unit = {
    val baseName = s"${new File(sfDir).getName}-$buildKey"
    for (old <- Option(new File(s"$work/csv-base").listFiles()).toSeq.flatten
         if !old.getName.endsWith(s"-$buildKey")) Dirs.delete(old)
    val base = s"$work/csv-base/$baseName"
    val done = new File(s"$base/_PREPARED")
    for ((t, frame) <- sources) {
      val df = frame(spark, sfDir)
      schemas += t -> df.schema
      if (!done.exists())
        df.repartition(Chunks, xxhash64(df.columns.map(col).toSeq: _*))
          .write.mode("overwrite").option("header", "true").csv(s"$base/$t")
    }
    done.createNewFile()

    Dirs.delete(new File(lake))
    csvRoot = s"$work/csv"
    Dirs.delete(new File(csvRoot))
    val rng = new scala.util.Random(seed)
    for ((t, _) <- sources) {
      val chunks = rng.shuffle(Option(new File(s"$base/$t").listFiles()).toSeq.flatten
        .filter(_.getName.endsWith(".csv")).sortBy(_.getName))
      val dir = new File(s"$csvRoot/$t")
      dir.mkdirs()
      for ((group, i) <- chunks.grouped(Chunks / FilesPerTable).zipWithIndex) {
        val out = new java.io.FileOutputStream(new File(dir, f"part-$i%05d.csv"))
        try group.zipWithIndex.foreach { case (c, j) =>
          val bytes = java.nio.file.Files.readAllBytes(c.toPath)
          // every chunk starts with the header line; keep only the first
          val from = if (j == 0) 0 else bytes.indexOf('\n'.toByte) + 1
          out.write(bytes, from, bytes.length - from)
        } finally out.close()
      }
    }
    csvBytes = Dirs.size(new File(csvRoot))
    lookupIds = Seq.fill(3)(1L + rng.nextInt(1000))
  }

  def pass(spark: SparkSession, spans: Spans, passNo: Int): Long = spans("medallion.pass") {
    val rows = sources.map { case (t, _) =>
      spans("sources.csv_ingest")(Bronze.ingestCsv(spark, s"$csvRoot/$t", bronze, t,
        ingestDate, "csv", Some(schemas(t))).rowsWritten)
    }.sum
    def b(t: String) = spans("medallion.readback")(
      Bronze.readIngestDate(spark, bronze, t, ingestDate))
    spans("silver.client_application")(Medallion.writePartitioned(
      Silver.clientApplication(b("application_train"), b("application_test")),
      silver, "client_application", date))
    spans("silver.bureau_summary")(Medallion.writePartitioned(
      Silver.bureauSummary(b("bureau"), b("bureau_balance")),
      silver, "bureau_summary", date))
    spans("silver.payment_behavior")(Medallion.writePartitioned(
      Silver.paymentBehavior(b("installments_payments")),
      silver, "payment_behavior", date))
    spans("silver.previous_applications")(Medallion.writePartitioned(
      Silver.previousApplications(b("previous_application"), Some(MedallionQueries.statuses)),
      silver, "previous_applications", date))
    def s(t: String) = spans("medallion.readback")(Medallion.readPartition(spark, silver, t, date))
    spans("gold.client_risk_profile")(Medallion.writePartitioned(
      Gold.clientRiskProfile(s("client_application"), s("bureau_summary"),
        s("payment_behavior"), s("previous_applications")),
      gold, "client_risk_profile", date))
    val profile = spans("medallion.readback")(
      Medallion.readPartition(spark, gold, "client_risk_profile", date))
    spans("gold.portfolio_risk")(Medallion.writePartitioned(
      Gold.portfolioRisk(profile), gold, "portfolio_risk", date))
    // The catalog tables point at the batch's partition: a table registered
    // over the partitioned root reads no rows (its catalog entry has no
    // partition columns).
    val part = s"year=${date.year}/month=${date.month}/day=${date.day}"
    spans("medallion.register") {
      Medallion.registerTable(spark, "gold", "client_risk_profile",
        s"$gold/client_risk_profile/$part")
      Medallion.registerTable(spark, "gold", "portfolio_risk", s"$gold/portfolio_risk/$part")
    }
    spans("serving") {
      val t = spark.table("gold.client_risk_profile")
      for (id <- lookupIds) {
        val n = Serving.pointLookup(t, "SK_ID_CURR", id).collect().length
        require(n <= 1, s"point lookup of client $id returned $n rows")
      }
      val page = Serving.paginate(t, Seq(col("SK_ID_CURR")), 100 * passNo, 20).collect()
      require(page.length == 20, s"page returned ${page.length} rows, expected 20")
    }
    rows
  }

  override def facts: Map[String, Any] = Map(
    "csv_bytes" -> csvBytes,
    "bronze_bytes" -> Dirs.size(new File(bronze)),
    "lake_bytes" -> Dirs.size(new File(lake)),
    "gold_profile" -> s"$gold/client_risk_profile",
    "gold_portfolio" -> s"$gold/portfolio_risk",
    "profile_sql" -> SparkEntry.oracleSql("q60_medallion_profile"),
    "portfolio_sql" -> SparkEntry.oracleSql("q61_medallion_portfolio"))
}

/** Directory sizes (data files only) and recursive deletes. */
object Dirs {
  def size(f: File): Long =
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.map(size).sum
    else if (f.getName.startsWith(".") || f.getName.startsWith("_")) 0L
    else f.length()

  def delete(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.foreach(delete)
    f.delete()
  }
}
