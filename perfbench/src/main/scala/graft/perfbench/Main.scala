package graft.perfbench

import scala.collection.mutable

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{avg, sum}

import graft.GraftSession
import graft.sources.Tables

/** The benchmark's JVM. Runs one workload as a closed loop with one
  * client for `--seconds`, whole passes at a time, and writes the raw
  * measurements (setup times, pass walls, spans, per-layer counters) as one
  * JSON record. `perfbench/run.py` launches it, checks the outputs and
  * derives the metrics.
  *
  * Usage: Main --workload W --seed N --seconds S --trace 0|1
  *             --fixture DIR --work DIR --record FILE --launch-ms EPOCH_MS
  *             --build-key KEY
  */
object Main {

  def main(argv: Array[String]): Unit = {
    val mainMs = System.currentTimeMillis()
    val args = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def arg(k: String) = args.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val workload = arg("workload")
    val seed = arg("seed").toLong
    val seconds = arg("seconds").toDouble
    val traced = arg("trace") == "1"
    val fixture = arg("fixture")
    val work = arg("work")
    val jvmStartS = (mainMs - arg("launch-ms").toLong) / 1e3

    // Set-up is what a caller pays before the first call: session, table
    // registration and a warm-up scan. It runs three times (the session is
    // stopped in between) and the median is reported, so one slow start
    // does not decide the metric; the first, cold one is kept as well.
    var spark: SparkSession = null
    var prepareS = 0.0
    val setupPhases = mutable.ArrayBuffer.empty[Seq[Double]]
    val wl = make(workload, fixture, work, seed, arg("build-key"))
    val setups = (1 to 3).map { i =>
      val t0 = System.nanoTime()
      spark = GraftSession.local()
      val t1 = System.nanoTime()
      Tables.registerAll(spark, fixture)
      val t2 = System.nanoTime()
      spark.sql("select count(*) from lineitem").collect()
      val s = (System.nanoTime() - t0) / 1e9
      setupPhases += Seq((t1 - t0) / 1e9, (t2 - t1) / 1e9, s - (t2 - t0) / 1e9)
      if (i == 1) {
        val p0 = System.nanoTime()
        wl.prepare(spark, seed)
        prepareS = (System.nanoTime() - p0) / 1e9
      }
      if (i < 3) spark.stop()
      s
    }
    val canary = hostCanary(spark)
    val outDir = s"$work/check/$workload"
    Dirs.delete(new java.io.File(outDir))
    val w0 = System.nanoTime()
    wl.writeOutputs(spark, outDir)
    val warmupS = (System.nanoTime() - w0) / 1e9

    val spans = new Spans(s"$workload-$seed-${if (traced) "traced" else "untraced"}")
    val passes = mutable.ArrayBuffer.empty[Map[String, Any]]
    var listener: LayerListener = null
    val totals = new TraceTotals
    var tracedWallS = 0.0
    val t0 = System.nanoTime()
    var n = 0
    // Closed loop: the next pass starts only when the previous returned.
    // The traced run alternates untraced and traced passes (the even ones
    // are traced) and makes at least three, so tracing overhead compares
    // passes that follow the first one (a cold one on medallion_sf1).
    while (n == 0 || (traced && n < 3) || (System.nanoTime() - t0) / 1e9 < seconds) {
      n += 1
      val tracedPass = traced && n % 2 == 0
      if (tracedPass) listener = Tracing.attach(spark, spans)
      val first = spans.all.size
      val p0 = System.nanoTime()
      val rows =
        try wl.pass(spark, spans, n)
        catch { case e: Exception => System.err.println(s"[perfbench] pass $n failed: $e"); -1L }
      val wall = (System.nanoTime() - p0) / 1e9
      if (tracedPass) tracedWallS += wall
      passes += Map("wall_s" -> wall, "rows" -> rows, "traced" -> tracedPass,
        "first_span" -> first, "end_span" -> spans.all.size)
      if (tracedPass) totals.absorb(Tracing.detach(spark, spans, listener))
    }
    val peakRssMb = vmHwmMb()
    val trivialJobS =
      if (traced) (1 to 5).map { _ =>
        val p0 = System.nanoTime()
        spark.sparkContext.parallelize(Seq(1), 1).count()
        (System.nanoTime() - p0) / 1e9
      }.sorted.apply(2)
      else 0.0

    val facts = wl.facts

    val rec = mutable.LinkedHashMap[String, Any](
      "workload" -> workload, "seed" -> seed, "traced" -> traced,
      "seconds" -> seconds, "run_id" -> spans.runId,
      "cpus" -> spark.sparkContext.defaultParallelism,
      "heap_mb" -> Runtime.getRuntime.maxMemory / 1048576,
      "spark_version" -> spark.version,
      "jvm_version" -> System.getProperty("java.vm.version"),
      "fixture" -> fixture,
      "host_canary_s" -> canary,
      "jvm_start_s" -> jvmStartS,
      "setup_runs_s" -> setups,
      "setup_phases_s" -> setupPhases,
      "prepare_s" -> prepareS,
      "warmup_s" -> warmupS,
      "peak_rss_mb" -> peakRssMb,
      "trivial_job_s" -> trivialJobS,
      "check_dir" -> outDir,
      "passes" -> passes,
      "spans" -> spans.all.map { s =>
        Map("id" -> s.id, "name" -> s.name, "parent" -> s.parent, "run_id" -> s.runId,
          "start_s" -> s.start / 1e9, "end_s" -> s.end / 1e9, "ok" -> s.ok,
          "self_s" -> spans.selfSec(s))
      },
      "facts" -> facts)
    if (traced) rec ++= totals.record + ("traced_wall_s" -> tracedWallS)
    new ObjectMapper().registerModule(DefaultScalaModule)
      .writeValue(new java.io.File(arg("record")), rec)
    spark.stop()
  }

  private def make(name: String, fixture: String, work: String, seed: Long,
                   buildKey: String): Workload =
    name match {
      case "medallion_sf1" => new MedallionWorkload(fixture, s"$work/medallion", buildKey)
      case "registry_floor" => new RegistryWorkload(Workloads.registryFloor, fixture, seed)
      case "operators_heavy" => new RegistryWorkload(Workloads.operatorsHeavy, fixture, seed)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

  /** The fixed-shape host canary of `graft.Bench`: a 4M-row, 4096-key
    * aggregation, four times; the median of the last three.
    */
  private def hostCanary(spark: SparkSession): Double = {
    val runs = (1 to 4).map { _ =>
      val t0 = System.nanoTime()
      spark.range(0L, 4000000L, 1L, 32)
        .selectExpr("id % 4096 as k", "id as v")
        .groupBy("k").agg(sum("v").as("s"), avg("v").as("a"))
        .write.mode("overwrite").format("noop").save()
      (System.nanoTime() - t0) / 1e9
    }
    runs.drop(1).sorted.apply(1)
  }

  /** Peak resident set of this process (`VmHWM`), in MB. */
  private def vmHwmMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)
    finally src.close()
  }
}

/** Runs each of `--workloads` (comma-separated) once through [[Main]] in one
  * JVM, so that a class-data-sharing archive dumped at this JVM's exit holds
  * the classes every workload loads. Takes Main's other arguments.
  */
object Train {
  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) => k -> v }.toMap
    val records = new java.io.File(s"${args("--work")}/records")
    records.mkdirs()
    for (w <- args("--workloads").split(","))
      Main.main(argv ++ Array("--workload", w, "--record", s"$records/train-$w.json"))
  }
}
