package graft.perfbench

import scala.collection.mutable

import org.apache.spark.Success
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed boundary call. Times are nanoseconds from the run's origin;
  * `parent` is the id of the enclosing span (-1 at the top).
  */
final case class Span(id: Int, name: String, parent: Int, runId: String,
                      start: Long, end: Long, ok: Boolean)

/** Spans around every boundary call the harness makes. Spans are kept in
  * memory and written out when the run ends; recording one costs two
  * `nanoTime` reads, so the untraced run records them too (they are its
  * latency samples).
  */
final class Spans(val runId: String) {
  private val origin = System.nanoTime()
  private val done = mutable.ArrayBuffer.empty[Span]
  private val open = mutable.Stack.empty[(Int, String)]
  private var nextId = 0

  /** Tracing hooks: `enter` gets the span name before the body runs;
    * `exit` runs when the body returns and gets the name of the span that
    * is innermost again (the traced run drains the listener bus there, so
    * the span's events are charged to it).
    */
  var enter: String => Unit = _ => ()
  var exit: String => Unit = _ => ()

  def apply[T](name: String)(body: => T): T = {
    val id = nextId
    nextId += 1
    val parent = open.headOption.map(_._1).getOrElse(-1)
    open.push(id -> name)
    enter(name)
    val t0 = System.nanoTime() - origin
    var ok = false
    try { val r = body; ok = true; r }
    finally {
      open.pop()
      exit(open.headOption.map(_._2).getOrElse("idle"))
      done += Span(id, name, parent, runId, t0, System.nanoTime() - origin, ok)
    }
  }

  def all: Seq[Span] = done.sortBy(_.id).toSeq

  /** Span time minus the part of it that child spans cover. */
  def selfSec(s: Span): Double = {
    val kids = done.filter(_.parent == s.id).map(k => (k.start, k.end)).sortBy(_._1)
    var covered = 0L
    var cursor = s.start
    for ((a, b) <- kids) {
      val lo = math.max(a, cursor)
      if (b > lo) { covered += b - lo; cursor = b }
    }
    (s.end - s.start - covered) / 1e9
  }
}

/** Work counted for one attribution group (a layer or a query family). */
final class GroupStats {
  var jobs = 0L
  var tasks = 0L
  var failedTasks = 0L
  var runMs = 0L
  var gcMs = 0L
  var inputBytes = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  var queries = 0L
  var planNs = 0L
  var execNs = 0L
  var worstSkew = 0.0

  def add(o: GroupStats): Unit = {
    jobs += o.jobs; tasks += o.tasks; failedTasks += o.failedTasks
    runMs += o.runMs; gcMs += o.gcMs; inputBytes += o.inputBytes
    shuffleWriteBytes += o.shuffleWriteBytes; spillBytes += o.spillBytes
    queries += o.queries; planNs += o.planNs; execNs += o.execNs
    worstSkew = math.max(worstSkew, o.worstSkew)
  }
}

/** Per-layer attribution from outside the program: a SparkListener and a
  * QueryExecutionListener charge every job, task and query execution to
  * the group named by the innermost open span. The harness drains the
  * listener bus after each call, so no event of one call lands on the next.
  */
final class LayerListener extends SparkListener with QueryExecutionListener {
  @volatile var group: String = "idle"
  private val groups = mutable.LinkedHashMap.empty[String, GroupStats]
  private val stageTasks = mutable.Map.empty[(Int, Int), mutable.ArrayBuffer[Long]]
  private val stageGroup = mutable.Map.empty[(Int, Int), String]
  private val blockMem = mutable.Map.empty[String, Long]
  private var cacheBytes = 0L
  var cachePeakBytes = 0L
  var droppedBlocks = 0L
  /** Physical operator name -> summed SQL-metric time (ns). */
  val opNs: mutable.Map[String, Long] = mutable.Map.empty[String, Long].withDefaultValue(0L)

  private def g: GroupStats = groups.getOrElseUpdate(group, new GroupStats)

  def stats: Map[String, GroupStats] = synchronized(groups.toMap)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized { g.jobs += 1 }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    stageGroup((e.stageInfo.stageId, e.stageInfo.attemptNumber())) = group
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val s = g
    s.tasks += 1
    if (e.reason != Success) s.failedTasks += 1
    stageTasks.getOrElseUpdate((e.stageId, e.stageAttemptId),
      mutable.ArrayBuffer.empty[Long]) += e.taskInfo.duration
    val m = e.taskMetrics
    if (m != null) {
      s.runMs += m.executorRunTime
      s.gcMs += m.jvmGCTime
      s.inputBytes += m.inputMetrics.bytesRead
      s.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      s.spillBytes += m.diskBytesSpilled
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val key = (e.stageInfo.stageId, e.stageInfo.attemptNumber())
    for (ds <- stageTasks.remove(key) if ds.size >= 4) {
      val sorted = ds.sorted
      val med = math.max(sorted(sorted.size / 2), 1L)
      val skew = sorted.last.toDouble / med
      val owner = groups.getOrElseUpdate(stageGroup.getOrElse(key, group), new GroupStats)
      owner.worstSkew = math.max(owner.worstSkew, skew)
    }
    stageGroup.remove(key)
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val info = e.blockUpdatedInfo
    if (info.blockId.isRDD) {
      val id = info.blockId.name
      val before = blockMem.getOrElse(id, 0L)
      val now = if (info.storageLevel.isValid) info.memSize else 0L
      // A block that leaves memory but stays on disk was evicted, not
      // unpersisted (unpersisting removes it from both tiers).
      if (before > 0 && now == 0 && info.diskSize > 0) droppedBlocks += 1
      cacheBytes += now - before
      if (now > 0) blockMem(id) = now else blockMem.remove(id)
      cachePeakBytes = math.max(cachePeakBytes, cacheBytes)
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    synchronized {
      val s = g
      s.queries += 1
      s.execNs += durationNs
      val phases = qe.tracker.phases
      s.planNs += Seq("analysis", "optimization", "planning")
        .flatMap(phases.get).map(_.durationMs * 1000000L).sum
      PlanWalk.foreach(qe.executedPlan) { node =>
        val ns = node.metrics.values.collect {
          case m if m.metricType == "nsTiming" => m.value
          case m if m.metricType == "timing" => m.value * 1000000L
        }.sum
        // Whole-stage codegen nodes time the whole stage around the
        // operators fused into them; charge only the operators' own timers.
        if (ns > 0 && !node.isInstanceOf[WholeStageCodegenExec]) opNs(node.nodeName) += ns
      }
    }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    synchronized { g.queries += 1 }
}

/** Walks a physical plan into AQE query stages and reused exchanges. */
object PlanWalk extends AdaptiveSparkPlanHelper

object Tracing {
  /** Installs the listeners on `spark` and wires them to `spans`. */
  def attach(spark: SparkSession, spans: Spans): LayerListener = {
    val l = new LayerListener
    spark.sparkContext.addSparkListener(l)
    spark.listenerManager.register(l)
    spans.enter = name => l.group = name
    spans.exit = name => { drain(spark); l.group = name }
    l
  }

  def detach(spark: SparkSession, spans: Spans, l: LayerListener): LayerListener = {
    drain(spark)
    spark.sparkContext.removeSparkListener(l)
    spark.listenerManager.unregister(l)
    spans.enter = _ => ()
    spans.exit = _ => ()
    l
  }

  def drain(spark: SparkSession): Unit =
    org.apache.spark.sql.GraftBridge.drainListenerBus(spark.sparkContext)
}

/** Counters of every traced pass, merged as each pass's listener detaches. */
final class TraceTotals {
  private val merged = mutable.LinkedHashMap.empty[String, GroupStats]
  private var cachePeak = 0L
  private var dropped = 0L
  private val opNs = mutable.Map.empty[String, Long].withDefaultValue(0L)

  def absorb(l: LayerListener): Unit = {
    for ((k, s) <- l.stats) merged.getOrElseUpdate(k, new GroupStats).add(s)
    cachePeak = math.max(cachePeak, l.cachePeakBytes)
    dropped += l.droppedBlocks
    for ((k, v) <- l.opNs) opNs(k) += v
  }

  def record: Map[String, Any] = Map(
    "groups" -> merged.map { case (k, s) =>
      k -> Map("jobs" -> s.jobs, "tasks" -> s.tasks, "failed_tasks" -> s.failedTasks,
        "run_s" -> s.runMs / 1e3, "gc_s" -> s.gcMs / 1e3,
        "input_mb" -> s.inputBytes / 1048576.0,
        "shuffle_write_mb" -> s.shuffleWriteBytes / 1048576.0,
        "spill_mb" -> s.spillBytes / 1048576.0, "queries" -> s.queries,
        "plan_s" -> s.planNs / 1e9, "exec_s" -> s.execNs / 1e9,
        "worst_skew" -> s.worstSkew)
    }.toMap,
    "cache_peak_mb" -> cachePeak / 1048576.0,
    "cache_dropped_blocks" -> dropped,
    "top_ops" -> opNs.toSeq.sortBy(-_._2).take(3).map { case (k, v) => Map("op" -> k, "s" -> v / 1e9) })
}
