package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ShuffleExchangeLike}
import org.apache.spark.sql.util.QueryExecutionListener

/** Spark work counted for one span: jobs, stages and tasks it launched and
  * the task metrics of those tasks. Written by the listener thread. */
final class SparkCounts {
  var jobs, stages, tasks, singleTaskStages = 0L
  var schedDelayMs, runMs, cpuNs, gcMs = 0L
  var shuffleRead, shuffleWrite, spillMem, spillDisk = 0L
}

/**
 * Span recorder and Spark-listener attribution, kept entirely in the
 * benchmark: the harness opens a span around each call it makes into an
 * engine layer, and sets the span id as a Spark local property so every
 * job the call launches is counted against the span that launched it.
 * Spans stay in memory; [[rootLayers]] turns one finished root span into
 * per-layer self times and counts.
 *
 * When `enabled` is false, [[span]] just runs its body: the untraced and
 * traced code paths do the same engine work.
 */
final class Trace(cores: Int) {
  import Trace._

  final class Span(val id: Int, val parent: Int, val name: String) {
    var start, end = 0L
    def ms: Double = (end - start) / 1e6
  }

  var enabled = false
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Span] = Nil
  private var sc: org.apache.spark.SparkContext = _

  private val counts = new ConcurrentHashMap[Int, SparkCounts]()
  private val stageSpan = new ConcurrentHashMap[Int, Int]()
  private val executed = new ConcurrentLinkedQueue[QueryExecution]()
  @volatile var jobsTotal = 0L
  /** Executor CPU time of every task that has ended. */
  @volatile var taskCpuNs = 0L

  private def countsOf(span: Int) = counts.computeIfAbsent(span, _ => new SparkCounts)

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      jobsTotal += 1
      val sp = Option(e.properties).flatMap(p => Option(p.getProperty(Key)))
        .map(_.toInt).getOrElse(-1)
      countsOf(sp).jobs += 1
      e.stageIds.foreach(stageSpan.put(_, sp))
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val c = countsOf(stageSpan.getOrDefault(e.stageInfo.stageId, -1))
      c.stages += 1
      c.tasks += e.stageInfo.numTasks
      if (e.stageInfo.numTasks == 1) c.singleTaskStages += 1
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m != null) {
        taskCpuNs += m.executorCpuTime
        val c = countsOf(stageSpan.getOrDefault(e.stageId, -1))
        val info = e.taskInfo
        c.runMs += m.executorRunTime
        c.cpuNs += m.executorCpuTime
        c.gcMs += m.jvmGCTime
        c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        c.spillMem += m.memoryBytesSpilled
        c.spillDisk += m.diskBytesSpilled
        // the Spark UI's scheduler delay: task duration not spent running,
        // deserializing, serializing the result or fetching it
        c.schedDelayMs += math.max(0L, info.duration - m.executorRunTime -
          m.executorDeserializeTime - m.resultSerializationTime -
          (if (info.gettingResult) info.finishTime - info.gettingResultTime else 0L))
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    def onSuccess(f: String, qe: QueryExecution, d: Long): Unit =
      if (enabled) executed.add(qe)
    def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  /** Attach to a (new) session; spans and counts of earlier sessions stay. */
  def attach(spark: SparkSession): Unit = {
    sc = spark.sparkContext
    sc.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
  }

  def drain(): Unit = org.apache.spark.PerfbenchBus.drain(sc)

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val s = new Span(spans.size, stack.headOption.map(_.id).getOrElse(-1), name)
      spans += s
      stack = s :: stack
      sc.setLocalProperty(Key, s.id.toString)
      s.start = System.nanoTime()
      try body
      finally {
        s.end = System.nanoTime()
        stack = stack.tail
        sc.setLocalProperty(Key, stack.headOption.map(_.id.toString).orNull)
      }
    }

  /** Force Catalyst: analysis, the engine's extension rules, physical planning. */
  def plan(df: DataFrame): DataFrame = {
    span("catalyst.plan")(df.queryExecution.executedPlan)
    df
  }

  /** Per-layer values of the root span opened last, once its events are in.
    * Times are self times (the span minus its children), counts are the
    * Spark work attributed to the span or any span below it. */
  def rootLayers(extra: Map[String, Double]): Map[String, Double] = {
    drain()
    val root = spans.lastIndexWhere(_.parent == -1)
    val tree = spans.drop(root)
    val childMs = tree.groupBy(_.parent).map { case (p, cs) => p -> cs.map(_.ms).sum }
    val out = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    def sumIn(names: Span => Boolean)(f: SparkCounts => Double): Double =
      tree.filter(names).flatMap(s => Option(counts.get(s.id))).map(f).sum
    tree.drop(1).foreach { s =>
      val self = s.ms - childMs.getOrElse(s.id, 0.0)
      SelfTime.get(s.name).orElse(
        if (s.name.startsWith("operators.")) Some(s.name.stripSuffix(".construct") + ".construct_ms")
        else None
      ).foreach { m =>
        out(m) += (if (m.endsWith("_us")) self * 1000 else self)
      }
      if (s.name.startsWith("operators."))
        out(s.name.stripSuffix(".construct") + ".construct_jobs") +=
          Option(counts.get(s.id)).map(_.jobs.toDouble).getOrElse(0.0)
    }
    val all = (_: Span) => true
    out("spark.jobs") = sumIn(all)(_.jobs)
    out("spark.stages") = sumIn(all)(_.stages)
    out("spark.tasks") = sumIn(all)(_.tasks)
    if (out("spark.stages") > 0)
      out("spark.single_task_stage_ratio") = sumIn(all)(_.singleTaskStages) / out("spark.stages")
    out("spark.task_sched_delay_ms") = sumIn(all)(_.schedDelayMs)
    out("spark.executor_cpu_ms") = sumIn(all)(_.cpuNs / 1e6)
    out("spark.executor_offcpu_ms") = sumIn(all)(_.runMs) - out("spark.executor_cpu_ms")
    out("spark.gc_ms") = sumIn(all)(_.gcMs)
    out("spark.shuffle_read_bytes") = sumIn(all)(_.shuffleRead)
    out("spark.shuffle_write_bytes") = sumIn(all)(_.shuffleWrite)
    out("spark.spill_mem_bytes") = sumIn(all)(_.spillMem)
    out("spark.spill_disk_bytes") = sumIn(all)(_.spillDisk)
    val execWall = tree.filter(_.name == "spark.execute").map(_.ms).sum
    if (execWall > 0)
      out("spark.busy_ratio") = sumIn(_.name == "spark.execute")(_.runMs) / (execWall * cores)
    out("lifecycle.append_jobs") = sumIn(_.name == "lifecycle.append")(_.jobs)
    out("lifecycle.replay_jobs") = sumIn(_.name == "lifecycle.replay")(_.jobs)
    var qe = executed.poll()
    var exchanges = 0
    while (qe != null) { exchanges += Trace.exchanges(qe.executedPlan); qe = executed.poll() }
    out("catalyst.exchanges") = exchanges
    (out.toMap ++ extra)
  }
}

object Trace extends AdaptiveSparkPlanHelper {
  val Key = "perfbench.span"

  /** Span name -> per-layer self-time metric. */
  private val SelfTime = Map(
    "tables" -> "tables.load_ms",
    "tables.artifact" -> "tables.artifact_ms",
    "filters.compile" -> "filters.compile_us",
    "catalyst.plan" -> "catalyst.plan_ms",
    "spark.execute" -> "spark.exec_ms",
    "cache.release" -> "cache.release_ms")

  /** Exchange nodes in an executed plan, through AQE stages and subqueries. */
  def exchanges(p: SparkPlan): Int = collectWithSubqueries(p) {
    case e: ShuffleExchangeLike => e
    case e: BroadcastExchangeLike => e
  }.size

  private val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala.toSeq

  def gcMs: Long = gcBeans.map(_.getCollectionTime).filter(_ >= 0).sum

  /** (busy, stolen) CPU ticks of the whole machine, from /proc/stat: busy
    * is every non-idle state including steal, stolen is the time the host
    * ran something else while this machine's CPUs wanted to run. */
  def cpuTicks(): (Long, Long) = {
    val src = scala.io.Source.fromFile("/proc/stat")
    val v = try src.getLines().next().split("\\s+").drop(1).map(_.toLong) finally src.close()
    (v.sum - v(3) - v(4), v(7))
  }

  /** Share of the busy CPU time between two [[cpuTicks]] readings that the
    * host stole. */
  def stealShare(a: (Long, Long), b: (Long, Long)): Double =
    if (b._1 > a._1) (b._2 - a._2).toDouble / (b._1 - a._1) else 0.0

  private val threads = ManagementFactory.getThreadMXBean

  /** CPU time of the calling (client) thread. */
  def threadCpuNs: Long = threads.getCurrentThreadCpuTime

  /** Heap in use right after the most recent collection, in MB. */
  def heapAfterGcMb: Double = gcBeans.collect {
    case b: com.sun.management.GarbageCollectorMXBean if b.getLastGcInfo != null =>
      (b.getLastGcInfo.getEndTime,
        b.getLastGcInfo.getMemoryUsageAfterGc.asScala.values.map(_.getUsed).sum / 1048576.0)
  }.sortBy(_._1).lastOption.map(_._2).getOrElse(0.0)

  /** Full collection, then the live heap in MB. Spark frees some blocks
    * (broadcasts, shuffles, cached data) only after a collection has found
    * their handles unreachable, on its cleaner thread; the second collection
    * takes what that freed, so the figure does not depend on whether the
    * cleaner has run yet. */
  def liveHeapMb(): Double = {
    System.gc()
    Thread.sleep(100)
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  /** Local file system: (read ops, write ops, bytes written). */
  def fsStats(): (Long, Long, Long) = {
    val st = org.apache.hadoop.fs.FileSystem.getAllStatistics.asScala
      .filter(_.getScheme == "file")
    (CountingFs.reads.get, CountingFs.writes.get, st.map(_.getBytesWritten).sum)
  }
}
