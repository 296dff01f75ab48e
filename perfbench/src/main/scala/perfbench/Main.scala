package perfbench

import java.io.File

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.{Row, SparkSession}

import graft.{CacheRegistry, EngineSession}

/** One timed client operation of the loop. */
final case class Op(kind: String, ms: Double, steal: Double, cpuMs: Double, traced: Boolean,
                    error: Option[String] = None, id: String = "",
                    layers: Map[String, Double] = Map.empty)

/**
 * State shared by the three workloads: the plan the runner generated from
 * the seed, the session, the trace, the timed loop and the record it
 * writes. One process, one client thread.
 */
final class Run(val plan: JsonNode, val seconds: Double, val traceMode: Boolean,
                val work: String, val cores: Int) {
  val trace = new Trace(cores)
  var spark: SparkSession = _
  val ops = mutable.ArrayBuffer.empty[Op]
  val setupS = mutable.ArrayBuffer.empty[Double]
  val setupSteal = mutable.ArrayBuffer.empty[Double]
  val heapMb = mutable.ArrayBuffer.empty[Double]
  val record = mutable.LinkedHashMap.empty[String, Any]

  /** A new local session, stopping the current one if there is one. */
  def startSession(): SparkSession = {
    if (spark != null) { CacheRegistry.releaseAll(); spark.stop() }
    spark = EngineSession.builder(s"local[$cores]", cores.toString)
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    trace.attach(spark)
    spark
  }

  /** Time `setup` three times and keep each duration (the first one also
    * pays for the cold JVM; each starts its own session); the workload
    * state of the last repetition is the one the loop uses. Operations run
    * during set-up are not kept. */
  def setups[S](setup: => S): S = {
    var s: Option[S] = None
    (1 to 3).foreach { _ =>
      val ticks = Trace.cpuTicks()
      val t0 = System.nanoTime()
      s = Some(setup)
      setupS += (System.nanoTime() - t0) / 1e9
      setupSteal += Trace.stealShare(ticks, Trace.cpuTicks())
    }
    ops.clear()
    phase("setup")
    s.get
  }

  /** One client operation: timed from the call to the result being in the
    * client's hands, as a root span when traced. Failures are recorded,
    * never thrown, so the loop goes on. */
  def op[T](kind: String, traced: Boolean, id: String = "")(body: => T): Option[T] = {
    trace.enabled = traced
    val gc0 = Trace.gcMs
    val cpu0 = Trace.threadCpuNs + trace.taskCpuNs
    val ticks = Trace.cpuTicks()
    val t0 = System.nanoTime()
    val res = try Right(trace.span(s"op:$kind")(body)) catch { case e: Throwable => Left(e) }
    val ms = (System.nanoTime() - t0) / 1e6
    val steal = Trace.stealShare(ticks, Trace.cpuTicks())
    trace.drain()
    val cpuMs = (Trace.threadCpuNs + trace.taskCpuNs - cpu0) / 1e6
    val layers =
      if (traced) trace.rootLayers(Map(
        "jvm.gc_ms" -> (Trace.gcMs - gc0).toDouble,
        "jvm.heap_after_gc_mb" -> Trace.heapAfterGcMb,
        "cache.tracked_handles" -> CacheRegistry.trackedCount.toDouble))
      else Map.empty[String, Double]
    trace.enabled = false
    ops += Op(kind, ms, steal, cpuMs, traced, res.left.toOption.map(e => s"${e.getClass.getSimpleName}: ${e.getMessage}".take(300)), id, layers)
    res.toOption
  }

  private val t0 = System.nanoTime()
  private var lastCheckpoint = 0.0
  var loopStart = 0.0

  def elapsedS: Double = (System.nanoTime() - t0) / 1e9
  def startLoop(): Unit = { phase("warm"); checkpoint(force = true); loopStart = elapsedS }

  /** Wall time since the JVM's harness started, at the end of each phase. */
  val phases = mutable.LinkedHashMap.empty[String, Double]
  def phase(name: String): Unit = phases(name) = elapsedS
  def timeLeft: Boolean = elapsedS - loopStart < seconds

  /** Live-heap sample (a full collection) every two seconds of loop time.
    * Runs between operations, so no operation's time includes it. */
  def checkpoint(force: Boolean = false): Unit =
    if (force || elapsedS - lastCheckpoint >= 2.0) {
      heapMb += Trace.liveHeapMb()
      lastCheckpoint = elapsedS
    }

  /** Collect a frame as the client would, planning first so the trace can
    * split planning from execution. */
  def collect(df: org.apache.spark.sql.DataFrame): Array[Row] =
    trace.span("spark.execute")(trace.plan(df).collect())
}

/** Benchmark harness entry point; `perfbench/run.py` launches it.
  *
  *   Main --workload serve|pipeline_cold|maintain --plan plan.json
  *        --out result.json --work dir --seconds s --trace 0|1 --cores n
  */
object Main {
  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val mapper = new ObjectMapper()
    val run = new Run(mapper.readTree(new File(a("plan"))), a("seconds").toDouble,
      a("trace") == "1", a("work"), a("cores").toInt)
    a("workload") match {
      case "serve" => Serve.run(run)
      case "pipeline_cold" => PipelineCold.run(run)
      case "maintain" => Maintain.run(run)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    run.phase("end")
    val rt = Runtime.getRuntime
    run.record ++= Seq(
      "phases_s" -> run.phases,
      "setup_s" -> run.setupS.toSeq,
      "setup_steal" -> run.setupSteal.toSeq,
      "heap_mb" -> run.heapMb.toSeq,
      "ops" -> run.ops.toSeq.map(o => Map("kind" -> o.kind, "ms" -> o.ms, "steal" -> o.steal, "cpu_ms" -> o.cpuMs,
        "traced" -> o.traced, "error" -> o.error.orNull, "id" -> o.id,
        "layers" -> o.layers)),
      "jvm" -> Map("max_heap_mb" -> rt.maxMemory / 1048576.0,
        "jdk" -> System.getProperty("java.version"),
        "spark" -> org.apache.spark.SPARK_VERSION,
        "cores" -> run.cores))
    if (run.spark != null) { CacheRegistry.releaseAll(); run.spark.stop() }
    mapper.writeValue(new File(a("out")), Json.plain(run.record))
  }
}

object Json {
  /** Scala values -> Java collections Jackson can write; a Spark row
    * becomes an array of its cells, timestamps epoch microseconds. */
  def plain(v: Any): AnyRef = v match {
    case null | None => null
    case Some(x) => plain(x)
    case m: scala.collection.Map[_, _] =>
      val out = new java.util.LinkedHashMap[String, AnyRef]()
      m.foreach { case (k, x) => out.put(k.toString, plain(x)) }
      out
    case r: Row => plain(r.toSeq)
    case s: Iterable[_] => s.map(plain).toSeq.asJava
    case s: Array[_] => s.toSeq.map(plain).asJava
    case t: java.sql.Timestamp =>
      Long.box(Math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000)
    case t: java.time.Instant => Long.box(t.getEpochSecond * 1000000L + t.getNano / 1000)
    case f: Float => Double.box(f.toDouble)
    case d: java.math.BigDecimal => d.toPlainString
    case x: AnyRef => x
    case x => x.asInstanceOf[AnyRef]
  }

  def floats(n: JsonNode): Array[Float] = n.elements.asScala.map(_.asDouble.toFloat).toArray
  def strings(n: JsonNode): Seq[String] = n.elements.asScala.map(_.asText).toSeq
  def longs(n: JsonNode): Seq[Long] = n.elements.asScala.map(_.asLong).toSeq
}
