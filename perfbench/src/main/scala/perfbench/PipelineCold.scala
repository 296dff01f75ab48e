package perfbench

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import graft.{CacheRegistry, FixtureGen, SparkEntry}

/**
 * `pipeline_cold`: the heavy LLM-data compositions, each run cold. Set-up
 * scales the seeded base fixture 5x into `cores` splits with
 * [[graft.FixtureGen]]. Every pass runs all ops in the plan's seeded order;
 * before each op the engine's caches are released and the op reads the
 * fixture through a fresh directory name, so no memoized relation or
 * prebuilt artifact of an earlier op or pass is reused. Each op writes its
 * output, which the runner checks against the op's DuckDB oracle.
 */
object PipelineCold {

  /** Op -> the operator module that owns its kernel. */
  val Module = Map(
    "q_canonical_priority" -> "Clustering",
    "q_containment" -> "Dedup",
    "q_bm25_batch" -> "TermStats",
    "q_bpe_encode" -> "Bpe",
    "q_curation" -> "Curation")

  def run(run: Run): Unit = {
    val base = run.plan.get("base").asText
    val fixture = s"${run.work}/fixture5x"
    val passes = run.plan.get("passes").elements.asScala
      .map(_.elements.asScala.map(_.asText).toIndexedSeq).toIndexedSeq
    // FixtureGen starts, uses and stops its own session
    run.setups(FixtureGen.main(Array(base, fixture, run.plan.get("copies").asText, run.cores.toString)))
    run.startSession()
    run.record("oracle_sql") = Module.keys.map(q => q -> SparkEntry.oracleSql(q)).toMap
    run.record("fixture") = fixture
    val aliases = Files.createDirectories(Paths.get(run.work, "alias"))
    val out = s"${run.work}/out"
    var pass = 0
    var releaseMs = Seq.empty[Double]
    run.startLoop()
    // a traced run traces every other op, the other half in the next pass,
    // so it needs two passes
    val ops = Module.keys.toIndexedSeq.sorted
    while (pass < passes.length && (run.timeLeft || (run.traceMode && pass < 2))) {
      passes(pass).zipWithIndex.foreach { case (q, i) =>
        val traced = run.traceMode && (pass + ops.indexOf(q)) % 2 == 1
        val t0 = System.nanoTime()
        CacheRegistry.releaseAll()
        releaseMs :+= (System.nanoTime() - t0) / 1e6
        val dir = Files.createSymbolicLink(aliases.resolve(s"p${pass}_$i"), Paths.get(fixture)).toString
        val module = Module(q)
        run.op(q, traced, s"p$pass/$q") {
          val df = run.trace.span(s"operators.$module.construct")(SparkEntry.queries(q)(run.spark, dir))
          run.trace.span("spark.execute")(
            run.trace.plan(df).write.mode("overwrite").parquet(s"$out/p$pass/$q"))
        }
        run.checkpoint(force = true)
      }
      pass += 1
    }
    run.phase("loop")
    run.record("passes") = pass
    run.record("release_ms") = releaseMs
    run.record("out") = out
  }
}
