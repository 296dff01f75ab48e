package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.JsonNode
import org.apache.spark.sql.DataFrame

import graft.Tables
import graft.operators.{Dedup, IndexLifecycle, Similarity, TermStats}

/**
 * `maintain`: writes beside reads on the serving artifacts. Set-up builds
 * the text index, the PQ index and the MinHash signatures over the base
 * split of the seeded documents and embeddings. The loop then takes the
 * batches in order: it appends each through the exactly-once APIs and
 * probes all three artifacts right after. When the clock stops, one
 * maintenance round runs on what the loop committed: a replay of the last
 * committed batch (it must return `false` and launch no job), a compaction
 * of the text index and a vacuum of every artifact. Then, also outside the
 * clock, each artifact is rebuilt from scratch over the same rows and the
 * last probes must return the same rows from both.
 */
object Maintain {

  final class Roots(val text: String, val pq: String, val sig: String,
                    val codebook: Array[Array[Long]]) {
    def all: Seq[String] = Seq(text, pq, sig)
  }

  private val RunId = "perfbench-maintain"

  def run(run: Run): Unit = {
    val dir = run.plan.get("dir").asText
    val batches = run.plan.get("batches").elements.asScala.toIndexedSeq
    var setupNo = 0
    val roots = run.setups {
      run.startSession()
      setupNo += 1
      build(run, dir, "base", s"${run.work}/artifacts$setupNo")
    }
    // the first batch warms the append and probe paths
    append(run, dir, roots, batches(0), traced = false)
    probe(run, dir, roots, batches(0), traced = false)
    run.ops.clear()
    run.startLoop()
    var b = 1
    // at least three batches, so the median batch is not one that a burst
    // of load on the shared host slowed down; a traced run, which traces
    // every other batch, also needs two for trace.overhead_pct
    while (b < batches.length - 1 && (run.timeLeft || b < 4)) {
      val traced = run.traceMode && b % 2 == 1
      append(run, dir, roots, batches(b), traced)
      probe(run, dir, roots, batches(b), traced)
      run.checkpoint()
      b += 1
    }
    run.phase("loop")
    run.checkpoint(force = true)
    // maintenance round, outside the clock; traced runs trace all of it
    val traced = run.traceMode
    replay(run, dir, roots, batches(b - 1), traced)
    lifecycle(run, "compact", "", traced, roots.text)(TermStats.compactTextIndexInPlace(run.spark, roots.text))
    lifecycle(run, "vacuum", "", traced, roots.all: _*)(roots.all.foreach(IndexLifecycle.vacuum(run.spark, _)))
    run.phase("maintenance")
    val (files, bytes) = walk(Paths.get(roots.text).getParent)
    run.record("batches_done") = b
    run.record("artifact_files") = files.size
    run.record("artifact_bytes") = bytes
    run.record("checks") = verify(run, dir, roots, batches(b - 1), b)
  }

  private def docs(run: Run, dir: String, name: String): DataFrame =
    run.trace.span("tables")(Tables(run.spark, dir, name))

  private def build(run: Run, dir: String, split: String, root: String): Roots = {
    val d = Tables(run.spark, dir, s"docs_$split")
    TermStats.buildTextIndex(d, "text", "doc_id", s"$root/text")
    val cb = Similarity.pqBuild(Tables(run.spark, dir, s"vecs_$split"), "embedding", "vec_id", s"$root/pq")
    Dedup.buildSignatures(d, "text", "doc_id", s"$root/sig")
    new Roots(s"$root/text", s"$root/pq", s"$root/sig", cb)
  }

  /** A lifecycle call as one operation; traced, it also records the local
    * file-system operations and the files it created and deleted under
    * the artifact roots. */
  private def lifecycle[T](run: Run, kind: String, id: String, traced: Boolean, roots: String*)(body: => T): Option[T] = {
    val before = if (traced) Some((Trace.fsStats(), roots.flatMap(r => walk(Paths.get(r))._1).toSet)) else None
    val span = kind match {
      case "replay" => "lifecycle.replay"
      case "compact" | "vacuum" => "lifecycle.maintain"
      case _ => "lifecycle.append"
    }
    val res = run.op(kind, traced, id)(run.trace.span(span)(body))
    before.foreach { case ((r0, w0, b0), files0) =>
      val (r1, w1, b1) = Trace.fsStats()
      val files1 = roots.flatMap(r => walk(Paths.get(r))._1).toSet
      val (allFiles, allBytes) = walk(Paths.get(roots.head).getParent)
      val o = run.ops.last
      run.ops(run.ops.length - 1) = o.copy(layers = o.layers ++ Map(
        "lifecycle.fs_read_ops" -> (r1 - r0).toDouble,
        "lifecycle.fs_write_ops" -> (w1 - w0).toDouble,
        "lifecycle.bytes_written" -> (b1 - b0).toDouble,
        "lifecycle.files_created" -> (files1 -- files0).size.toDouble,
        "lifecycle.files_deleted" -> (files0 -- files1).size.toDouble,
        "lifecycle.artifact_files" -> allFiles.size.toDouble,
        "lifecycle.artifact_bytes" -> allBytes.toDouble))
    }
    res
  }

  private def append(run: Run, dir: String, r: Roots, batch: JsonNode, traced: Boolean): Unit = {
    val id = batch.get("id").asLong
    val d = docs(run, dir, s"docs_b$id")
    val v = docs(run, dir, s"vecs_b$id")
    def expectCommit(ok: Boolean): Unit = require(ok, s"batch $id was not committed")
    lifecycle(run, "append_text", s"b$id/append_text", traced, r.text)(
      expectCommit(TermStats.appendTextIndexOnce(d, "text", "doc_id", r.text, RunId, id)))
    lifecycle(run, "append_pq", s"b$id/append_pq", traced, r.pq)(
      expectCommit(Similarity.appendPqIndexOnce(v, "embedding", "vec_id", r.pq, RunId, id)))
    lifecycle(run, "append_sig", s"b$id/append_sig", traced, r.sig)(
      expectCommit(Dedup.appendSignaturesOnce(d, "text", "doc_id", r.sig, RunId, id)))
  }

  /** Replaying a committed batch must be a no-op: `false`, and no job. */
  private def replay(run: Run, dir: String, r: Roots, batch: JsonNode, traced: Boolean): Unit = {
    val id = batch.get("id").asLong
    val d = Tables(run.spark, dir, s"docs_b$id")
    val v = Tables(run.spark, dir, s"vecs_b$id")
    run.trace.drain()
    val jobs0 = run.trace.jobsTotal
    lifecycle(run, "replay", "", traced, r.all: _*) {
      val applied = Seq(
        TermStats.appendTextIndexOnce(d, "text", "doc_id", r.text, RunId, id),
        Similarity.appendPqIndexOnce(v, "embedding", "vec_id", r.pq, RunId, id),
        Dedup.appendSignaturesOnce(d, "text", "doc_id", r.sig, RunId, id))
      run.trace.drain()
      val jobs = run.trace.jobsTotal - jobs0
      require(!applied.exists(identity) && jobs == 0,
        s"replay of batch $id applied=${applied.mkString(",")} launched $jobs jobs")
    }
  }

  private def probe(run: Run, dir: String, r: Roots, batch: JsonNode, traced: Boolean): Unit = {
    val id = batch.get("id").asLong
    run.op("probe_bm25", traced, s"b$id/probe_bm25")(run.collect(bm25(run, r.text, batch)))
    run.op("probe_pq", traced, s"b$id/probe_pq")(run.collect(pq(run, r.pq, batch)))
    run.op("probe_dedup", traced, s"b$id/probe_dedup")(run.collect(dedup(run, dir, r.sig, batch)))
  }

  private def artifact(run: Run, path: String): Unit =
    run.trace.span("tables.artifact")(Tables.artifact(run.spark, path))

  private def bm25(run: Run, root: String, batch: JsonNode): DataFrame = {
    artifact(run, s"${IndexLifecycle.resolveDir(run.spark, root)}/postings")
    run.trace.span("operators.TermStats.construct")(TermStats.bm25TopKPrebuilt(
      run.spark, root, "doc_id", Json.strings(batch.get("terms")), 10))
  }

  private def pq(run: Run, root: String, batch: JsonNode): DataFrame = {
    artifact(run, s"${IndexLifecycle.resolveDir(run.spark, root)}/codes")
    run.trace.span("operators.Similarity.construct")(Similarity.pqTopKPrebuilt(
      run.spark, root, "vec_id", Json.floats(batch.get("query")), 10))
  }

  private def dedup(run: Run, dir: String, root: String, batch: JsonNode): DataFrame = {
    artifact(run, IndexLifecycle.resolveDir(run.spark, root))
    val incoming = docs(run, dir, batch.get("incoming").asText)
    run.trace.span("operators.Dedup.construct")(Dedup.dedupAgainstCorpusPrebuilt(
      run.spark, root, incoming, "text", "doc_id"))
  }

  /** Rebuild every artifact from scratch over the base and the appended
    * batches, then run the last batch's probes against both builds. */
  private def verify(run: Run, dir: String, r: Roots, b: JsonNode, done: Int): Seq[Map[String, Any]] = {
    val spark = run.spark
    val names = "base" +: (0 until done).map(i => s"b$i")
    def union(kind: String) = names.map(n => Tables(spark, dir, s"${kind}_$n")).reduce(_ unionByName _)
    val root = s"${run.work}/scratch"
    TermStats.buildTextIndex(union("docs"), "text", "doc_id", s"$root/text")
    Similarity.pqBuildWith(union("vecs"), "embedding", "vec_id", s"$root/pq", r.codebook)
    Dedup.buildSignatures(union("docs"), "text", "doc_id", s"$root/sig")
    def rows(df: DataFrame): Seq[String] = df.collect().map(_.toString).toSeq.sorted
    Seq(
      "probe_bm25" -> (rows(bm25(run, r.text, b)) == rows(bm25(run, s"$root/text", b))),
      "probe_pq" -> (rows(pq(run, r.pq, b)) == rows(pq(run, s"$root/pq", b))),
      "probe_dedup" -> (rows(dedup(run, dir, r.sig, b)) == rows(dedup(run, dir, s"$root/sig", b))))
      .map { case (k, ok) => Map("kind" -> k, "batch" -> b.get("id").asLong, "ok" -> ok) }
  }

  /** Regular files under `root` and their total size. */
  def walk(root: Path): (Seq[String], Long) =
    if (!Files.exists(root)) (Nil, 0L)
    else {
      val s = Files.walk(root)
      try {
        val files = s.iterator.asScala.filter(Files.isRegularFile(_)).toSeq
        (files.map(_.toString), files.map(Files.size).sum)
      } finally s.close()
    }
}
