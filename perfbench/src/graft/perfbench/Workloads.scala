package graft.perfbench

import graft.core.{Lineage, Pipeline}
import java.io.File
import java.nio.file.{Files, Path, StandardCopyOption}
import org.apache.spark.sql.SparkSession
import scala.collection.mutable

/** One timed round: a fresh job, then the resumed job. */
final case class RoundResult(out: String, freshS: Double, resumeS: Double, writeAmp: Double)

object Workloads {
  def secondsSince(t0: Long): Double = (System.nanoTime() - t0) / 1e9
  def timed(f: => Unit): Double = { val t0 = System.nanoTime(); f; secondsSince(t0) }

  /** Committed data files under `path`: parquet parts, not checksum files
    * or markers. */
  def dataFiles(path: String): Seq[File] = {
    def walk(f: File): Seq[File] =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk)
      else if (f.getName.startsWith(".") || f.getName.startsWith("_")) Nil
      else Seq(f)
    walk(new File(path))
  }
  def bytes(path: String): Long = dataFiles(path).map(_.length).sum

  def delete(path: String): Unit = {
    def rm(f: File): Unit = {
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.foreach(rm)
      f.delete()
    }
    rm(new File(path))
  }

  /** Copy a directory tree keeping modification times, which the
    * pipeline's stage fingerprints include. */
  def copyTree(src: String, dst: String): Unit = {
    val s = new File(src).toPath; val d = new File(dst).toPath
    val it = Files.walk(s)
    try it.forEach { (p: Path) =>
      val t = d.resolve(s.relativize(p))
      if (Files.isDirectory(p)) Files.createDirectories(t)
      else Files.copy(p, t, StandardCopyOption.COPY_ATTRIBUTES)
    } finally it.close()
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted; val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** Every per-layer metric, in the order BENCHMARK.json lists them. */
  val LayerMetrics: Seq[(String, String)] = Seq(
    "lineage.plan_s" -> "s", "lineage.batches_run" -> "count", "lineage.batches_skipped" -> "count",
    "extract.self_s" -> "s", "extract.busy_s" -> "s", "extract.task_p50_s" -> "s",
    "extract.task_max_s" -> "s", "extract.scans" -> "count", "extract.scan_bytes" -> "bytes",
    "extract.shuffle_write_bytes" -> "bytes", "extract.docs_out" -> "count",
    "extract.spans_out" -> "count", "extract.quarantined" -> "count",
    "docstore.write_s" -> "s", "docstore.read_s" -> "s", "docstore.bytes_written" -> "bytes",
    "docstore.files_written" -> "count",
    "spanqueries.alltext_s" -> "s",
    "dedup.exact_s" -> "s", "dedup.exact_dropped" -> "count", "dedup.lines_s" -> "s",
    "dedup.near_s" -> "s", "dedup.near_dropped" -> "count", "dedup.near_scans" -> "count",
    "dedup.near_shuffle_write_bytes" -> "bytes", "dedup.near_hot_buckets" -> "count",
    "dedup.near_interpreted_exprs" -> "count", "dedup.substr_s" -> "s",
    "dedup.substr_shuffle_write_bytes" -> "bytes", "dedup.decontam_s" -> "s",
    "dedup.decontam_dropped" -> "count",
    "packing.quality_s" -> "s", "packing.pack_s" -> "s", "packing.sequences" -> "count",
    "packing.fill" -> "ratio",
    "spark.gc_s" -> "s", "spark.spill_bytes" -> "bytes", "spark.shuffle_write_bytes" -> "bytes",
    "spark.peak_exec_mem_bytes" -> "bytes",
    "trace.overhead_s" -> "s")

  /** Per-layer metrics of a traced fresh job (`fresh`) and the span that
    * holds the lineage work to report (`lineageRoot`: the traced resume for
    * the extraction workloads). Metrics of layers the workload does not
    * call read 0. */
  def layerMetrics(tr: Tracer, fresh: SpanRec, lineageRoot: SpanRec, raw: String,
                   out: String, overheadS: Double, pack: Seq[Checks.Packed],
                   seqLen: Int): Map[String, Double] = {
    val m = mutable.Map[String, Double]().withDefaultValue(0.0)
    def secs(root: SpanRec, name: String) = tr.named(root, name).map(_.seconds).sum
    def counted(root: SpanRec, name: String, key: String) =
      tr.named(root, name).flatMap(s => s +: tr.descendants(s)).map(_.counts.getOrElse(key, 0.0)).sum
    def rows(name: String) = counted(fresh, name, "rows")
    def abs(p: String) = new File(p).getCanonicalPath

    m("lineage.plan_s") = secs(lineageRoot, "core.Lineage.plan")
    m("lineage.batches_run") = counted(lineageRoot, "core.Lineage.runBatched", "batches_run")
    m("lineage.batches_skipped") = counted(lineageRoot, "core.Lineage.runBatched", "batches_skipped")

    val ex = tr.named(fresh, "core.Extract")
    val exTasks = tr.tasksOf(ex)
    val exPlans = new PlanStats; exPlans.add(ex.flatMap(_.qes), abs(raw))
    val runS = exTasks.runMs.map(_ / 1e3).sorted
    m("extract.self_s") = ex.map(tr.selfSeconds).sum
    m("extract.busy_s") = runS.sum
    if (runS.nonEmpty) { m("extract.task_p50_s") = median(runS.toSeq); m("extract.task_max_s") = runS.last }
    m("extract.scans") = exPlans.scans
    m("extract.scan_bytes") = exTasks.bytesRead.toDouble
    m("extract.shuffle_write_bytes") = exTasks.shuffleWrite.toDouble
    Seq("docs_out", "spans_out", "quarantined").foreach(k =>
      m(s"extract.$k") = counted(fresh, "core.Lineage.commit", k))

    val writes = tr.named(fresh, "core.DocStore.write")
    m("docstore.write_s") = writes.map(_.seconds).sum
    m("docstore.read_s") = secs(fresh, "core.DocStore.read")
    m("docstore.bytes_written") = tr.tasksOf(writes).bytesWritten.toDouble
    m("docstore.files_written") = writes.map(_.counts.getOrElse("files", 0.0)).sum

    m("spanqueries.alltext_s") = secs(fresh, "queries.SpanQueries.allText")
    val d = "functions.Dedup."
    m("dedup.exact_s") = secs(fresh, d + "dropExactDuplicates")
    m("dedup.exact_dropped") = rows("queries.SpanQueries.allText") - rows(d + "dropExactDuplicates")
    m("dedup.lines_s") = secs(fresh, d + "dropRepeatedLines")
    val near = tr.named(fresh, d + "dropNearDuplicates")
    m("dedup.near_s") = near.map(_.seconds).sum
    m("dedup.near_dropped") = rows(d + "dropRepeatedLines") - rows(d + "dropNearDuplicates")
    if (near.nonEmpty) {
      val np = new PlanStats; np.add(near.flatMap(_.qes), abs(s"$out/s1b_lines"))
      m("dedup.near_scans") = np.scans
      m("dedup.near_hot_buckets") = np.observed.values.sum.toDouble
      m("dedup.near_interpreted_exprs") = np.interpreted
    }
    m("dedup.near_shuffle_write_bytes") = tr.tasksOf(near).shuffleWrite.toDouble
    m("dedup.substr_s") = secs(fresh, d + "dropDuplicatedSubstrings")
    m("dedup.substr_shuffle_write_bytes") =
      tr.tasksOf(tr.named(fresh, d + "dropDuplicatedSubstrings")).shuffleWrite.toDouble
    m("dedup.decontam_s") = secs(fresh, d + "dropContaminated")
    m("dedup.decontam_dropped") = rows(d + "dropDuplicatedSubstrings") - rows(d + "dropContaminated")

    m("packing.quality_s") = secs(fresh, "functions.Packing.qualityTopFraction")
    m("packing.pack_s") = secs(fresh, "functions.Packing.packSequences")
    if (pack.nonEmpty) {
      val sequences = pack.map(_.seq_end).max + 1
      m("packing.sequences") = sequences.toDouble
      m("packing.fill") = pack.map(_.n_tokens).sum.toDouble / (sequences * seqLen)
    }

    val all = tr.tasksOf(Seq(fresh))
    m("spark.gc_s") = all.gcMs / 1e3
    m("spark.spill_bytes") = all.spill.toDouble
    m("spark.shuffle_write_bytes") = all.shuffleWrite.toDouble
    m("spark.peak_exec_mem_bytes") = all.peakMem.toDouble
    m("trace.overhead_s") = overheadS
    LayerMetrics.map { case (k, _) => k -> m(k) }.toMap
  }
}

/** A workload: inputs from the seed, a warm-up, timed rounds, checks, and
  * the traced run. */
abstract class Workload(val spark: SparkSession, val seed: Long, val work: String) {
  def nDocs: Long
  /** Generate the inputs from the seed and write them under `dir`. */
  def buildInputs(dir: String): Unit
  def warmUp(): Unit
  /** Compute what the checks compare against (not timed). */
  def prepare(): Unit
  /** The raw input table the last `buildInputs` wrote. */
  def rawPath: String

  /** Documents, spans and bytes of the input table, and the span counts of
    * its tail documents (above the spread tier). */
  def describe(): String = {
    import org.apache.spark.sql.functions._
    val df = spark.read.parquet(rawPath)
    val r = df.agg(count(lit(1)), sum(col("n_spans"))).head()
    val tail = df.where(col("n_spans") > Inputs.SpreadTier).select(col("n_spans"))
      .collect().map(_.getInt(0)).sorted
    val huge = tail.filter(_ > Inputs.ChunkTier)
    s"docs=${r.getLong(0)} spans=${r.getLong(1)} bytes=${Workloads.bytes(rawPath)} " +
      s"spread_tier_docs=${tail.length - huge.length} " +
      s"spread_tier_spans=${tail.filter(_ <= Inputs.ChunkTier).sum} chunk_tier_spans=${huge.mkString(",")}"
  }
  def round(k: Int, t: Tally, unexpected: mutable.Buffer[String]): RoundResult
  /** A fresh job with tracing off, unchecked: the baseline of the traced
    * run's overhead. Returns (output root, seconds). */
  def untracedFresh(): (String, Double)
  /** The traced fresh job (plus the traced resume, or the comparison with
    * the untraced output), checked with the same operations as a round. */
  def traced(untraced: (String, Double), t: Tally, unexpected: mutable.Buffer[String],
             traceOut: String): Map[String, Double]
}

/** `extract_flat` (fused-expression route) and `extract_skew` (`auto`). */
final class ExtractionWorkload(spark: SparkSession, seed: Long, work: String, skew: Boolean)
    extends Workload(spark, seed, work) {
  import Workloads._
  val Batches = 4
  val mode: String = if (skew) "auto" else "expr"
  private var recipes: Seq[Recipe] = Nil
  private var raw = ""
  private var expect: Map[String, Expect] = Map.empty
  def rawPath: String = raw

  def nDocs: Long = recipes.size.toLong

  def buildInputs(dir: String): Unit = {
    recipes = if (skew) Inputs.skew(spark, seed) else Inputs.flat(seed)
    raw = s"$dir/raw"
    Inputs.write(spark, recipes, Inputs.Files, raw)
  }

  /** One batch's worth of the job: the input files of batch 0 (copied into
    * a table of their own) extracted as a single batch. */
  def warmUp(): Unit = {
    val files = Lineage.inputBatches(spark, raw, Batches).head._2
    val warmRaw = new File(s"$work/warm-raw")
    warmRaw.mkdirs()
    files.foreach { f =>
      val src = new File(new java.net.URI(f))
      Files.copy(src.toPath, new File(warmRaw, src.getName).toPath)
    }
    Lineage.runBatched(spark, warmRaw.getPath, s"$work/warm", 1, mode)
    delete(s"$work/warm"); delete(warmRaw.getPath)
  }

  def prepare(): Unit = {
    expect = Checks.expectations(spark, recipes)
    val poison = expect.values.count(_.doc_id.startsWith("doc-poison-"))
    val failing = expect.values.filter(_.error != null).map(_.doc_id)
    require(poison == (if (skew) Inputs.SkewPoison else Inputs.FlatPoison) &&
      failing.size == poison && failing.forall(_.startsWith("doc-poison-")),
      s"the oracle must reject exactly the planted poison documents, rejected: $failing")
  }

  /** Simulate a kill after half the batches committed: the other batches
    * lose their lineage rows and part of their output. */
  private def kill(out: String): Unit = (Batches / 2 until Batches).foreach { b =>
    delete(s"$out/_lineage/batch=$b")
    val dir = new File(s"$out/docs/batch=$b")
    Option(dir.listFiles()).toSeq.flatten.filter(_.getName.startsWith("part-"))
      .sortBy(_.getName).lastOption.foreach { f =>
        f.delete(); new File(dir, s".${f.getName}.crc").delete()
      }
    new File(dir, "_SUCCESS").delete(); new File(dir, "._SUCCESS.crc").delete()
  }

  private def checkDocs(bad: Set[String], t: Tally): Unit =
    expect.keys.toSeq.sorted.foreach(id => t.check(!bad(id), s"document $id"))

  def round(k: Int, t: Tally, unexpected: mutable.Buffer[String]): RoundResult = {
    val out = s"$work/round-$k"
    val fresh = timed(Lineage.runBatched(spark, raw, out, Batches, mode))
    val amp = bytes(out).toDouble / bytes(raw)
    val badFresh = Checks.extraction(spark, out, expect, unexpected)
    kill(out)
    val resume = timed(Lineage.runBatched(spark, raw, out, Batches, mode))
    checkDocs(badFresh ++ Checks.extraction(spark, out, expect, unexpected), t)
    RoundResult(out, fresh, resume, amp)
  }

  def untracedFresh(): (String, Double) = {
    val out = s"$work/untraced"
    val s = timed(Lineage.runBatched(spark, raw, out, Batches, mode))
    delete(out)
    (out, s)
  }

  def traced(untraced: (String, Double), t: Tally, unexpected: mutable.Buffer[String],
             traceOut: String): Map[String, Double] = {
    val out = s"$work/traced"
    val tr = new Tracer(spark)
    val tx = new Traced(spark, tr)
    val wall = timed(tx.extraction(raw, out, Batches, mode))
    val badFresh = Checks.extraction(spark, out, expect, unexpected)
    kill(out)
    tx.extraction(raw, out, Batches, mode)
    checkDocs(badFresh ++ Checks.extraction(spark, out, expect, unexpected), t)
    tr.close()
    Files.write(new File(traceOut).toPath, tr.toJson.getBytes("UTF-8"))
    val roots = tr.spans.filter(_.parent < 0)
    layerMetrics(tr, roots(0), roots(1), raw, out, wall - untraced._2, Nil, 1)
  }
}

/** `pipeline_dedup`: `Pipeline.run` with line, near, substring dedup,
  * decontamination, the quality fraction and packing on. */
final class PipelineWorkload(spark: SparkSession, seed: Long, work: String)
    extends Workload(spark, seed, work) {
  import Workloads._
  val KeepFrac = 0.8
  val SeqLen = 512
  private var recipes: Seq[Recipe] = Nil
  private var planted: Planted = _
  private var raw = ""
  private var bench = ""
  def rawPath: String = raw
  private val killed = s"$work/killed"

  def nDocs: Long = recipes.size.toLong

  def cfg(out: String): Pipeline.Config = Pipeline.Config(
    rawPath = raw, outPath = out, benchmarkPath = Some(bench), batches = 2,
    keepFrac = KeepFrac, seqLen = SeqLen, dropLines = true, lineMaxDocFreq = 3,
    substrDedup = true, substrWindow = Inputs.SubstrWindow)

  def buildInputs(dir: String): Unit = {
    val (r, p) = Inputs.pipeline(seed)
    recipes = r; planted = p
    raw = s"$dir/raw"; bench = s"$dir/benchmark"
    Inputs.write(spark, recipes, Inputs.PipeFiles, raw)
    Inputs.writeBenchmarkItems(spark, p.benchmarkItems, bench)
  }

  /** The warm-up is the killed run the resumes restart from: the pipeline
    * stopped by its failpoint after `s2_neardup`, kept as a snapshot. */
  def warmUp(): Unit = {
    try {
      Pipeline.run(spark, cfg(killed), failAfter = Some("s2_neardup"))
      sys.error("the s2_neardup failpoint did not fire")
    } catch {
      case e: RuntimeException if e.getMessage == "pipeline failpoint after stage s2_neardup" =>
    }
    copyTree(killed, s"$killed.snapshot")
  }

  def prepare(): Unit = {
    val expect = Checks.expectations(spark, recipes)
    require(expect.values.forall(_.error == null), "a pipeline input document failed extraction")
    planted.controls.foreach { case (id, text) =>
      require(expect(id).text == text, s"control $id extracts to other text")
    }
    require(planted.nearMinJaccard >= 0.85,
      s"near-duplicate clusters too loose: min Jaccard ${planted.nearMinJaccard}")
  }

  private def sameResult(a: String, b: String): Boolean =
    Checks.readText(spark, s"$a/s4_quality") == Checks.readText(spark, s"$b/s4_quality") &&
      Checks.readPack(spark, s"$a/s5_pack") == Checks.readPack(spark, s"$b/s5_pack")

  /** The resume runs first, from the killed run's snapshot, so the fresh
    * job after it finds every stage's code warm. */
  def round(k: Int, t: Tally, unexpected: mutable.Buffer[String]): RoundResult = {
    delete(killed)
    copyTree(s"$killed.snapshot", killed)
    val resume = timed(Pipeline.run(spark, cfg(killed)))
    val out = s"$work/round-$k"
    val fresh = timed(Pipeline.run(spark, cfg(out)))
    val amp = bytes(out).toDouble / bytes(raw)
    Checks.pipeline(spark, out, planted, KeepFrac, SeqLen, Inputs.SubstrWindow, t, unexpected)
    t.check(sameResult(out, killed), "resumed output differs from the uninterrupted output")
    RoundResult(out, fresh, resume, amp)
  }

  def untracedFresh(): (String, Double) = {
    val out = s"$work/untraced"
    delete(out)
    (out, timed(Pipeline.run(spark, cfg(out))))
  }

  def traced(untraced: (String, Double), t: Tally, unexpected: mutable.Buffer[String],
             traceOut: String): Map[String, Double] = {
    val out = s"$work/traced"
    val tr = new Tracer(spark)
    val wall = timed(new Traced(spark, tr).pipeline(cfg(out)))
    tr.close()
    Checks.pipeline(spark, out, planted, KeepFrac, SeqLen, Inputs.SubstrWindow, t, unexpected)
    t.check(sameResult(out, untraced._1), "traced output differs from Pipeline.run output")
    Files.write(new File(traceOut).toPath, tr.toJson.getBytes("UTF-8"))
    val root = tr.spans.filter(_.parent < 0).head
    layerMetrics(tr, root, root, raw, out, wall - untraced._2,
      Checks.readPack(spark, s"$out/s5_pack"), SeqLen)
  }
}
