package graft.perfbench

import graft.model.{Doc, Span}
import graft.oracle.Extractor
import org.apache.spark.sql.SparkSession
import scala.collection.mutable

/** What the sequential executable spec (`oracle.Extractor`) makes of one
  * input document: a hash of its span sequence, or the error that must put
  * it in quarantine. `text` is its `allText` rendering, kept only for
  * planted documents. */
final case class Expect(doc_id: String, hash: Long, n: Int, error: String, text: String)

/** One extracted output document, reduced on the executors. */
final case class OutSig(doc_id: String, hash: Long, n: Int, dense: Boolean, noise: Boolean)

/** A pass/fail tally over one round's operations. `problems` names the
  * first few failures for the log. */
final class Tally {
  var attempted = 0L
  var failed = 0L
  val problems = mutable.ArrayBuffer[String]()
  def check(ok: Boolean, what: => String): Unit = {
    attempted += 1
    if (!ok) { failed += 1; if (problems.size < 8) problems += what }
  }
}

object Checks {

  val NoiseKinds = Set("header", "footer", "settings", "footnote", "bookmark", "prooferr", "sectPr")

  /** 64-bit FNV-1a over (kind, text, media_ref, offset) of every span, in order. */
  def spanHash(spans: Seq[Span]): Long = {
    var h = 0xcbf29ce484222325L
    def mix(s: String): Unit = {
      if (s == null) { h ^= 0x1f; h *= 0x100000001b3L }
      else { var i = 0; while (i < s.length) { h ^= s.charAt(i).toLong; h *= 0x100000001b3L; i += 1 } }
      h ^= 0x1e; h *= 0x100000001b3L
    }
    spans.foreach { s => mix(s.kind); mix(s.text); mix(s.media_ref); mix(s.offset.toString) }
    h
  }

  def allText(spans: Seq[Span]): String =
    spans.filter(s => s.kind != "table" && s.kind != "image" && s.text != "").map(_.text).mkString("\n")

  /** Run the oracle over every recipe on the executors. */
  def expectations(spark: SparkSession, recipes: Seq[Recipe]): Map[String, Expect] =
    spark.sparkContext.parallelize(recipes, 16).map { r =>
      val raw = r.build()
      try {
        val d = Extractor.extract(raw)
        Expect(r.doc_id, spanHash(d.spans), d.spans.size, null,
          if (r.sources.isEmpty || r.paras.nonEmpty) allText(d.spans) else null)
      } catch { case e: Exception => Expect(r.doc_id, 0L, 0, e.toString, null) }
    }.collect().map(e => e.doc_id -> e).toMap

  /** Check a batched extraction output root against the oracle, one
    * operation per input document: present exactly once across docs and
    * quarantine, quarantined iff a planted poison document, span sequence
    * equal to the oracle's, dense offsets, no package-part or noise kind.
    * Returns the failed document ids; output rows for documents that were
    * never input are reported through `unexpected`. */
  def extraction(spark: SparkSession, out: String, expect: Map[String, Expect],
                 unexpected: mutable.Buffer[String]): Set[String] = {
    import spark.implicits._
    val noise = NoiseKinds
    val docs = spark.read.parquet(s"$out/docs").select("doc_id", "spans").as[Doc]
      .map { d =>
        OutSig(d.doc_id, spanHash(d.spans), d.spans.size,
          d.spans.iterator.zipWithIndex.forall { case (s, i) => s.offset == i },
          d.spans.exists(s => noise(s.kind)))
      }.collect()
    val quarantined = spark.read.parquet(s"$out/quarantine").select("doc_id").as[String].collect()
    val byDoc = docs.groupBy(_.doc_id)
    val qCount = quarantined.groupBy(identity).map { case (k, v) => k -> v.length }
    (byDoc.keySet ++ qCount.keySet).filterNot(expect.contains).foreach(unexpected += _)
    expect.values.filter { e =>
      val outs = byDoc.getOrElse(e.doc_id, Array.empty[OutSig])
      val q = qCount.getOrElse(e.doc_id, 0)
      val ok =
        if (e.error != null) e.doc_id.startsWith("doc-poison-") && q == 1 && outs.isEmpty
        else q == 0 && outs.length == 1 && {
          val o = outs.head
          o.hash == e.hash && o.n == e.n && o.dense && !o.noise
        }
      !ok
    }.map(_.doc_id).toSet
  }

  // -------------------------------------------------------- pipeline_dedup

  /** `TextAnalysis.tokenCount` in plain Scala: Spark's `trim` strips spaces
    * only, and its `split` keeps a leading empty token. */
  def tokenCount(text: String): Int = {
    var b = 0; var e = text.length
    while (b < e && text.charAt(b) == ' ') b += 1
    while (e > b && text.charAt(e - 1) == ' ') e -= 1
    if (b == e) 0 else text.substring(b, e).split("[ \t\n\f\r]+", -1).length
  }

  def tokens(text: String): Seq[String] =
    text.trim.split("[ \t\n\f\r]+").toSeq.filter(_.nonEmpty)

  def readText(spark: SparkSession, path: String): Map[String, String] = {
    import spark.implicits._
    spark.read.parquet(path).select("doc_id", "text").as[(String, String)].collect().toMap
  }

  final case class Packed(doc_id: String, n_tokens: Long, tok_start: Long,
                          seq_start: Long, seq_end: Long)

  def readPack(spark: SparkSession, path: String): Seq[Packed] = {
    import spark.implicits._
    spark.read.parquet(path).as[Packed].collect().toSeq.sortBy(p => (p.tok_start, p.n_tokens))
  }

  /** Check one finished pipeline output root against the planted structure
    * (see the README for the list). Documents that are not planted but
    * have no repeated substring window must keep their token stream through
    * `s2b_substr`; a violation lands in `unexpected`. */
  def pipeline(spark: SparkSession, out: String, p: Planted, keepFrac: Double,
               seqLen: Int, window: Int, t: Tally, unexpected: mutable.Buffer[String]): Unit = {
    val s1 = readText(spark, s"$out/s1_exact")
    val s1b = readText(spark, s"$out/s1b_lines")
    val s2 = readText(spark, s"$out/s2_neardup")
    val s2b = readText(spark, s"$out/s2b_substr")
    val s3 = readText(spark, s"$out/s3_decontam")
    val s4 = readText(spark, s"$out/s4_quality")
    p.exactClusters.foreach(c => t.check(c.count(s1.contains) == 1, s"exact cluster ${c.head}"))
    p.nearClusters.foreach(c => t.check(c.count(s2.contains) <= 1, s"near cluster ${c.head}"))
    p.controls.foreach { case (id, _) =>
      t.check(Seq(s1, s1b, s2, s2b, s3).forall(_.contains(id)), s"control $id dropped")
    }
    p.contaminated.foreach(id => t.check(!s3.contains(id), s"contaminated $id kept"))
    p.boilerplateLines.foreach { line =>
      t.check(!s1b.values.exists(_.split("\n").contains(line)), s"boilerplate line kept")
    }
    p.passages.foreach { case (text, hosts) =>
      t.check(hosts.count(h => s2b.get(h).exists(_.contains(text))) == 1,
        s"passage of ${hosts.head} not kept exactly once")
    }
    // substring dedup must leave a document with no repeated window as it
    // was; counted for the seed-independent control documents, asserted as
    // token-stream preservation for the rest
    val windows = mutable.HashMap[String, Int]()
    val toks = s2.map { case (id, text) => id -> tokens(text) }
    toks.values.foreach(_.sliding(window).filter(_.size == window)
      .foreach(w => { val k = w.mkString(" "); windows(k) = windows.getOrElse(k, 0) + 1 }))
    val clean = toks.filter { case (_, ts) =>
      ts.sliding(window).filter(_.size == window).forall(w => windows(w.mkString(" ")) == 1)
    }
    val controlIds = p.controls.map(_._1).toSet
    p.controls.foreach { case (id, text) =>
      t.check(clean.contains(id) && s2(id) == text && s2b.get(id).contains(text),
        s"control $id text changed by s2b_substr")
    }
    clean.keys.filterNot(controlIds).foreach { id =>
      if (!s2b.get(id).exists(tokens(_) == toks(id)) && tokens(s2(id)).nonEmpty)
        unexpected += s"$id lost tokens in s2b_substr"
    }
    t.check(s4.keySet.subsetOf(s3.keySet) &&
      s4.size == math.floor(s3.size * keepFrac).toLong, s"s4_quality kept ${s4.size} of ${s3.size}")
    val pack = readPack(spark, s"$out/s5_pack")
    var next = 0L
    val tiled = pack.forall { r =>
      val ok = r.tok_start == next && r.n_tokens == tokenCount(s4(r.doc_id)) &&
        r.seq_start == r.tok_start / seqLen &&
        r.seq_end == (r.tok_start + math.max(r.n_tokens, 1L) - 1) / seqLen
      next += r.n_tokens
      ok
    }
    t.check(tiled && pack.map(_.doc_id).toSet == s4.keySet && pack.size == s4.size,
      "packing lost, duplicated or overfilled tokens")
  }
}
