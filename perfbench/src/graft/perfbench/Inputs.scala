package graft.perfbench

import graft.corpus.SyntheticCorpus
import graft.model.{Grammar, Kinds, RawDoc, RawSpan}
import scala.util.Random
import org.apache.spark.HashPartitioner
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{col, size}
import scala.collection.mutable

/** One raw input document: the concatenated bodies of `SyntheticCorpus`
  * documents (`sources`, by generator id) plus planted paragraphs, placed in
  * input file `file`. A single source with no paragraphs is the generator's
  * document unchanged. */
final case class Recipe(file: Int, doc_id: String, sources: Seq[String],
                        paras: Seq[String], parasFirst: Boolean) {
  def build(): RawDoc = {
    val gens = sources.map(SyntheticCorpus.rawDoc)
    val planted = paras.map(t =>
      RawSpan(Kinds.P, Grammar.renderParagraph(Nil, Seq(s"run:$t")), null, 0))
    val body = gens.flatMap(_.spans)
    val spans = (if (parasFirst) planted ++ body else body ++ planted)
      .zipWithIndex.map { case (s, i) => s.copy(offset = i) }
    RawDoc(doc_id, spans.toVector, gens.headOption.map(_.meta).getOrElse(Map.empty))
  }
}

/** The planted structure of the `pipeline_dedup` input, kept by the
  * benchmark so the checks know what each stage must do to it. */
final case class Planted(
    exactClusters: Seq[Seq[String]],
    nearClusters: Seq[Seq[String]],
    nearMinJaccard: Double,
    controls: Seq[(String, String)], // (doc_id, extracted text)
    contaminated: Seq[String],
    passages: Seq[(String, Seq[String])], // (passage text, host doc_ids)
    boilerplateLines: Seq[String],
    benchmarkItems: Seq[String])

/** Input generation for the three workloads. The seed picks generator
  * document indices, planted content and planting positions; the make-up
  * (documents per family, tail sizes, file layout, planted cluster counts)
  * is the same for every seed, so every run does the same amount of work. */
object Inputs {

  val Files = 16

  // ---- extract_flat: ordinary documents + poison, spread evenly
  val FlatPerFamily = 1000
  val FlatPoison = 8

  // ---- extract_skew: ordinary documents, spread-tier mega documents placed
  // unevenly over the files, and assembled documents past the chunking tier
  val SkewPerFamily = 100
  val SkewPoison = 4
  val SpreadTier = 8192    // Extract.runAuto spreadThreshold
  val ChunkTier = 262144   // Extract.runAuto hugeThreshold
  /** Spread-tier mega documents per input file (24 in all). */
  val MegaPerFile: Seq[Int] = Seq(6, 4, 3, 3, 2, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0)
  /** Input files of the documents past the chunking tier; with 4 batches
    * (file % 4) it is the straggler of batch 2, which a resume re-runs. */
  val HugeFiles: Seq[Int] = Seq(6)
  val HugeMinSpans = 270000

  // ---- pipeline_dedup
  val PipeFiles = 8
  val PipePerFamily = 100
  val ExactClusters = 30; val ExactCopies = 3
  val NearClusters = 30; val NearMembers = 3
  val Controls = 16
  val Contaminated = 20; val UnusedItems = 10
  val Passages = 20; val PassageHosts = 3; val PassageTokens = 40
  val BoilerplateLines = 4; val BoilerplateDocs = 40
  val SubstrWindow = 20

  /** Generator ids of `perFamily` ordinary documents per regular family. */
  def ordinaryIds(rng: Random, perFamily: Int, taken: mutable.Set[Long]): Seq[String] =
    for (f <- SyntheticCorpus.Families.indices; _ <- 0 until perFamily) yield {
      var idx = 0L
      while ({
        idx = rng.nextInt(50000000).toLong * SyntheticCorpus.Families.size + f
        idx == 0 || idx % 997 == 0 || idx % 1009 == 0 || !taken.add(idx)
      }) ()
      SyntheticCorpus.docIdFor(idx)
    }

  /** Generator ids of the `mega` (every 997th index) or `poison` (every
    * 1009th) family. */
  def strideIds(rng: Random, n: Int, stride: Long, other: Long,
                taken: mutable.Set[Long]): Seq[String] =
    (0 until n).map { _ =>
      var idx = 0L
      while ({
        idx = (1 + rng.nextInt(5000000)).toLong * stride
        idx % other == 0 || !taken.add(idx)
      }) ()
      SyntheticCorpus.docIdFor(idx)
    }

  def flat(seed: Long): Seq[Recipe] = {
    val rng = new Random(seed)
    val taken = mutable.Set[Long]()
    val ids = rng.shuffle(ordinaryIds(rng, FlatPerFamily, taken) ++
      strideIds(rng, FlatPoison, 1009, 997, taken))
    ids.zipWithIndex.map { case (id, i) => Recipe(i % Files, id, Seq(id), Nil, false) }
  }

  def skew(spark: SparkSession, seed: Long): Seq[Recipe] = {
    val rng = new Random(seed)
    val taken = mutable.Set[Long]()
    val ordinary = rng.shuffle(ordinaryIds(rng, SkewPerFamily, taken) ++
      strideIds(rng, SkewPoison, 1009, 997, taken))
    // mega sizes come from the generator: size candidates in parallel, then
    // take them in seeded order
    val cands = strideIds(rng, 150, 997, 1009, taken)
    val sizes = spark.sparkContext.parallelize(cands, 8)
      .map(id => id -> SyntheticCorpus.rawDoc(id).spans.size).collect().toMap
    val (spread, rest) = cands.partition(id => sizes(id) > SpreadTier)
    require(spread.size >= MegaPerFile.sum, "too few spread-tier mega candidates")
    val megaRecipes = MegaPerFile.zipWithIndex.flatMap { case (n, f) => Seq.fill(n)(f) }
      .zip(spread).map { case (f, id) => Recipe(f, id, Seq(id), Nil, false) }
    val bodies = rest.iterator
    val huge = HugeFiles.zipWithIndex.map { case (f, k) =>
      val parts = mutable.ArrayBuffer[String]()
      var n = 0
      while (n < HugeMinSpans) { val b = bodies.next(); parts += b; n += sizes(b) }
      Recipe(f, f"doc-huge-$k%09d", parts.toSeq, Nil, false)
    }
    ordinary.zipWithIndex.map { case (id, i) => Recipe(i % Files, id, Seq(id), Nil, false) } ++
      megaRecipes ++ huge
  }

  /** A letters-only pseudo-word; `group` keeps planted structures on
    * disjoint vocabularies, so no window or shingle crosses them. */
  def word(group: String, k: Int): String = {
    val sb = new StringBuilder(group)
    var v = k
    do { sb.append(('a' + v % 26).toChar); v /= 26 } while (v > 0)
    sb.toString
  }

  private def sentence(rng: Random, group: String, base: Int, n: Int): Seq[String] =
    Seq.fill(n)(word(group, base + rng.nextInt(1000)))

  /** Distinct word 3-gram shingles, tokenized as the MinHash sketch does
    * (lower-cased, whitespace-split). */
  def shingles(text: String): Set[String] = {
    val t = text.toLowerCase(java.util.Locale.ROOT).split("[ \t\n\f\r]+").filter(_.nonEmpty)
    if (t.length <= 3) Set(t.mkString(" ")) else t.sliding(3).map(_.mkString(" ")).toSet
  }

  def jaccard(a: Set[String], b: Set[String]): Double =
    (a intersect b).size.toDouble / (a union b).size

  def pipeline(seed: Long): (Seq[Recipe], Planted) = {
    val rng = new Random(seed)
    val taken = mutable.Set[Long]()
    val recipes = mutable.ArrayBuffer[Recipe]()
    def planted(id: String, paras: Seq[Seq[String]]): Unit =
      recipes += Recipe(0, id, Nil, paras.map(_.mkString(" ")), false)

    val exact = (0 until ExactClusters).map { c =>
      val paras = Seq.fill(3)(sentence(rng, "ex", c * 1000, 12 + rng.nextInt(8)))
      (0 until ExactCopies).map { j =>
        val id = f"doc-pexact-$c%04d-$j"; planted(id, paras); id
      }
    }
    var nearMin = 1.0
    val near = (0 until NearClusters).map { c =>
      val base = Seq.fill(4)(sentence(rng, "nr", c * 1000, 30).toVector)
      // member j changes one token of paragraph j, so every line is shared
      // by at most NearMembers - 1 documents and survives line dedup
      val members = (0 until NearMembers).map { j =>
        base.updated(j, base(j).updated(rng.nextInt(base(j).size), word("nv", c * 1000 + j)))
      }
      val sh = members.map(m => shingles(m.map(_.mkString(" ")).mkString("\n")))
      for (a <- sh.indices; b <- a + 1 until sh.size) nearMin = math.min(nearMin, jaccard(sh(a), sh(b)))
      members.zipWithIndex.map { case (m, j) =>
        val id = f"doc-pnear-$c%04d-$j"; planted(id, m); id
      }
    }
    // controls are the same for every seed: their failures (see Checks)
    // must not depend on the seed
    val crng = new Random(20240601L)
    val controls = (0 until Controls).map { c =>
      val paras = Seq.fill(4)(sentence(crng, "ct", c * 1000, 10 + crng.nextInt(6)))
      val id = f"doc-pcontrol-$c%04d"; planted(id, paras)
      id -> paras.map(_.mkString(" ")).mkString("\n")
    }
    val items = (0 until Contaminated + UnusedItems).map(i =>
      sentence(rng, "bm", i * 1000, 20 + rng.nextInt(10)).mkString(" "))
    val contaminated = (0 until Contaminated).map { c =>
      val pre = sentence(rng, "cn", c * 1000, 6); val post = sentence(rng, "cn", c * 1000 + 500, 6)
      val id = f"doc-pcontam-$c%04d"
      planted(id, Seq(sentence(rng, "cn", c * 1000, 15), pre ++ Seq(items(c)) ++ post,
        sentence(rng, "cn", c * 1000 + 200, 15)))
      id
    }
    val passages = (0 until Passages).map { p =>
      val text = sentence(rng, "ps", p * 1000, PassageTokens).mkString(" ")
      val hosts = (0 until PassageHosts).map { h =>
        val g = (p * PassageHosts + h) * 1000
        val id = f"doc-ppass-$p%04d-$h"
        planted(id, Seq(sentence(rng, "ph", g, 25),
          sentence(rng, "ph", g, 5) ++ Seq(text) ++ sentence(rng, "ph", g, 5),
          sentence(rng, "ph", g + 500, 25)))
        id
      }
      text -> hosts
    }
    val lines = (0 until BoilerplateLines).map(l => sentence(rng, "bp", l * 1000, 8).mkString(" "))
    val background = rng.shuffle(ordinaryIds(rng, PipePerFamily, taken))
    val withLine = rng.shuffle(background.indices.toList).take(BoilerplateLines * BoilerplateDocs)
      .zipWithIndex.map { case (i, k) => i -> lines(k % BoilerplateLines) }.toMap
    background.zipWithIndex.foreach { case (id, i) =>
      recipes += Recipe(0, id, Seq(id), withLine.get(i).toSeq, rng.nextBoolean())
    }
    val laidOut = rng.shuffle(recipes.toSeq).zipWithIndex
      .map { case (r, i) => r.copy(file = i % PipeFiles) }
    (laidOut, Planted(exact, near, nearMin, controls, contaminated, passages, lines, items))
  }

  /** Write the recipes as a raw-docs table `(doc_id, spans, meta, n_spans)`,
    * one parquet file per `Recipe.file`. */
  def write(spark: SparkSession, recipes: Seq[Recipe], nFiles: Int, path: String): Unit = {
    import spark.implicits._
    val docs = spark.sparkContext.parallelize(recipes.map(r => r.file -> r), nFiles)
      .partitionBy(new HashPartitioner(nFiles)).values.map(_.build())
    spark.createDataset(docs).withColumn("n_spans", size(col("spans")))
      .sortWithinPartitions("n_spans").write.parquet(path)
  }

  def writeBenchmarkItems(spark: SparkSession, items: Seq[String], path: String): Unit = {
    import spark.implicits._
    items.toDF("text").coalesce(1).write.parquet(path)
  }
}
