package graft.perfbench

import graft.core.{DocStore, Extract, Lineage, LineageRow, Pipeline, StageLineage}
import graft.functions.{Dedup, Packing}
import graft.model.Schemas
import graft.queries.SpanQueries
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The traced run: the same work as `Lineage.runBatched` and `Pipeline.run`
  * (for the stages the benchmark turns on), driven through each layer's
  * public functions in the same order, with one span per call. Each layer's
  * output is materialized inside its own span, so its time is not charged
  * to the `DocStore` write that would otherwise run it lazily; the extra
  * materialization is part of the measured tracing overhead. */
final class Traced(spark: SparkSession, tr: Tracer) {
  import spark.implicits._
  private val store = DocStore()

  private val held = scala.collection.mutable.ArrayBuffer[DataFrame]()

  /** Persist and count `df`; held until [[release]], since unpersisting an
    * input of a cached result would have it recomputed. */
  private def materialize(df: DataFrame): DataFrame = {
    val p = df.persist()
    held += p
    tr.count("rows", p.count().toDouble)
    p
  }

  private def release(): Unit = { held.foreach(_.unpersist()); held.clear() }

  private def write(df: DataFrame, path: String): Unit = tr.span("core.DocStore.write") {
    store.write(df, path)
    tr.count("files", Workloads.dataFiles(path).size.toDouble)
  }

  /** `Lineage.runBatched`, traced. Returns the committed rows. */
  def extraction(raw: String, out: String, numBatches: Int, mode: String): Seq[LineageRow] =
    tr.span("core.Lineage.runBatched") {
      val (batches, fps, done) = tr.span("core.Lineage.plan") {
        val b = Lineage.inputBatches(spark, raw, numBatches)
        val f = b.map { case (id, files) => id -> Lineage.fingerprint(spark, files, mode) }.toMap
        val d = tr.span("core.DocStore.read") { Lineage.committedBatches(spark, out, store) }
        (b, f, d)
      }
      val hasN = batches.headOption.exists { case (_, files) =>
        spark.read.parquet(files.head).schema.fieldNames.contains("n_spans")
      }
      val readSchema = if (hasN && mode == "auto") Schemas.rawDocsWithN else Schemas.rawDocs
      batches.map { case (batchId, files) =>
        done.get(batchId) match {
          case Some(row) if row.input_fingerprint == fps(batchId) =>
            tr.count("batches_skipped", 1)
            row
          case _ =>
            tr.count("batches_run", 1)
            tr.span("core.Lineage.batch") {
              val t0 = System.nanoTime()
              val extracted = tr.span("core.Extract") {
                val rawDf = spark.read.schema(readSchema).parquet(files: _*)
                materialize(mode match {
                  case "auto" => Extract.runAuto(rawDf)
                  case _ => Extract.runExpr(rawDf)
                })
              }
              try {
                val good = extracted.where(col("error").isNull).select("doc_id", "spans")
                val bad = extracted.where(col("error").isNotNull).select("doc_id", "error")
                write(good, s"$out/docs/batch=$batchId")
                write(bad, s"$out/quarantine/batch=$batchId")
                tr.span("core.Lineage.commit") {
                  val stats = good
                    .agg(count(lit(1)), coalesce(sum(size(col("spans"))), lit(0L))).head()
                  val errs = bad.count()
                  tr.count("docs_out", stats.getLong(0).toDouble)
                  tr.count("spans_out", stats.getLong(1).toDouble)
                  tr.count("quarantined", errs.toDouble)
                  val row = LineageRow(batchId, fps(batchId), stats.getLong(0), stats.getLong(1), errs,
                    (System.nanoTime() - t0) / 1000000, java.time.Instant.now().toString)
                  write(Seq(row).toDS().toDF(), s"$out/_lineage/batch=$batchId")
                  row
                }
              } finally release()
            }
        }
      }
    }

  /** `Pipeline.run` with the stages `pipeline_dedup` turns on, traced, on a
    * fresh output root. */
  def pipeline(cfg: Pipeline.Config): Seq[StageLineage] = tr.span("core.Pipeline.run") {
    extraction(cfg.rawPath, s"${cfg.outPath}/extract", cfg.batches, cfg.mode)
    var current = s"${cfg.outPath}/extract/docs"
    def stage(name: String, extra: Seq[String], params: String)(body: DataFrame => DataFrame): StageLineage = {
      val row = tr.span("core.Pipeline.stage") {
        val fp = Pipeline.stageFingerprint(spark, current +: extra, params)
        val t0 = System.nanoTime()
        val in = tr.span("core.DocStore.read") { store.read(spark, current) }
        val out = body(in)
        try {
          write(out, s"${cfg.outPath}/$name")
          tr.span("core.Pipeline.commit") {
            val written = tr.span("core.DocStore.read") { store.read(spark, s"${cfg.outPath}/$name") }
            val row = StageLineage(name, fp, in.count(), written.count(),
              (System.nanoTime() - t0) / 1000000, java.time.Instant.now().toString)
            write(Seq(row).toDS().coalesce(1).toDF(), s"${cfg.outPath}/_pipeline/stage=$name")
            row
          }
        } finally release()
      }
      current = s"${cfg.outPath}/$name"
      row
    }
    def layer(name: String)(df: => DataFrame): DataFrame = tr.span(name)(materialize(df))
    val bench = cfg.benchmarkPath.get
    Seq(
      stage("s1_exact", Nil, "") { in =>
        val text = layer("queries.SpanQueries.allText")(
          SpanQueries.allText(in.select(col("doc_id"), col("spans"))))
        layer("functions.Dedup.dropExactDuplicates")(Dedup.dropExactDuplicates(text))
      },
      stage("s1b_lines", Nil, s"maxDocFreq=${cfg.lineMaxDocFreq}") { in =>
        layer("functions.Dedup.dropRepeatedLines")(Dedup.dropRepeatedLines(in, cfg.lineMaxDocFreq))
      },
      stage("s2_neardup", Nil, s"threshold=${cfg.threshold},ngram=${cfg.ngram}") { in =>
        layer("functions.Dedup.dropNearDuplicates")(Dedup.dropNearDuplicates(in, cfg.threshold, cfg.ngram))
      },
      stage("s2b_substr", Nil, s"window=${cfg.substrWindow}") { in =>
        layer("functions.Dedup.dropDuplicatedSubstrings")(Dedup.dropDuplicatedSubstrings(in, cfg.substrWindow))
      },
      stage("s3_decontam", Seq(bench), s"ngram=${cfg.contaminationNgram}") { in =>
        layer("functions.Dedup.dropContaminated")(
          Dedup.dropContaminated(in, spark.read.parquet(bench), cfg.contaminationNgram))
      },
      stage("s4_quality", Nil, s"keepFrac=${cfg.keepFrac}") { in =>
        layer("functions.Packing.qualityTopFraction")(
          in.join(Packing.qualityTopFraction(in, cfg.keepFrac).select(col("doc_id")), Seq("doc_id"), "left_semi"))
      },
      stage("s5_pack", Nil, s"seqLen=${cfg.seqLen}") { in =>
        layer("functions.Packing.packSequences")(Packing.packSequences(in, cfg.seqLen))
      })
  }
}
