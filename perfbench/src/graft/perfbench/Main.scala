package graft.perfbench

import org.apache.spark.sql.SparkSession
import scala.collection.mutable

/** Benchmark entry point (run through `perfbench/run.py`, which builds the
  * classes and supplies the work directory):
  *
  * {{{
  * Main --workload extract_flat|extract_skew|pipeline_dedup --seed N
  *      --seconds S --trace 0|1 --work DIR --trace-out FILE
  * }}}
  *
  * One driver process, one job at a time, `local[nproc]`. Prints progress
  * lines and, last, one JSON object: `correct`, `attempted`, `failed` and
  * the end-to-end metrics (`--trace 0`) or the per-layer metrics
  * (`--trace 1`).
  */
object Main {
  def session(cores: Int): SparkSession = SparkSession.builder()
    .master(s"local[$cores]")
    .appName("perfbench")
    .config("spark.sql.shuffle.partitions", cores.toString)
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .getOrCreate()

  def main(args: Array[String]): Unit = {
    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val opts = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val workload = opts("workload")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val trace = opts.getOrElse("trace", "0") == "1"
    val work = opts("work")
    require(Set("extract_flat", "extract_skew", "pipeline_dedup")(workload), s"unknown workload $workload")

    val cores = Runtime.getRuntime.availableProcessors()
    val spark = session(cores)
    val sessionS = (System.currentTimeMillis() - jvmStart) / 1e3
    println(s"""# context {"nproc":$cores,"spark_parallelism":${spark.sparkContext.defaultParallelism},""" +
      s""""heap_bytes":${Runtime.getRuntime.maxMemory}}""")
    try {
      val w: Workload = workload match {
        case "extract_flat" => new ExtractionWorkload(spark, seed, work, skew = false)
        case "extract_skew" => new ExtractionWorkload(spark, seed, work, skew = true)
        case _ => new PipelineWorkload(spark, seed, work)
      }
      val build = Workloads.timed(w.buildInputs(s"$work/inputs"))
      val warm = Workloads.timed(w.warmUp())
      val setupS = sessionS + build + warm
      println(f"# setup session=$sessionS%.3f inputs=$build%.3f warmup=$warm%.3f")
      w.prepare()
      println(s"# inputs ${w.describe()}")

      val t = new Tally
      val unexpected = mutable.ArrayBuffer[String]()
      def runRound(k: Int): RoundResult = {
        val r = w.round(k, t, unexpected)
        println(f"# round $k fresh=${r.freshS}%.3f resume=${r.resumeS}%.3f write_amp=${r.writeAmp}%.4f " +
          s"attempted=${t.attempted} failed=${t.failed}")
        r
      }
      val metrics: Seq[(String, Double, String)] = if (!trace) {
        // closed loop, one client: whole rounds while the next one is
        // expected to end inside the measured time
        val rounds = mutable.ArrayBuffer[RoundResult]()
        val t0 = System.nanoTime()
        var last = 0.0
        while (rounds.isEmpty || Workloads.secondsSince(t0) + last <= seconds) {
          val r0 = System.nanoTime()
          if (rounds.nonEmpty) Workloads.delete(rounds.last.out)
          rounds += runRound(rounds.size)
          last = Workloads.secondsSince(r0)
        }
        val wall = Workloads.median(rounds.map(_.freshS).toSeq)
        Seq(("setup_s", setupS, "s"), ("wall_s", wall, "s"), ("docs_per_s", w.nDocs / wall, "1/s"),
          ("resume_s", Workloads.median(rounds.map(_.resumeS).toSeq), "s"),
          ("write_amp", Workloads.median(rounds.map(_.writeAmp).toSeq), "ratio"))
      } else {
        // the first untraced job brings every route and stage to the warm
        // state the traced job finds; the second is the overhead baseline
        w.untracedFresh()
        val untraced = w.untracedFresh()
        val m = w.traced(untraced, t, unexpected, opts("trace-out"))
        println(f"# traced untraced_fresh=${untraced._2}%.3f overhead=${m("trace.overhead_s")}%.3f " +
          s"attempted=${t.attempted} failed=${t.failed}")
        Workloads.LayerMetrics.map { case (k, unit) => (k, m(k), unit) }
      }
      t.problems.foreach(p => System.err.println(s"FAILED: $p"))
      unexpected.take(20).foreach(p => System.err.println(s"UNEXPECTED: $p"))
      val body = metrics.map { case (k, v, u) => s""""$k": {"value": $v, "unit": "$u"}""" }.mkString(", ")
      println(s"""{"correct": ${unexpected.isEmpty}, "attempted": ${t.attempted}, "failed": ${t.failed}, "metrics": {$body}}""")
    } finally spark.stop()
  }
}

/** The class-loading run `build.sh` records a JVM class-data-sharing archive
  * from, so that benchmark runs do not pay Spark's class loading in set-up:
  * one full pipeline run (extraction included) on the seed-1 inputs.
  *
  * {{{ Train WORK_DIR }}}
  */
object Train {
  def main(args: Array[String]): Unit = {
    val work = args(0)
    val spark = Main.session(Runtime.getRuntime.availableProcessors())
    try {
      val pipe = new PipelineWorkload(spark, 1, work)
      pipe.buildInputs(s"$work/pipe")
      graft.core.Pipeline.run(spark, pipe.cfg(s"$work/pipe-out"))
    } finally spark.stop()
  }
}
