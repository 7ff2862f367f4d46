package graft.perfbench

import org.apache.spark.PerfbenchBridge
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{Expression, LeafExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.execution.{CollectMetricsExec, FileSourceScanExec, InputAdapter,
  QueryExecution, SortExec, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.datasources.WriteFilesExec
import org.apache.spark.sql.execution.exchange.{Exchange, ReusedExchangeExec}
import org.apache.spark.sql.util.QueryExecutionListener
import scala.collection.mutable

/** Task metrics summed over the tasks of one span's jobs. */
final class TaskStats {
  val runMs = mutable.ArrayBuffer[Long]()
  var gcMs, spill, shuffleWrite, bytesRead, bytesWritten, peakMem = 0L
  def add(o: TaskStats): Unit = {
    runMs ++= o.runMs; gcMs += o.gcMs; spill += o.spill; shuffleWrite += o.shuffleWrite
    bytesRead += o.bytesRead; bytesWritten += o.bytesWritten; peakMem = math.max(peakMem, o.peakMem)
  }
}

/** One traced call into a layer. */
final class SpanRec(val id: Int, val name: String, val parent: Int, val start: Long) {
  var end = 0L
  val qes = mutable.ArrayBuffer[QueryExecution]()
  val tasks = new TaskStats
  val counts = mutable.LinkedHashMap[String, Double]()
  def seconds: Double = (end - start) / 1e9
}

/** In-memory span recorder for the traced run. Each span sets a Spark job
  * group, so the benchmark's own `SparkListener` can attribute task
  * metrics to it; query executions reported to its `QueryExecutionListener`
  * are attributed to the innermost open span once the listener bus has
  * drained. Nothing inside the program is instrumented. */
final class Tracer(spark: SparkSession) {
  private val sc = spark.sparkContext
  val spans = mutable.ArrayBuffer[SpanRec]()
  private var open: List[SpanRec] = Nil
  private val stageSpan = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
  private val pendingQe = new java.util.concurrent.ConcurrentLinkedQueue[QueryExecution]()
  private val pendingTasks = new java.util.concurrent.ConcurrentLinkedQueue[(Int, TaskStats)]()

  private val taskListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      g.filter(_.startsWith("span-")).foreach { s =>
        e.stageIds.foreach(st => stageSpan.put(st, s.stripPrefix("span-").toInt))
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m != null && stageSpan.containsKey(e.stageId)) {
        val t = new TaskStats
        t.runMs += m.executorRunTime
        t.gcMs = m.jvmGCTime
        t.spill = m.memoryBytesSpilled + m.diskBytesSpilled
        t.shuffleWrite = m.shuffleWriteMetrics.bytesWritten
        t.bytesRead = m.inputMetrics.bytesRead
        t.bytesWritten = m.outputMetrics.bytesWritten
        t.peakMem = m.peakExecutionMemory
        pendingTasks.add(stageSpan.get(e.stageId) -> t)
      }
    }
  }
  private val planListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = pendingQe.add(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }
  sc.addSparkListener(taskListener)
  spark.listenerManager.register(planListener)

  private def drain(): Unit = {
    PerfbenchBridge.drain(sc)
    var q = pendingQe.poll()
    while (q != null) { open.headOption.foreach(_.qes += q); q = pendingQe.poll() }
    var t = pendingTasks.poll()
    while (t != null) { if (t._1 < spans.size) spans(t._1).tasks.add(t._2); t = pendingTasks.poll() }
  }

  def span[A](name: String)(f: => A): A = {
    drain()
    val s = new SpanRec(spans.size, name, open.headOption.map(_.id).getOrElse(-1), System.nanoTime())
    spans += s
    open = s :: open
    sc.setJobGroup(s"span-${s.id}", name)
    try f finally {
      s.end = System.nanoTime()
      drain()
      open = open.tail
      open.headOption match {
        case Some(p) => sc.setJobGroup(s"span-${p.id}", p.name)
        case None => sc.clearJobGroup()
      }
    }
  }

  /** Record a count on the innermost open span. */
  def count(key: String, v: Double): Unit =
    open.headOption.foreach(s => s.counts(key) = s.counts.getOrElse(key, 0.0) + v)

  def close(): Unit = {
    drain()
    sc.removeSparkListener(taskListener)
    spark.listenerManager.unregister(planListener)
  }

  def descendants(s: SpanRec): Seq[SpanRec] = {
    val kids = spans.filter(_.parent == s.id).toSeq
    kids ++ kids.flatMap(descendants)
  }
  /** Self time: the span minus the part its direct children cover. */
  def selfSeconds(s: SpanRec): Double = s.seconds - spans.filter(_.parent == s.id).map(_.seconds).sum

  /** Spans of `name` under (and including) `root`. */
  def named(root: SpanRec, name: String): Seq[SpanRec] =
    (root +: descendants(root)).filter(_.name == name)

  /** Task metrics of the spans and everything they called. */
  def tasksOf(ss: Seq[SpanRec]): TaskStats = {
    val t = new TaskStats
    (ss ++ ss.flatMap(descendants)).distinct.foreach(s => t.add(s.tasks))
    t
  }

  def toJson: String = spans.map { s =>
    val counts = s.counts.map { case (k, v) => s""""$k":$v""" }.mkString(",")
    s"""{"id":${s.id},"name":"${s.name}","parent":${s.parent},"start_ns":${s.start},""" +
      s""""end_ns":${s.end},"self_s":${selfSeconds(s)},"tasks":${s.tasks.runMs.size},""" +
      s""""busy_s":${s.tasks.runMs.sum / 1e3},"shuffle_write_bytes":${s.tasks.shuffleWrite},""" +
      s""""counts":{$counts}}"""
  }.mkString("[\n", ",\n", "\n]\n")
}

/** What the executed plans of a set of query executions did, visiting every
  * physical node once per traced run (a cached plan is shared by every
  * query that reads the cache, so it counts for the query that built it). */
final class PlanStats {
  private val seen = java.util.Collections.newSetFromMap(
    new java.util.IdentityHashMap[AnyRef, java.lang.Boolean]())
  var scans = 0
  var interpreted = 0
  val observed = mutable.Map[String, Long]()

  def add(qes: Seq[QueryExecution], scanRoot: String): Unit =
    qes.foreach(qe => visit(qe.executedPlan, inCodegen = false, scanRoot))

  private def countable(p: SparkPlan): Boolean = p match {
    case _: Exchange | _: FileSourceScanExec | _: SortExec | _: InMemoryTableScanExec |
         _: DataWritingCommandExec | _: WriteFilesExec => false
    case _ => true
  }

  private def visit(p: SparkPlan, inCodegen: Boolean, scanRoot: String): Unit =
    if (seen.add(p)) p match {
      case a: AdaptiveSparkPlanExec => visit(a.executedPlan, inCodegen = false, scanRoot)
      case s: QueryStageExec => visit(s.plan, inCodegen = false, scanRoot)
      case _: ReusedExchangeExec => ()
      case w: WholeStageCodegenExec => visit(w.child, inCodegen = true, scanRoot)
      case i: InputAdapter => visit(i.child, inCodegen = false, scanRoot)
      case m: InMemoryTableScanExec =>
        visit(m.relation.cacheBuilder.cachedPlan, inCodegen = false, scanRoot)
      case other =>
        other match {
          case f: FileSourceScanExec
              if f.relation.location.rootPaths.exists(_.toUri.getPath.startsWith(scanRoot)) =>
            scans += 1
          case c: CollectMetricsExec if c.name.startsWith("graft.") && c.name.contains(".bands.") =>
            val r = c.collectedMetrics
            val i = r.schema.fieldNames.indexOf("n_hot_buckets")
            if (i >= 0 && !r.isNullAt(i)) observed(c.name) = math.max(observed.getOrElse(c.name, 0L), r.getLong(i))
          case _ =>
        }
        val count = countable(other) && !inCodegen
        other.expressions.foreach(e => interpreted += e.collect {
          case x: CodegenFallback => 1
          case x: Expression if count && !x.isInstanceOf[LeafExpression] => 1
        }.sum)
        (other.children ++ other.subqueries).foreach(visit(_, inCodegen, scanRoot))
    }
}
