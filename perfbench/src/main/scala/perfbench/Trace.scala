package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, BroadcastNestedLoopJoinExec, CartesianProductExec, ShuffledHashJoinExec, SortMergeJoinExec}
import org.apache.spark.sql.util.QueryExecutionListener

/** One traced call: a span around a call the benchmark makes into a layer
  * of the program (or, for layer "bench", around one whole operation of the
  * closed-loop client). Times are wall clock; `gcMs` is the driver JVM's
  * collector time over the span. */
final case class Span(id: Int, parent: Int, depth: Int, layer: String,
                      name: String, runId: String, startMs: Long,
                      startNs: Long, gcStart: Long) {
  var endMs: Long = 0L
  var endNs: Long = 0L
  var gcEnd: Long = 0L
  def durMs: Double = (endNs - startNs) / 1e6
  def gcMs: Long = gcEnd - gcStart
}

/** Spans plus the Spark counters that fall inside them.
  *
  * Every span sets the Spark job group to its own id, so the benchmark's
  * SparkListener can tie each job (and through its stages, each task) to
  * the span that caused it. Jobs that run under another group (a streaming
  * query sets its own) and query executions, whose callbacks carry no
  * group, are tied to the innermost span open at their start time: the
  * client is one thread, so at any instant at most one innermost span is
  * open. Spans and raw events stay in memory until [[finish]].
  *
  * A disabled tracer runs the body and records nothing, so the untraced
  * run carries neither listener nor span bookkeeping. */
final class Tracer(val enabled: Boolean, val runId: String) {
  import Tracer._

  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Span] = Nil
  private var sc: SparkContext = _
  private val counts = mutable.LinkedHashMap.empty[String, Double]

  private val jobs = new ConcurrentLinkedQueue[JobRec]()
  private val jobEnds = new java.util.concurrent.ConcurrentHashMap[Int, java.lang.Long]()
  private val stages = new java.util.concurrent.ConcurrentHashMap[Int, StageAgg]()
  private val qes = new ConcurrentLinkedQueue[QeRec]()

  /** Attach the listeners to a new session (once per session). */
  def attach(spark: SparkSession): Unit = if (enabled) {
    sc = spark.sparkContext
    sc.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val g = Option(e.properties).map(_.getProperty("spark.jobGroup.id"))
          .flatMap(Option(_)).getOrElse("")
        jobs.add(JobRec(e.jobId, g, e.time, e.stageIds))
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        jobEnds.put(e.jobId, e.time)
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
        val m = e.taskMetrics
        val a = stages.computeIfAbsent(e.stageId, _ => new StageAgg)
        a.synchronized {
          a.tasks += 1
          if (m != null) {
            a.runMs += m.executorRunTime
            a.cpuNs += m.executorCpuTime
            a.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
            a.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
            a.outBytes += m.outputMetrics.bytesWritten
          }
        }
      }
    })
    spark.listenerManager.register(new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        qes.add(qeRec(qe))
      override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
        qes.add(qeRec(qe))
    })
  }

  /** Run `body` with no spans recorded (the warm-up). */
  def paused[T](body: => T): T = {
    val was = on; on = false
    try body finally on = was
  }
  private var on = enabled

  /** Run `body` inside a span of `layer`. Nested spans become children. */
  def span[T](layer: String, name: String)(body: => T): T = {
    if (!on) return body
    val parent = stack.headOption
    val s = Span(spans.size, parent.map(_.id).getOrElse(-1),
      parent.map(_.depth + 1).getOrElse(0), layer, name, runId,
      System.currentTimeMillis(), System.nanoTime(), gcMillis())
    spans += s
    stack = s :: stack
    if (sc != null) sc.setJobGroup(GroupPrefix + s.id, s"$layer:$name")
    try body
    finally {
      s.endNs = System.nanoTime(); s.endMs = System.currentTimeMillis()
      s.gcEnd = gcMillis()
      stack = stack.tail
      if (sc != null) stack.headOption match {
        case Some(p) => sc.setJobGroup(GroupPrefix + p.id, s"${p.layer}:${p.name}")
        case None => sc.clearJobGroup()
      }
    }
  }

  /** Add to a named count measured by the workload (traced runs only). */
  def count(key: String, v: Double): Unit = if (on) counts(key) = counts.getOrElse(key, 0.0) + v

  /** Wait for Spark's listener bus (call before the session stops). */
  def drain(): Unit = if (enabled && sc != null) org.apache.spark.PerfbenchBus.drain(sc)

  /** Per-layer metrics from the recorded spans and counters. */
  def layerMetrics(cores: Int): Map[String, Double] = {
    val done = spans.filter(_.endNs > 0L).toIndexedSeq
    val byTime = done.sortBy(_.startMs)
    def innermostAt(t: Long): Option[Span] =
      byTime.filter(s => s.startMs <= t && t <= s.endMs).sortBy(-_.depth).headOption
    val children = done.groupBy(_.parent)
    val jobsBySpan = mutable.Map.empty[Int, List[JobRec]].withDefaultValue(Nil)
    jobs.asScala.foreach { j =>
      val sid =
        if (j.group.startsWith(GroupPrefix)) Some(j.group.stripPrefix(GroupPrefix).toInt)
        else innermostAt(j.startMs).map(_.id)
      sid.foreach(id => jobsBySpan(id) = j :: jobsBySpan(id))
    }
    val qesBySpan = qes.asScala.toSeq.flatMap(q => innermostAt(q.startMs).map(_.id -> q))
      .groupBy(_._1).view.mapValues(_.map(_._2)).toMap

    val out = mutable.LinkedHashMap.empty[String, Double]
    for (layer <- Layers) {
      val ss = done.filter(_.layer == layer)
      var selfMs, driverMs, planMs, gcMs = 0.0
      var nJobs, nTasks = 0L
      var cpuMs, runMs, shuffle, spill, outBytes, files = 0.0
      var scans, readQes = 0L
      var pairRows = 0.0
      for (s <- ss) {
        val kids = children.getOrElse(s.id, Nil)
        val self = math.max(0.0, s.durMs - kids.map(_.durMs).sum)
        selfMs += self
        gcMs += math.max(0L, s.gcMs - kids.map(_.gcMs).sum)
        val js = jobsBySpan(s.id)
        nJobs += js.size
        val busy = unionMs(js.map(j => (math.max(j.startMs, s.startMs),
          math.min(Option(jobEnds.get(j.jobId)).map(_.longValue).getOrElse(s.endMs), s.endMs))))
        driverMs += math.max(0.0, self - busy)
        for (j <- js; st <- j.stageIds; a <- Option(stages.get(st))) {
          nTasks += a.tasks; cpuMs += a.cpuNs / 1e6; runMs += a.runMs
          shuffle += a.shuffleBytes; spill += a.spillBytes; outBytes += a.outBytes
        }
        for (q <- qesBySpan.getOrElse(s.id, Nil)) {
          planMs += q.planMs
          files += q.filesWritten
          pairRows += q.maxJoinRows
          if (s.name.startsWith("LakeTable.read")) { scans += q.scans; readQes += 1 }
        }
      }
      val p = layer + "."
      out(p + "calls") = ss.size
      out(p + "self_ms") = selfMs
      out(p + "driver_ms") = driverMs
      out(p + "jobs") = nJobs
      out(p + "tasks") = nTasks
      out(p + "task_cpu_ms") = cpuMs
      out(p + "occupancy") = if (selfMs > 0) runMs / (selfMs * cores) else 0.0
      out(p + "plan_ms") = planMs
      out(p + "shuffle_bytes") = shuffle
      out(p + "spill_bytes") = spill
      out(p + "gc_ms") = gcMs
      layer match {
        case "tables" =>
          out("tables.bytes_written") = outBytes
          out("tables.files_written") = files
          out("tables.dirs_per_read") = if (readQes > 0) scans.toDouble / readQes else 0.0
          out("tables.disk_bytes") = counts.getOrElse("tables.disk_bytes", 0.0)
          out("tables.live_bytes") = counts.getOrElse("tables.live_bytes", 0.0)
        case "text" =>
          val verified = counts.getOrElse("text.verified_pairs", 0.0)
          out("text.candidate_pairs") = pairRows
          out("text.verified_pairs") = verified
          out("text.pair_yield") = if (pairRows > 0) verified / pairRows else 0.0
        case "sim" =>
          val probes = counts.getOrElse("sim.probes", 0.0)
          out("sim.pairs_scored") = pairRows
          out("sim.pairs_per_probe") = if (probes > 0) pairRows / probes else 0.0
        case "stream" =>
          val batches = counts.getOrElse("stream.batches", 0.0)
          out("stream.batches") = batches
          out("stream.batch_ms") = if (batches > 0) selfMs / batches else 0.0
        case "multimodal" =>
          out("multimodal.mpix_decoded") = counts.getOrElse("multimodal.mpix_decoded", 0.0)
          out("multimodal.bytes_in") = counts.getOrElse("multimodal.bytes_in", 0.0)
          out("multimodal.decode_errors") = counts.getOrElse("multimodal.decode_errors", 0.0)
        case _ =>
      }
    }
    out.toMap
  }

  /** The recorded spans as JSON lines (name, start, end, parent, run id). */
  def spanLines: Iterator[String] = spans.iterator.filter(_.endNs > 0L).map { s =>
    Json.obj(Seq("run" -> s.runId, "id" -> s.id, "parent" -> s.parent,
      "layer" -> s.layer, "name" -> s.name, "start_ms" -> s.startMs,
      "end_ms" -> s.endMs, "dur_ms" -> s.durMs, "gc_ms" -> s.gcMs))
  }
}

object Tracer {
  /** The program's layers, named after its packages. */
  val Layers: Seq[String] = Seq("ingest", "ops", "tables", "stream", "text", "sim", "multimodal")
  private val GroupPrefix = "perfbench-span-"

  final case class JobRec(jobId: Int, group: String, startMs: Long, stageIds: Seq[Int])
  final class StageAgg {
    var tasks = 0L; var runMs = 0L; var cpuNs = 0L
    var shuffleBytes = 0L; var spillBytes = 0L; var outBytes = 0L
  }
  final case class QeRec(startMs: Long, planMs: Double, scans: Int,
                         filesWritten: Long, maxJoinRows: Long)

  def gcMillis(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(b => math.max(0L, b.getCollectionTime)).sum
  def gcCount(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(b => math.max(0L, b.getCollectionCount)).sum

  private def unionMs(iv: Seq[(Long, Long)]): Double = {
    var total = 0L; var curS = Long.MinValue; var curE = Long.MinValue
    for ((s, e) <- iv.filter(x => x._2 > x._1).sortBy(_._1)) {
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (curE > curS) total += curE - curS
    total.toDouble
  }

  /** Every physical node of an executed plan, through adaptive wrappers. */
  private def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case q: QueryStageExec => nodes(q.plan)
    case other => other +: (other.children ++ other.subqueries).flatMap(nodes)
  }

  private def qeRec(qe: QueryExecution): QeRec = {
    val phases = qe.tracker.phases
    val start = if (phases.isEmpty) System.currentTimeMillis() else phases.values.map(_.startTimeMs).min
    val planMs = phases.values.map(_.durationMs).sum.toDouble
    val ns = scala.util.Try(nodes(qe.executedPlan)).getOrElse(Nil)
    def rows(n: SparkPlan): Long = n.metrics.get("numOutputRows").map(_.value).getOrElse(0L)
    val joinRows = ns.collect {
      case j: SortMergeJoinExec => rows(j)
      case j: ShuffledHashJoinExec => rows(j)
      case j: BroadcastHashJoinExec => rows(j)
      case j: BroadcastNestedLoopJoinExec => rows(j)
      case j: CartesianProductExec => rows(j)
    }
    val files = ns.collect { case w: DataWritingCommandExec =>
      w.cmd.metrics.get("numFiles").map(_.value).getOrElse(0L) }.sum
    QeRec(start, planMs, ns.count(_.isInstanceOf[FileSourceScanExec]), files,
      if (joinRows.isEmpty) 0L else joinRows.max)
  }
}
