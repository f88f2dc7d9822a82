package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.sun.management.GarbageCollectionNotificationInfo
import org.apache.spark.sql.SparkSession

/** What a workload hands the closed loop: one operation. `run` makes the
  * calls into the program and ends in an action; `check` verifies its value
  * and throws [[CheckFailed]] on a mismatch. `work` is the operation's size
  * in the workload's own unit (docs, megapixels), 0 where none applies. */
final case class Op(kind: String, cls: String, run: () => Any,
                    check: Any => Unit, work: Double = 0.0)

/** One finished operation as the client saw it. */
final case class Sample(kind: String, cls: String, round: Int, ms: Double,
                        ok: Boolean, work: Double, error: String)

/** Everything a workload may use while it sets up and runs. */
final case class Ctx(spark: SparkSession, dir: Path, tracer: Tracer, cores: Int)

trait Workload {
  /** Generate the inputs under `ctx.dir`. Runs once per set-up, each time in
    * a fresh session. */
  def setup(ctx: Ctx): Unit
  /** Call every operation kind once, so the loop runs on a warm JVM. Runs
    * once, after the last set-up. */
  def warmUp(ctx: Ctx): Unit
  /** Operations per round; the loop only stops at a round boundary, so every
    * run measures whole rounds of the same seeded mix. */
  def roundSize: Int
  /** The i-th operation of the closed loop. */
  def op(ctx: Ctx, i: Int): Op
  /** The `cls` values of this workload's operations. */
  def classes: Set[String]
  /** The op mixes this workload runs, each as its set of `cls` values;
    * ops_per_s weighs every mix equally. */
  def mixes: Seq[Set[String]] = Seq(classes)
  /** The input sizes and properties an optimisation may depend on. */
  def properties: Seq[(String, Any)]
  /** Workload-level measures taken after the loop (bytes on disk, ...). */
  def finish(ctx: Ctx, samples: Seq[Sample]): Map[String, Double]
}

/** Two workloads in one run: each round is a round of `a` followed by a
  * round of `b`, so one JVM's start-up and set-up serve both. */
final class Mixed(a: Workload, b: Workload) extends Workload {
  val roundSize: Int = a.roundSize + b.roundSize
  def setup(ctx: Ctx): Unit = { a.setup(ctx); b.setup(ctx) }
  def warmUp(ctx: Ctx): Unit = { a.warmUp(ctx); b.warmUp(ctx) }
  def op(ctx: Ctx, i: Int): Op = {
    val (r, k) = (i / roundSize, i % roundSize)
    if (k < a.roundSize) a.op(ctx, r * a.roundSize + k) else b.op(ctx, r * b.roundSize + k - a.roundSize)
  }
  def properties: Seq[(String, Any)] = a.properties ++ b.properties
  val classes: Set[String] = a.classes ++ b.classes
  override def mixes: Seq[Set[String]] = a.mixes ++ b.mixes
  def finish(ctx: Ctx, samples: Seq[Sample]): Map[String, Double] =
    a.finish(ctx, samples.filter(s => a.classes(s.cls))) ++ b.finish(ctx, samples.filter(s => b.classes(s.cls)))
}

/** The benchmark's JVM entry point. One closed-loop client, one session on
  * local[N]; the python wrapper builds the classpath and starts this in a
  * fresh JVM for every run. Writes the full run record (every metric,
  * properties, samples summary) as JSON to `--record`. */
object Main {
  /** The tail percentile. A run holds 18 or 28 operations, too few for the
    * highest percentile with ten samples beyond it; the record states how
    * many samples lie beyond. */
  val TailPct = 90.0

  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
                        record: Path, work: Path, tiny: Boolean, injectFailure: Boolean,
                        spans: Option[Path]) {
    /** Set-ups per run; setup_s is their median. */
    def setups: Int = if (tiny) 1 else 3
  }

  def parse(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Args(m("workload"), m("seed").toLong, m("seconds").toDouble, m.getOrElse("trace", "0") == "1",
      Paths.get(m("record")), Paths.get(m("work")), m.getOrElse("tiny", "0") == "1",
      m.getOrElse("inject-failure", "0") == "1", m.get("spans").map(Paths.get(_)))
  }

  def workload(name: String, seed: Long, tiny: Boolean): Workload = name match {
    case "shop" => new Mixed(new ShopAnalytics(seed, tiny), new ShopLake(seed, tiny))
    case "llm_data" => new Mixed(new CorpusWorkload(seed, tiny), new MediaDecode(seed, tiny))
    case "shop_analytics" => new ShopAnalytics(seed, tiny)
    case "shop_lake" => new ShopLake(seed, tiny)
    case "corpus_ingest" => new CorpusWorkload(seed, tiny)
    case "media_decode" => new MediaDecode(seed, tiny)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  def session(cores: Int, local: Path): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", local.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", local.resolve("spark-warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Driver heap in use right after each collection, in MB. */
  final class HeapWatch {
    private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP).map(_.getName).toSet
    @volatile var armed = false
    val afterMb = mutable.ArrayBuffer.empty[Double]
    private val listener = new NotificationListener {
      def handleNotification(n: Notification, hb: AnyRef): Unit =
        if (armed && n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
          val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
          val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
            .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum / (1024.0 * 1024.0)
          afterMb.synchronized(afterMb += used)
        }
    }
    ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
      case e: NotificationEmitter => e.addNotificationListener(listener, null, null)
      case _ =>
    }
  }

  /** Heap in use after a full collection (synchronous under the parallel
    * collector), in MB: what the driver holds live at that moment. A second
    * collection follows a short pause, once Spark's cleaner has dropped the
    * blocks of objects the first one found unreachable. */
  def liveHeapMb(): Double = {
    System.gc()
    Thread.sleep(200)
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
  }

  /** CPU time this JVM has used, in ns. */
  def processCpuNs(): Long = ManagementFactory.getOperatingSystemMXBean match {
    case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime
    case _ => 0L
  }

  /** The host's (steal, total) CPU ticks from /proc/stat, where the kernel
    * has it. */
  def hostCpuTicks(): Option[(Long, Long)] = scala.util.Try {
    val f = new String(Files.readAllBytes(Paths.get("/proc/stat")), StandardCharsets.US_ASCII)
      .linesIterator.next().trim.split("\\s+").drop(1).map(_.toLong)
    (f(7), f.take(8).sum)
  }.toOption

  /** The share of the host's CPU time the hypervisor gave to other guests
    * between two readings (0 where the kernel does not report it). */
  def stealShare(from: Option[(Long, Long)], to: Option[(Long, Long)]): Double =
    from.zip(to).map { case ((s0, t0), (s1, t1)) =>
      if (t1 > t0) (s1 - s0).toDouble / (t1 - t0) else 0.0 }.getOrElse(0.0)

  /** A failure by its root cause (a task's error arrives wrapped by Spark). */
  def describe(e: Throwable): String = {
    val root = Iterator.iterate(e)(_.getCause).takeWhile(_ != null).toSeq.last
    s"${root.getClass.getSimpleName}: ${root.getMessage}".take(300)
  }

  /** Linearly interpolated percentile of sorted values. */
  def percentile(sorted: IndexedSeq[Double], p: Double): Double =
    if (sorted.isEmpty) 0.0
    else {
      val pos = p / 100.0 * (sorted.size - 1)
      val lo = pos.toInt
      val hi = math.min(lo + 1, sorted.size - 1)
      sorted(lo) + (sorted(hi) - sorted(lo)) * (pos - lo)
    }

  /** Passing operations per second of their own time, weighted so that
    * every op mix counts equally and, within a mix, every op kind does: the
    * geometric mean over mixes of the geometric mean over the mix's kinds
    * (a kind's parameters, as in `top_customers(k=25)`, do not make it
    * another kind). A kind's rate is its passing operations over their
    * summed time, so one long operation cannot outweigh the rest of its
    * workload. */
  def opsPerS(ok: Seq[Sample], mixes: Seq[Set[String]]): Double = {
    def geomean(xs: Iterable[Double]) = if (xs.isEmpty) 0.0 else math.exp(xs.map(math.log).sum / xs.size)
    geomean(mixes.map { m =>
      geomean(ok.filter(s => m(s.cls)).groupBy(_.kind.takeWhile(_ != '(')).values
        .map(ss => ss.size / (ss.map(_.ms).sum / 1000.0)))
    }.filter(_ > 0))
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted.toIndexedSeq
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val cores = math.min(4, Runtime.getRuntime.availableProcessors())
    val tracer = new Tracer(a.trace, s"${a.workload}-${a.seed}-${ProcessHandle.current().pid()}")
    val wl = workload(a.workload, a.seed, a.tiny)
    val heap = new HeapWatch

    // Set-up, several times, each with a fresh session and fresh inputs;
    // only the last one is traced and kept for the loop. The first set-up
    // in a fresh JVM also pays class loading; setup_s is the median.
    val setupS = mutable.ArrayBuffer.empty[Double]
    var spark: SparkSession = null
    var ctx: Ctx = null
    for (k <- 0 until a.setups) {
      if (spark != null) { spark.stop(); SparkSession.clearActiveSession(); SparkSession.clearDefaultSession() }
      val last = k == a.setups - 1
      val t = if (last) tracer else new Tracer(false, tracer.runId)
      val dir = a.work.resolve(s"setup$k")
      Files.createDirectories(dir)
      val t0 = System.nanoTime()
      spark = session(cores, dir)
      t.attach(spark)
      ctx = Ctx(spark, dir, t, cores)
      wl.setup(ctx)
      setupS += (System.nanoTime() - t0) / 1e9
      if (!last) FileTree.delete(dir)
    }
    // A warm-up call that fails is recorded; the same call fails again in
    // the loop, where it counts.
    val w0 = System.nanoTime()
    val warmUpError = try { tracer.paused(wl.warmUp(ctx)); "" } catch { case e: Throwable => describe(e) }
    val warmS = (System.nanoTime() - w0) / 1e9

    // The closed loop: the next operation starts when the previous returns,
    // and whole rounds run until the operations have taken --seconds. A full
    // collection after each round (outside every timing) samples the live
    // heap; heap_peak_mb is the largest sample. The share of host CPU the
    // hypervisor gave to other guests during each round is recorded beside
    // the figures it may explain.
    System.gc()
    val gc0 = Tracer.gcMillis(); val gcN0 = Tracer.gcCount()
    val (cpu0, host0) = (processCpuNs(), hostCpuTicks())
    heap.armed = true
    val samples = mutable.ArrayBuffer.empty[Sample]
    val liveMb = mutable.ArrayBuffer.empty[Double]
    val roundSteal = mutable.ArrayBuffer.empty[Double]
    var busyNs = 0L
    while (roundSteal.isEmpty || busyNs / 1e9 < a.seconds) {
      val round = roundSteal.size
      val h0 = hostCpuTicks()
      var roundNs = 0L
      for (k <- 0 until wl.roundSize) {
        val i = round * wl.roundSize + k
        val base = wl.op(ctx, i)
        val op = if (!a.injectFailure) base else i % 7 match {
          case 3 => base.copy(check = _ => throw new CheckFailed("injected check failure"))
          case 5 => base.copy(run = () => throw new IllegalStateException("injected failure"))
          case _ => base
        }
        val t0 = System.nanoTime()
        val result = try Right(tracer.span("bench", op.kind)(op.run())) catch { case e: Throwable => Left(e) }
        val ns = System.nanoTime() - t0
        roundNs += ns
        val err = result.flatMap(r => try { op.check(r); Right(()) } catch { case e: Throwable => Left(e) })
        samples += Sample(op.kind, op.cls, round, ns / 1e6, err.isRight, op.work,
          err.left.toOption.map(describe).getOrElse(""))
      }
      roundSteal += stealShare(h0, hostCpuTicks())
      busyNs += roundNs
      liveMb += liveHeapMb()
    }
    heap.armed = false
    val (cpu1, host1) = (processCpuNs(), hostCpuTicks())
    val extra = wl.finish(ctx, samples.toSeq)
    tracer.drain()
    val layer = if (a.trace) tracer.layerMetrics(cores) else Map.empty[String, Double]
    spark.stop()

    val ok = samples.filter(_.ok).toSeq
    val failed = samples.count(!_.ok)
    def lat(cls: String => Boolean) = ok.filter(s => cls(s.cls)).map(_.ms).sorted.toIndexedSeq
    val all = lat(_ => true)
    val e2e = mutable.LinkedHashMap[String, (Double, String)](
      "setup_s" -> (median(setupS.toSeq) -> "s"),
      "heap_peak_mb" -> (liveMb.max -> "MB"),
      "op_p50_ms" -> (percentile(all, 50) -> "ms"),
      "op_tail_ms" -> (percentile(all, TailPct) -> "ms"),
      "ops_per_s" -> (opsPerS(ok, wl.mixes) -> "1/s"))
    val q = lat(_ == "query"); val c = lat(_ == "commit"); val r = lat(_ == "read")
    val perLayer = mutable.LinkedHashMap[String, Double](
      "ops_failed_frac" -> (if (samples.isEmpty) 0.0 else failed.toDouble / samples.size),
      "query_p50_ms" -> percentile(q, 50), "query_tail_ms" -> percentile(q, TailPct),
      "commit_p50_ms" -> percentile(c, 50), "commit_tail_ms" -> percentile(c, TailPct),
      "read_p50_ms" -> percentile(r, 50), "read_tail_ms" -> percentile(r, TailPct),
      "write_amp" -> extra.getOrElse("write_amp", 0.0),
      "space_amp" -> extra.getOrElse("space_amp", 0.0),
      "docs_per_s" -> extra.getOrElse("docs_per_s", 0.0),
      "media_mpix_per_s" -> extra.getOrElse("media_mpix_per_s", 0.0),
      "jvm.gc_ms" -> (Tracer.gcMillis() - gc0).toDouble,
      "jvm.gc_count" -> (Tracer.gcCount() - gcN0).toDouble,
      "jvm.heap_after_gc_mb" -> median(heap.afterMb.toSeq))
    perLayer ++= layer

    val kinds = samples.groupBy(_.kind).toSeq.sortBy(_._1).map { case (k, ss) =>
      k -> Map("n" -> ss.size, "failed" -> ss.count(!_.ok),
        "p50_ms" -> percentile(ss.filter(_.ok).map(_.ms).sorted.toIndexedSeq, 50)) }
    val record = Json.obj(Seq(
      "workload" -> a.workload, "seed" -> a.seed, "trace" -> a.trace,
      "cores" -> cores, "seconds" -> a.seconds, "busy_s" -> busyNs / 1e9,
      "rounds" -> roundSteal.size, "round_steal_share" -> roundSteal.toSeq,
      "attempted" -> samples.size, "failed" -> failed,
      "correct" -> (failed == 0),
      "latency_samples" -> all.size, "tail_pct" -> TailPct,
      "tail_samples_beyond" -> all.count(_ > percentile(all, TailPct)),
      "setup_runs_s" -> setupS.toSeq, "warm_up_s" -> warmS, "warm_up_error" -> warmUpError,
      "loop_process_cpu_s" -> (cpu1 - cpu0) / 1e9, "loop_steal_share" -> stealShare(host0, host1),
      "end_to_end" -> e2e.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) }.toMap,
      "per_layer" -> perLayer.toMap,
      "properties" -> wl.properties.toMap,
      "kinds" -> kinds.toMap,
      "errors" -> samples.filterNot(_.ok).map(s => s"${s.kind}: ${s.error}").distinct.take(20),
      "samples" -> samples.map(s => Seq(s.kind, math.round(s.ms * 1000) / 1000.0, s.ok)).toSeq))
    Files.createDirectories(a.record.toAbsolutePath.getParent)
    Files.write(a.record, record.getBytes(StandardCharsets.UTF_8))
    a.spans.foreach(p => Files.write(p, tracer.spanLines.toSeq.asJava, StandardCharsets.UTF_8))
  }
}
