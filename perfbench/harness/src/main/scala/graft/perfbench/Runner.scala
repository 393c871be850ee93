package graft.perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import com.sun.management.GarbageCollectionNotificationInfo
import org.apache.spark.sql.SparkSession

/** One timed operation. Times are epoch milliseconds with sub-millisecond
  * precision, so they line up with Spark's listener event times. */
final case class Sample(op: Long, block: Int, kind: String, name: String,
                        rows: Long, scope: Long, traced: Boolean, startMs: Double,
                        actMs: Double, endMs: Double, error: Option[String],
                        got: Option[Seq[String]], expect: Option[Seq[String]]) {
  def ok: Boolean = error.isEmpty
  def seconds: Double = (endMs - startMs) / 1000.0
}

final case class Metric(value: Double, unit: String, n: Int)

/** Peak heap occupancy right after a collection, from the JVM's own GC
  * notifications. */
final class HeapWatch extends NotificationListener {
  @volatile private var peak = 0L
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet
  private val emitters = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .collect { case e: NotificationEmitter => e }

  override def handleNotification(n: Notification, hb: Any): Unit =
    if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
      val info = GarbageCollectionNotificationInfo
        .from(n.getUserData.asInstanceOf[CompositeData])
      val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
        .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
      synchronized { peak = math.max(peak, used) }
    }

  def start(): Unit = emitters.foreach(_.addNotificationListener(this, null, null))

  /** Ends the watch with one explicit collection, so a phase too short to
    * trigger any still reports its live heap. */
  def stop(): Long = {
    System.gc()
    Thread.sleep(200)
    emitters.foreach(_.removeNotificationListener(this))
    peak
  }
}

/** Runs one workload as a closed loop with a single client: set-up, then
  * whole blocks while the next one is expected to end within `seconds`
  * (at least one), then the untimed checks. Counting whole blocks by
  * their expected end keeps the count the same from run to run when a
  * block takes about as long as `seconds`. */
final class Runner(spark: SparkSession, a: Args, launchMs: Long) {
  private val baseMs = System.currentTimeMillis().toDouble
  private val baseNs = System.nanoTime()
  private def nowMs(): Double = baseMs + (System.nanoTime() - baseNs) / 1e6

  def run(wl: Workload): Map[String, Any] = {
    wl.setup()
    val setupS = (System.currentTimeMillis() - launchMs) / 1000.0
    val calBefore = Calibrate.seconds(a.cores)
    val tracer = if (a.trace) Some(new Tracer(spark)) else None
    val samples = ArrayBuffer.empty[Sample]
    val traces = ArrayBuffer.empty[(Sample, OpTrace)]
    val heap = new HeapWatch
    heap.start()
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    var b = 0
    var lastBlockS = 0.0
    var opId = 0L
    // A traced run traces every other operation of each name, alternating
    // from block to block, so every name runs both ways across two blocks
    // and the warm-up trend between blocks cancels out of the overhead.
    val names = wl.block(a.seed, 0).map(_.name).distinct.sorted
    while (b == 0 || elapsed + lastBlockS <= a.seconds || (a.trace && b < 2)) {
      val blockStart = elapsed
      val seen = scala.collection.mutable.Map.empty[String, Int]
      for (op <- wl.block(a.seed, b)) {
        val occurrence = seen.getOrElse(op.name, 0)
        seen(op.name) = occurrence + 1
        val traced = a.trace && (b + names.indexOf(op.name) + occurrence) % 2 == 1
        if (traced) tracer.foreach { t => t.attach(); t.before() }
        val ph = new Phases
        val start = nowMs()
        val (err, got) =
          try (None, op.body(ph))
          catch { case e: Throwable =>
            (Some(Option(e.getMessage).getOrElse(e.getClass.getName)
              .replaceAll("\\s+", " ").take(300)), None)
          }
        val end = nowMs()
        val act = if (ph.actNs < 0) start else baseMs + (ph.actNs - baseNs) / 1e6
        opId += 1
        val s = Sample(opId, b, op.kind, op.name, op.rows, op.scope, traced, start, act,
          end, err, got, op.expect)
        val cached = if (traced) tracer.map(_.cachedBytes()).getOrElse(0L) else 0L
        wl.afterOp(s, traced)
        if (traced) tracer.foreach { t =>
          traces += s -> t.after(s, cached)
          t.detach()
        }
        samples += s
      }
      lastBlockS = elapsed - blockStart
      b += 1
    }
    val wallS = elapsed
    val heapPeak = heap.stop()
    val calAfter = Calibrate.seconds(a.cores)
    val speed = Speed(calBefore, calAfter)
    val run = samples.toSeq
    val v0 = System.nanoTime()
    val mismatches = seedCheck(wl, b) ++ wl.verify(run)
    val verifyS = (System.nanoTime() - v0) / 1e9
    val failures = run.filterNot(_.ok).map(s => Map(
      "op" -> s.op, "kind" -> s.kind, "name" -> s.name,
      "error" -> s.error.get))
    val metrics =
      if (a.trace) Layers.metrics(run, traces.toSeq, a.cores, wl)
          .map { case (k, v) => k -> Metric(v, Layers.unit(k), traces.size) }
      else endToEnd(run, wallS, setupS, heapPeak, speed.factor)
    val out = Map(
      "workload" -> a.workload, "seed" -> a.seed, "seconds" -> a.seconds,
      "trace" -> a.trace, "blocks" -> b, "setup_s" -> setupS,
      "wall_s" -> wallS, "verify_s" -> verifyS,
      "attempted" -> run.size, "failed" -> failures.size,
      "failures" -> failures, "mismatches" -> mismatches.take(50),
      "metrics" -> metrics,
      "details" -> (if (a.trace) Map.empty[String, Metric]
                    else details(run, wl, wallS, setupS, speed)),
      "calibration_s" -> Seq(calBefore, calAfter),
      "op_counts" -> run.groupMapReduce(_.kind)(_ => 1)(_ + _),
      "per_name_median_s" -> run.filter(_.ok).groupBy(_.name)
        .map { case (n, ss) => n -> Stats.median(ss.map(_.seconds)) },
      "samples" -> run.map(s => Map("op" -> s.op, "block" -> s.block,
        "name" -> s.name, "traced" -> s.traced, "seconds" -> s.seconds)))
    if (a.trace) Json.writeSpans(s"${a.out}/spans.jsonl", traces.flatMap(_._2.spans).toSeq)
    out
  }

  /** Two seeds must give the same operations (kind, name, rows changed),
    * only in another order and on other keys. */
  private def seedCheck(wl: Workload, blocks: Int): Seq[String] = {
    def multiset(seed: Long) = (0 until blocks).flatMap(wl.block(seed, _))
      .groupMapReduce(o => (o.kind, o.name, o.rows))(_ => 1)(_ + _)
    val (x, y) = (multiset(a.seed), multiset(a.seed + 1))
    if (x == y) Nil
    else Seq(s"seeds ${a.seed} and ${a.seed + 1} give different operation " +
      s"multisets: ${(x.toSet diff y.toSet).take(5)}")
  }

  /** Figures printed beside the gated metrics: the workload's own, and
    * pooled percentiles, which over a few heterogeneous operations move
    * with the order the seed picks rather than with the engine. */
  private def details(run: Seq[Sample], wl: Workload, wallS: Double,
                      setupS: Double, speed: Speed): Map[String, Metric] = {
    val secs = run.filter(_.ok).map(_.seconds)
    val raw = endToEnd(run, wallS, setupS, 0L, 1.0)
    wl.details(run) ++ Map(
      "setup_wall_s" -> raw("setup_s"),
      "ops_per_s_wall" -> raw("ops_per_s"),
      "op_geomean_wall_s" -> raw("op_geomean_s"),
      "speed_factor" -> Metric(speed.factor, "ratio", 2),
      "op_p50_s" -> Metric(Stats.quantile(secs, 0.5), "s", secs.size),
      "op_p90_s" -> Metric(Stats.quantile(secs, 0.9), "s", secs.size))
  }

  /** Times rescaled to the reference box speed ([[Calibrate]]). */
  private def endToEnd(run: Seq[Sample], wallS: Double, setupS: Double,
                       heapPeak: Long, f: Double): Map[String, Metric] = {
    val ok = run.filter(_.ok)
    val perName = ok.groupBy(_.name).values.map(ss => Stats.median(ss.map(_.seconds)))
    Map(
      "setup_s" -> Metric(setupS * f, "s", 1),
      "ops_per_s" -> Metric(ok.size / (wallS * f), "1/s", ok.size),
      "op_geomean_s" -> Metric(Stats.geomean(perName.toSeq) * f, "s", perName.size),
      "heap_peak_mb" -> Metric(heapPeak / 1048576.0, "MB", 1))
  }
}

/** Calibration before and after the timed phase; `factor` converts this
  * box's seconds into reference-box seconds. */
final case class Speed(before: Double, after: Double) {
  def factor: Double = Calibrate.ReferenceSeconds * 2 / (before + after)
}

object Stats {
  /** Linear interpolation between closest ranks (numpy's default). */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
  def geomean(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else math.exp(xs.map(math.log).sum / xs.size)
}
