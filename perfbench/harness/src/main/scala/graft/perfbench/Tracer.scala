package graft.perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.PerfbenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** A timed interval of one operation. `parent` is -1 for the operation's
  * own span; every span of one operation carries its `op` id. */
final case class Span(op: Long, id: Int, parent: Int, kind: String,
                      name: String, startMs: Double, endMs: Double,
                      selfMs: Double)

/** What the traced run learned about one operation. Counts and bytes come
  * from Spark's task metrics; times are milliseconds. */
final case class OpTrace(
    spans: Seq[Span], constructMs: Double, actionMs: Double,
    constructJobs: Int, jobs: Int, stages: Int, tasks: Long,
    schedGapMs: Double, taskRunMs: Double, taskCpuMs: Double,
    taskGcMs: Double, inputBytes: Long, shuffleReadBytes: Long,
    shuffleWriteBytes: Long, spillBytes: Long, phasesMs: Map[String, Double],
    gcMs: Long, gcCount: Long, cachedBytes: Long, persistDelta: Int)

/** Collects job, stage and query-execution events from listeners the
  * benchmark registers itself; the engine is not changed. Attached only
  * around a traced operation. */
final class Tracer(spark: SparkSession)
    extends SparkListener with QueryExecutionListener {
  import Tracer._

  private val jobStarts = new ConcurrentLinkedQueue[JobEv]()
  private val jobEnds = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
  private val stageEvs = new ConcurrentLinkedQueue[StageEv]()
  private val phaseEvs = new ConcurrentLinkedQueue[Map[String, Double]]()
  private val sc = spark.sparkContext

  override def onJobStart(e: SparkListenerJobStart): Unit =
    jobStarts.add(JobEv(e.jobId, e.time, e.stageIds)): Unit
  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    jobEnds.put(e.jobId, e.time): Unit
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val si = e.stageInfo
    val m = si.taskMetrics
    stageEvs.add(StageEv(si.stageId, si.submissionTime.getOrElse(0L),
      si.completionTime.getOrElse(0L), si.numTasks, m.executorRunTime,
      m.executorCpuTime, m.jvmGCTime, m.inputMetrics.bytesRead,
      m.shuffleReadMetrics.totalBytesRead, m.shuffleWriteMetrics.bytesWritten,
      m.memoryBytesSpilled + m.diskBytesSpilled)): Unit
  }
  private def phases(qe: QueryExecution): Unit =
    phaseEvs.add(qe.tracker.phases.map { case (k, v) =>
      k -> v.durationMs.toDouble }): Unit
  override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
    phases(qe)
  override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit =
    phases(qe)

  def attach(): Unit = {
    sc.addSparkListener(this)
    spark.listenerManager.register(this)
  }

  def detach(): Unit = {
    PerfbenchBus.drain(sc)
    sc.removeSparkListener(this)
    spark.listenerManager.unregister(this)
    clear()
  }

  private def clear(): Unit = {
    jobStarts.clear(); jobEnds.clear(); stageEvs.clear(); phaseEvs.clear()
  }

  private def gcTotals(): (Long, Long) = {
    val beans = java.lang.management.ManagementFactory
      .getGarbageCollectorMXBeans.asScala
    (beans.map(_.getCollectionTime).sum, beans.map(_.getCollectionCount).sum)
  }

  private var gc0 = (0L, 0L)
  private var persisted0 = 0

  /** Called just before a traced operation starts (outside its timing). */
  def before(): Unit = {
    PerfbenchBus.drain(sc)
    clear()
    gc0 = gcTotals()
    persisted0 = sc.getPersistentRDDs.size
  }

  /** Bytes held by cached blocks right now: sampled after the action,
    * before the operation releases its pins. */
  def cachedBytes(): Long =
    sc.getRDDStorageInfo.map(r => r.memSize + r.diskSize).sum

  /** Builds the operation's spans from the events its run posted.
    * `cached` was sampled before release; the persist delta is read after
    * release, so a leaked persist shows as a positive count. */
  def after(s: Sample, cached: Long): OpTrace = {
    val gc1 = gcTotals()
    PerfbenchBus.drain(sc)
    val persistDelta = sc.getPersistentRDDs.size - persisted0
    val (opStart, actStart, opEnd) = (s.startMs, s.actMs, s.endMs)
    var nextId = 0
    def id(): Int = { nextId += 1; nextId }
    val spans = Seq.newBuilder[Span]
    val opSpan = id()
    val conSpan = id()
    val actSpan = id()
    val jobs = jobStarts.asScala.toSeq.sortBy(_.startMs)
    val stages = stageEvs.asScala.toSeq
    val stageById = stages.map(st => st.id -> st).toMap
    case class Iv(parent: Int, start: Double, end: Double)
    val jobIvs = Seq.newBuilder[Iv]
    var constructJobs = 0
    for (j <- jobs) {
      val end = math.max(j.startMs, Option(jobEnds.get(j.id))
        .map(_.longValue).getOrElse(j.startMs)).toDouble
      val inConstruct = j.startMs < actStart
      if (inConstruct) constructJobs += 1
      val parent = if (inConstruct) conSpan else actSpan
      val jid = id()
      jobIvs += Iv(parent, j.startMs.toDouble, end)
      val children = j.stageIds.flatMap(stageById.get).map { st =>
        spans += Span(s.op, id(), jid, "stage", s"stage ${st.id}",
          st.startMs.toDouble, st.endMs.toDouble,
          (st.endMs - st.startMs).toDouble)
        (st.startMs.toDouble, st.endMs.toDouble)
      }
      spans += Span(s.op, jid, parent, "job", s"job ${j.id}",
        j.startMs.toDouble, end, Tracer.self(j.startMs.toDouble, end, children))
    }
    val jIvs = jobIvs.result()
    def under(p: Int) = jIvs.filter(_.parent == p).map(iv => (iv.start, iv.end))
    val conSelf = Tracer.self(opStart, actStart, under(conSpan))
    val actSelf = Tracer.self(actStart, opEnd, under(actSpan))
    spans += Span(s.op, conSpan, opSpan, "construct", s.name, opStart,
      actStart, conSelf)
    spans += Span(s.op, actSpan, opSpan, "action", s.name, actStart, opEnd,
      actSelf)
    spans += Span(s.op, opSpan, -1, "op", s.name, opStart, opEnd,
      Tracer.self(opStart, opEnd, Seq((opStart, actStart), (actStart, opEnd))))
    val jobSelf = spans.result().filter(_.kind == "job").map(_.selfMs).sum
    val phaseSum = phaseEvs.asScala.toSeq
      .flatMap(_.toSeq).groupMapReduce(_._1)(_._2)(_ + _)
    OpTrace(spans.result(), actStart - opStart, opEnd - actStart,
      constructJobs, jobs.size, stages.size, stages.map(_.tasks.toLong).sum,
      actSelf + jobSelf, stages.map(_.runMs).sum.toDouble,
      stages.map(_.cpuNs).sum / 1e6, stages.map(_.gcMs).sum.toDouble,
      stages.map(_.input).sum, stages.map(_.shRead).sum,
      stages.map(_.shWrite).sum, stages.map(_.spill).sum, phaseSum,
      gc1._1 - gc0._1, gc1._2 - gc0._2, cached, persistDelta)
  }
}

object Tracer {
  private final case class JobEv(id: Int, startMs: Long, stageIds: Seq[Int])
  private final case class StageEv(id: Int, startMs: Long, endMs: Long,
                                   tasks: Int, runMs: Long, cpuNs: Long,
                                   gcMs: Long, input: Long, shRead: Long,
                                   shWrite: Long, spill: Long)

  /** A span's self time: its duration minus the part of it that the union
    * of its children's intervals covers. */
  def self(start: Double, end: Double, children: Seq[(Double, Double)]): Double = {
    val clipped = children.map { case (a, b) =>
      (math.max(a, start), math.min(b, end)) }.filter(c => c._2 > c._1)
      .sortBy(_._1)
    var covered = 0.0
    var curA = Double.NaN
    var curB = Double.NaN
    for ((a, b) <- clipped) {
      if (curA.isNaN || a > curB) {
        if (!curA.isNaN) covered += curB - curA
        curA = a; curB = b
      } else curB = math.max(curB, b)
    }
    if (!curA.isNaN) covered += curB - curA
    math.max(0.0, (end - start) - covered)
  }
}
