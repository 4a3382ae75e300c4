package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicLong, AtomicReference}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener
import org.apache.spark.storage.RDDBlockId

/** One span of the traced run. Times are epoch microseconds. */
final case class Span(id: Long, parent: Long, kind: String, name: String,
                      start: Long, var end: Long)

object Clock {
  private val wall0 = System.currentTimeMillis() * 1000L
  private val nano0 = System.nanoTime()
  /** Epoch microseconds on the monotonic clock. */
  def micros(): Long = wall0 + (System.nanoTime() - nano0) / 1000L
}

/** Block-manager memory taken by the blocks a pass stores: cached and
  * checkpointed RDD blocks and broadcast pieces, followed through
  * block-update events. When a broadcast goes depends on when the JVM
  * collects garbage, not on the pass, so a pass's broadcast pieces count
  * until the pass ends and blocks already held when it starts do not
  * count. Always on: `peak_storage_mb` is an end-to-end metric, and the
  * listener only updates a map per block. */
final class StorageWatch extends SparkListener {
  private val sizes = new ConcurrentHashMap[String, java.lang.Long]()
  @volatile private var old = Set.empty[String]
  private val level = new AtomicLong
  private val peak = new AtomicLong
  private val rddBlocks = new AtomicLong

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
    val info = e.blockUpdatedInfo
    val key = info.blockId.name
    val removed = !info.storageLevel.isValid
    if (!old.contains(key) && !(removed && info.blockId.isBroadcast)) {
      val now = if (removed) 0L else info.memSize
      val before = Option(sizes.put(key, now)).map(_.longValue).getOrElse(0L)
      if (before == 0L && now > 0L && info.blockId.isInstanceOf[RDDBlockId])
        rddBlocks.incrementAndGet()
      peak.accumulateAndGet(level.addAndGet(now - before), math.max)
    }
  }

  /** (peak bytes, RDD block bytes still held, RDD blocks stored) since
    * the last reset; then starts over with every block held now counted
    * as old. */
  def reset(): (Long, Long, Long) = {
    val rddHeld = sizes.asScala.collect { case (k, v) if k.startsWith("rdd_") => v.longValue }.sum
    val r = (peak.get, rddHeld, rddBlocks.getAndSet(0L))
    old = old ++ sizes.asScala.collect { case (k, v) if v > 0 => k }
    sizes.clear(); level.set(0L); peak.set(0L)
    r
  }
}

/** Per-pass counters and spans of the traced run.
  *
  * Spans the benchmark opens itself (pass, query, build, exec, release)
  * come from [[begin]]/[[end]] on the benchmark thread. Jobs and
  * stages come from the listener bus: a job carries the job group the
  * benchmark thread set before the call ([[JobGroup]]); a job started
  * by another thread (a stream's micro-batch) has no such group and is
  * tied to the innermost benchmark span open when it started. */
final class Tracer extends SparkListener {
  val JobGroup = "perfbench-span-"

  /** Listener events count only while on: the untraced passes of a
    * traced run pay for the dispatch, not for the bookkeeping. */
  @volatile var on = false
  private val attached = java.util.Collections.newSetFromMap(
    new java.util.WeakHashMap[SparkSession, java.lang.Boolean]())

  private val ids = new AtomicLong
  val spans = new java.util.concurrent.ConcurrentLinkedQueue[Span]()
  private val own = new java.util.concurrent.ConcurrentLinkedQueue[Span]()
  private val open = new AtomicReference[List[Span]](Nil)
  private val byId = new ConcurrentHashMap[Long, Span]()
  private val stageSpan = new ConcurrentHashMap[Int, Long]()
  private val jobSpan = new ConcurrentHashMap[Int, Span]()
  private val stageTasks = new ConcurrentHashMap[Int, java.util.List[Long]]()
  private val scanStages = ConcurrentHashMap.newKeySet[Int]()

  /** Counters of the current pass; [[Counts.take]] reads and resets. */
  object Counts {
    val c = new ConcurrentHashMap[String, Double]()
    def add(k: String, v: Double): Unit = c.merge(k, v, (a: Double, b: Double) => a + b)
    def take(): Map[String, Double] = {
      val m = c.asScala.toMap
      c.clear(); m
    }
  }

  def begin(kind: String, name: String): Span = {
    val parent = open.get.headOption.map(_.id).getOrElse(0L)
    val s = Span(ids.incrementAndGet(), parent, kind, name, Clock.micros(), -1L)
    byId.put(s.id, s)
    spans.add(s)
    own.add(s)
    open.updateAndGet(s :: _)
    s
  }

  def end(s: Span): Unit = {
    s.end = Clock.micros()
    open.updateAndGet(_.filterNot(_ eq s))
  }

  private def innermostAt(t: Long): Long =
    own.asScala.filter(s => s.start <= t && (s.end < 0 || s.end >= t))
      .maxByOption(_.start).map(_.id).getOrElse(0L)

  private def kindOf(id: Long): String = Option(byId.get(id)).map(_.kind).getOrElse("")

  override def onJobStart(e: SparkListenerJobStart): Unit = if (on) {
    val group = Option(e.properties).flatMap(p =>
      Option(p.getProperty("spark.jobGroup.id")))
    val startUs = e.time * 1000L
    val parent = group.filter(_.startsWith(JobGroup))
      .map(_.stripPrefix(JobGroup).toLong).getOrElse(innermostAt(startUs))
    val s = Span(ids.incrementAndGet(), parent, "job", s"job ${e.jobId}", startUs, -1L)
    spans.add(s); byId.put(s.id, s)
    jobSpan.put(e.jobId, s)
    e.stageIds.foreach(st => stageSpan.put(st, s.id))
    Counts.add("spark.jobs", 1)
    if (kindOf(parent) == "build") Counts.add("packs.build_jobs", 1)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobSpan.remove(e.jobId)).foreach(_.end = e.time * 1000L)

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    if (on && e.stageInfo.parentIds.isEmpty) scanStages.add(e.stageInfo.stageId)

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = if (on) {
    val i = e.stageInfo
    Counts.add("spark.stages", 1)
    for (t0 <- i.submissionTime; t1 <- i.completionTime) {
      val parent = Option(stageSpan.get(i.stageId)).map(_.longValue).getOrElse(0L)
      spans.add(Span(ids.incrementAndGet(), parent, "stage", s"stage ${i.stageId}",
        t0 * 1000L, t1 * 1000L))
    }
    Option(stageTasks.remove(i.stageId)).map(_.asScala.toSeq.sorted).foreach { d =>
      if (d.size >= 2) {
        Counts.add("skew.sum", d.last.toDouble / math.max(d(d.size / 2), 1L))
        Counts.add("skew.n", 1)
      }
    }
    scanStages.remove(i.stageId)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (on) {
    Counts.add("spark.tasks", 1)
    if (scanStages.contains(e.stageId)) Counts.add("sources.scan_tasks", 1)
    if (!e.reason.isInstanceOf[org.apache.spark.Success.type]) Counts.add("spark.failed_tasks", 1)
    stageTasks.computeIfAbsent(e.stageId, _ =>
      java.util.Collections.synchronizedList(new java.util.ArrayList[Long]()))
      .add(e.taskInfo.duration)
    val m = e.taskMetrics
    if (m != null) {
      val mb = 1048576.0
      Counts.add("spark.task_s", m.executorRunTime / 1000.0)
      Counts.add("spark.shuffle_read_mb", m.shuffleReadMetrics.totalBytesRead / mb)
      Counts.add("spark.shuffle_write_mb", m.shuffleWriteMetrics.bytesWritten / mb)
      Counts.add("spark.spill_mb", m.memoryBytesSpilled / mb)
      Counts.add("spark.input_mb", m.inputMetrics.bytesRead / mb)
      Counts.add("spark.output_mb", m.outputMetrics.bytesWritten / mb)
    }
  }

  /** Planning phases of every query execution, from its tracker. */
  val plans: QueryExecutionListener = new QueryExecutionListener {
    private def phases(qe: QueryExecution): Unit = {
      val p = qe.tracker.phases
      def ms(k: String) = p.get(k).map(_.durationMs / 1000.0).getOrElse(0.0)
      Counts.add("plans.analysis_s", ms("analysis"))
      Counts.add("plans.optimizer_s", ms("optimization"))
      Counts.add("plans.planning_s", ms("planning"))
    }
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
      if (on) phases(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit =
      if (on) phases(qe)
  }

  /** Micro-batches of every stream the workload drains. */
  val streams: StreamingQueryListener = new StreamingQueryListener {
    import StreamingQueryListener._
    override def onQueryStarted(e: QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: QueryProgressEvent): Unit = if (on) {
      val p = e.progress
      val ms = Option(p.durationMs.get("triggerExecution")).map(_.longValue).getOrElse(0L)
      Counts.add("streaming.batches", 1)
      Counts.add("streaming.rows", p.numInputRows.toDouble)
      Counts.add("streaming.batch_s", ms / 1000.0)
      val startUs = java.time.Instant.parse(p.timestamp).toEpochMilli * 1000L
      spans.add(Span(ids.incrementAndGet(), innermostAt(startUs), "batch",
        s"batch ${p.batchId}", startUs, startUs + ms * 1000L))
    }
  }

  def attach(s: SparkSession): Unit = if (attached.add(s)) {
    s.listenerManager.register(plans)
    s.streams.addListener(streams)
  }

  /** Self time by span kind over the spans under `root`: a span's
    * duration minus the part of it its children cover. */
  def selfTimes(root: Span): Map[String, Double] = {
    val all = spans.asScala.toSeq.filter(_.end >= 0)
    val kids = all.groupBy(_.parent)
    val out = mutable.Map[String, Double]().withDefaultValue(0.0)
    def walk(s: Span): Unit = {
      val cs = kids.getOrElse(s.id, Nil)
      val covered = cs.map(c => (math.max(c.start, s.start), math.min(c.end, s.end)))
        .filter { case (a, b) => b > a }.sortBy(_._1)
        .foldLeft((0L, Long.MinValue)) { case ((sum, hi), (a, b)) =>
          if (b <= hi) (sum, hi) else (sum + b - math.max(a, hi), b)
        }._1
      out(s.kind) += (s.end - s.start - covered) / 1e6
      cs.foreach(walk)
    }
    walk(root)
    out.toMap
  }

  /** Mean slowest-over-median task duration of the pass's stages. */
  def skew(c: Map[String, Double]): Double =
    c.get("skew.n").filter(_ > 0).map(n => c("skew.sum") / n).getOrElse(1.0)
}
