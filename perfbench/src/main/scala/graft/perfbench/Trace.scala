package graft.perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** The library's modules, used as the benchmark's layer names. */
object Layers {
  val All: Seq[String] = Seq("ml", "ingest", "text", "exec", "sparse", "seismic",
    "ann", "streaming", "dedup.batch", "dedup.index", "dedup.fold", "spark")
  val Counters: Seq[String] = Seq("calls", "wall_ms", "jobs", "in_job_ms", "gap_ms",
    "plan_ms", "shuffle_mb", "spill_mb", "result_mb", "failed")

  /** Module of a stack frame's class, or None for code outside the library
    * (Spark itself, the JDK, the benchmark). */
  def ofClass(cls: String): Option[String] =
    if (!cls.startsWith("graft.") || cls.startsWith("graft.perfbench.")) None
    else cls.split('.') match {
      case Array(_, "dedup", c, _*) =>
        val obj = c.takeWhile(_ != '$')
        Some(if (obj == "Dedup") "dedup.batch"
          else if (obj == "ClusterFold") "dedup.fold" else "dedup.index")
      case Array(_, pkg, _, _*) if All.contains(pkg) => Some(pkg)
      case _ => None
    }

  /** Module that launched a job: the first library frame of its call-site
    * stack. */
  def ofCallSite(callSiteLong: String): Option[String] =
    callSiteLong.linesIterator.map(_.trim).map(l => l.takeWhile(_ != '('))
      .map(m => m.substring(0, math.max(0, m.lastIndexOf('.'))))
      .flatMap(ofClass).nextOption()
}

/** Per-micro-batch progress of every streaming query, always recorded: the
  * stream workload's per-batch time comes from here. */
final class StreamProgress extends StreamingQueryListener {
  import StreamProgress.Batch
  val batches = new ConcurrentLinkedQueue[Batch]()
  val terminated = new ConcurrentLinkedQueue[String]()
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val d = e.progress.durationMs
    def ms(k: String): Long = Option(d.get(k)).map(_.longValue).getOrElse(0L)
    if (e.progress.numInputRows > 0)
      batches.add(Batch(e.progress.id.toString, ms("triggerExecution"), ms("addBatch"),
        e.progress.numInputRows))
    ()
  }
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = {
    terminated.add(e.id.toString); ()
  }
  /** Wait until every query started so far has reported its termination
    * (listener events arrive asynchronously). */
  def awaitTerminated(n: Int, timeoutMs: Long = 30000L): Unit = {
    val end = System.currentTimeMillis() + timeoutMs
    while (terminated.size < n && System.currentTimeMillis() < end) Thread.sleep(5)
    require(terminated.size >= n, s"stream listener saw ${terminated.size} of $n terminations")
  }
}

object StreamProgress {
  final case class Batch(queryId: String, trigger_ms: Long, addBatch_ms: Long, rows: Long)
}

/** Spans around each call into a layer plus, when `traced`, the Spark-side
  * counters (jobs, task metrics, plan phases, scan leaves) that the per-layer
  * metrics are made from. Only activity inside [[measure]] windows counts. */
final class Tracer(spark: SparkSession, val traced: Boolean) {
  import Tracer.Span
  final class Job(val id: Int, val t0: Long, val module: Option[String]) {
    @volatile var t1: Long = -1L
    @volatile var shuffleBytes = 0L
    @volatile var spillBytes = 0L
    @volatile var resultBytes = 0L
  }

  private val spans = mutable.ArrayBuffer.empty[Span]
  private val windows = mutable.ArrayBuffer.empty[(Long, Long)]
  private val jobs = new java.util.concurrent.ConcurrentHashMap[Int, Job]()
  private val stageJob = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
  private val plans = new ConcurrentLinkedQueue[(Long, Long)]() // (start ms, plan ms)
  private val leaves = new ConcurrentLinkedQueue[(Long, Long, Long)]() // (t, read, total)
  @volatile var leafRoots: Seq[String] = Nil

  private object Jobs extends SparkListener {
    override def onJobStart(js: SparkListenerJobStart): Unit = {
      // a job's call site (the stack of the action that launched it) rides
      // on its stages' details; jobs run from a stream's foreachBatch carry
      // the stream's start() site instead, and broadcast builds a pool
      // thread's, so for those the Spark driver threads that wait on the job are
      // asked which module they are in
      val site = js.stageInfos.sortBy(_.stageId).lastOption.map(_.details).getOrElse("")
      val module = Layers.ofCallSite(site).filter(_ => !site.contains("DataStreamWriter.start"))
        .orElse(waitingModule())
      jobs.put(js.jobId, new Job(js.jobId, js.time, module))
      js.stageIds.foreach(s => stageJob.put(s, js.jobId))
    }
    override def onJobEnd(je: SparkListenerJobEnd): Unit =
      Option(jobs.get(je.jobId)).foreach(_.t1 = je.time)
    override def onTaskEnd(te: SparkListenerTaskEnd): Unit = {
      val m = te.taskMetrics
      if (m != null) Option(stageJob.get(te.stageId)).flatMap(j => Option(jobs.get(j)))
        .foreach { j =>
          j.synchronized {
            j.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
            j.spillBytes += m.diskBytesSpilled + m.memoryBytesSpilled
            j.resultBytes += m.resultSize
          }
        }
    }
  }

  private object Plans extends QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val ph = qe.tracker.phases
      if (ph.nonEmpty) {
        val start = ph.values.map(_.startTimeMs).min
        plans.add((start, ph.values.map(p => p.endTimeMs - p.startTimeMs).sum))
      }
      val roots = leafRoots
      if (roots.nonEmpty) scans(qe.executedPlan).filter(seenScans.add).foreach { s =>
        // the dedup indexes read a pruned set of partition leaves by naming
        // the leaf directories; the share is those over all leaves there
        val read = s.relation.location.rootPaths.map(_.toString)
          .filter(p => roots.exists(r => p.contains(r + "/")))
        read.headOption.foreach { first =>
          val leaf = new java.io.File(new java.net.URI(first).getPath)
          val part = leaf.getName.takeWhile(_ != '=') + "="
          val total = Option(leaf.getParentFile.listFiles).map(_.count(f =>
            f.isDirectory && f.getName.startsWith(part))).getOrElse(0)
          if (total > 0 && leaf.getName.contains('='))
            leaves.add((System.currentTimeMillis(), read.size.toLong, total.toLong))
        }
      }
    }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  /** Module of the first library frame on a stream execution thread, else
    * on the main thread: while a stream runs, main only waits for it. */
  private def waitingModule(): Option[String] = {
    val threads = Thread.getAllStackTraces.asScala.toSeq
    def on(pick: String => Boolean): Option[String] = threads.iterator
      .filter { case (t, _) => pick(t.getName) }
      .flatMap { case (_, st) => st.iterator.map(_.getClassName).flatMap(Layers.ofClass).nextOption() }
      .nextOption()
    on(_.startsWith("stream execution thread")).orElse(on(_ == "main"))
  }

  /** Scan nodes already counted: a cached relation's scan is reported once. */
  private val seenScans = java.util.Collections.newSetFromMap(
    new java.util.IdentityHashMap[FileSourceScanExec, java.lang.Boolean]())

  private object PlanWalk extends AdaptiveSparkPlanHelper
  /** File scans of a physical plan, through adaptive stages, subqueries and
    * the plans of cached relations. */
  private def scans(p: SparkPlan): Seq[FileSourceScanExec] =
    PlanWalk.collectWithSubqueries(p) {
      case s: FileSourceScanExec => Seq(s)
      case m: InMemoryTableScanExec => scans(m.relation.cachedPlan)
    }.flatten

  if (traced) {
    spark.sparkContext.addSparkListener(Jobs)
    spark.listenerManager.register(Plans)
  }

  /** Time `f` as one call into `layer`; a throw marks the span failed. */
  def span[T](layer: String)(f: => T): T = {
    val t0 = System.currentTimeMillis()
    var ok = false
    try { val r = f; ok = true; r }
    finally spans.synchronized { spans += Span(layer, t0, System.currentTimeMillis(), !ok) }
  }

  /** Mark a wall-clock window whose activity the per-layer metrics cover. */
  def measure[T](f: => T): T = {
    val t0 = System.currentTimeMillis()
    try f finally windows += ((t0, System.currentTimeMillis()))
  }

  private def inWindow(t: Long): Boolean = windows.exists { case (a, b) => t >= a && t <= b }

  /** The per-layer counters over the measured windows, with their units.
    * `streamOverheadMs` (stream-call time outside the foreachBatch body) is
    * credited to the `streaming` layer and taken out of `dedup.index`. */
  def layerMetrics(ops: Int, streamCalls: Int,
      streamOverheadMs: Double): Map[String, (Double, String)] = {
    val out = mutable.LinkedHashMap.empty[String, Double]
    for (l <- Layers.All; c <- Layers.Counters) out(s"$l.$c") = 0.0
    def add(l: String, c: String, v: Double): Unit = out(s"$l.$c") += v
    val sp = spans.synchronized(spans.toList).filter(s => inWindow(s.t0))
    val js = jobs.values.asScala.toSeq.filter(j => j.t1 >= 0 && inWindow(j.t0)).sortBy(_.t0)
    def spanAt(t: Long): Option[Span] = sp.find(s => t >= s.t0 && t <= s.t1)
    def moduleOf(j: Job): String =
      j.module.orElse(spanAt(j.t0).map(_.layer)).getOrElse("spark")
    sp.foreach { s =>
      add(s.layer, "calls", 1); add(s.layer, "wall_ms", (s.t1 - s.t0).toDouble)
      if (s.failed) add(s.layer, "failed", 1)
      // Spark driver time between jobs: the wait before a job is the launching
      // module's; the tail after the last job is the called layer's
      var cursor = s.t0
      js.filter(j => j.t0 >= s.t0 && j.t0 <= s.t1).foreach { j =>
        if (j.t0 > cursor) add(moduleOf(j), "gap_ms", (j.t0 - cursor).toDouble)
        cursor = math.max(cursor, j.t1)
      }
      if (s.t1 > cursor) add(s.layer, "gap_ms", (s.t1 - cursor).toDouble)
    }
    js.foreach { j =>
      val m = moduleOf(j)
      add(m, "jobs", 1); add(m, "in_job_ms", (j.t1 - j.t0).toDouble)
      add(m, "shuffle_mb", j.shuffleBytes / 1e6); add(m, "spill_mb", j.spillBytes / 1e6)
      add(m, "result_mb", j.resultBytes / 1e6)
    }
    plans.asScala.filter(p => inWindow(p._1)).foreach { case (t, ms) =>
      add(spanAt(t).map(_.layer).getOrElse("spark"), "plan_ms", ms.toDouble)
    }
    if (streamCalls > 0) {
      add("streaming", "calls", streamCalls)
      add("streaming", "wall_ms", streamOverheadMs)
      add("streaming", "gap_ms", streamOverheadMs)
      add("dedup.index", "wall_ms", -streamOverheadMs)
      add("dedup.index", "gap_ms", -math.min(streamOverheadMs, out("dedup.index.gap_ms")))
    }
    val lv = leaves.asScala.filter(l => inWindow(l._1)).toSeq
    val total = lv.map(_._3).sum
    out("dedup.index.leaves_read_share") = if (total > 0) lv.map(_._2).sum.toDouble / total else 0.0
    out("jobs_per_op") = js.size.toDouble / math.max(1, ops)
    out.toMap.map { case (k, v) =>
      k -> (v, if (k.endsWith("_ms")) "ms" else if (k.endsWith("_mb")) "MB"
        else if (k.endsWith("_share")) "ratio" else "count")
    }
  }

  def close(): Unit = if (traced) {
    spark.sparkContext.removeSparkListener(Jobs)
    spark.listenerManager.unregister(Plans)
  }
}

object Tracer {
  private final case class Span(layer: String, t0: Long, t1: Long, failed: Boolean)
}
