package graft.perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Shared state of one benchmark run. */
final class Ctx(val spark: SparkSession, val tracer: Tracer, val in: String,
    val work: String, val smoke: Boolean) {
  val stream = new StreamProgress
  spark.streams.addListener(stream)

  /** (name, passed, detail) of every output check. */
  val checks = mutable.ArrayBuffer.empty[(String, Boolean, String)]
  /** stage -> first failure message, for stages that threw. */
  val stageFailures = mutable.LinkedHashMap.empty[String, String]

  def check(name: String, ok: Boolean, detail: => String = ""): Unit = {
    checks += ((name, ok, if (ok) "" else detail))
    if (!ok) System.err.println(s"[perfbench] check failed: $name $detail")
  }

  def jsonl(name: String, schema: String): DataFrame =
    spark.read.schema(schema).json(s"$in/$name")

  def fresh(name: String): String = {
    val p = new java.io.File(s"$work/$name")
    Util.rmrf(p)
    p.getAbsolutePath
  }

  /** Time one operation of the timed phase; the per-layer metrics cover
    * exactly these intervals. */
  def timedOp[T](f: => T): (T, Double) = tracer.measure(Util.timed(f))

  /** Run one stage of an operation; a throw is recorded, not propagated. */
  def stage[T](layer: String, name: String)(f: => T): Option[T] =
    try Some(tracer.span(layer)(f))
    catch {
      case e: Throwable if !e.isInstanceOf[VirtualMachineError] =>
        val msg = s"${e.getClass.getName}: ${String.valueOf(e.getMessage).take(300)}"
        if (!stageFailures.contains(name)) {
          stageFailures(name) = msg
          System.err.println(s"[perfbench] stage $name failed: $msg")
        }
        None
    }
}

/** One operation of the timed phase. `items` counts the inputs it served
  * (queries or documents); `stages` and `failedStages` count its calls. */
final case class Op(ms: Double, items: Int, stages: Int, failedStages: Int)

trait Workload {
  /** Build the state the timed phase reads, from nothing; `rep` names a
    * fresh directory so repeated set-ups do not see each other's output. */
  def setup(rep: Int): Unit
  /** Untimed operations that let the JIT and Spark's caches settle. */
  def warmup(): Unit
  /** One round of operations; the timed phase runs whole rounds. */
  def round(): Seq[Op]
  /** Output checks after the timed phase (recorded through ctx.check). */
  def verify(): Unit
  /** The workload's quality ratio (recall or duplicate recall). */
  def quality: Double
  /** Extra named figures for the result file. */
  def extra: Map[String, Any] = Map.empty
  /** (stream calls, ms per call outside the foreachBatch body) in the timed
    * phase, for the `streaming` layer. */
  def streamOverhead: (Int, Double) = (0, 0.0)
  /** Per-batch times when they come from another source than the op time. */
  def batchTimes: Option[Seq[Double]] = None
}

object Main {
  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = a("workload")
    val seconds = a("seconds").toDouble
    val traced = a("trace") == "1"
    val smoke = a.getOrElse("smoke", "0") == "1"
    val cpus = a.getOrElse("cpus", Runtime.getRuntime.availableProcessors.toString).toInt
    val work = new java.io.File(a("work")).getAbsolutePath
    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime

    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.currentTimeMillis() - jvmStart) / 1000.0

    val tracer = new Tracer(spark, traced)
    val ctx = new Ctx(spark, tracer, a("inputs"), work, smoke)
    val w: Workload = workload match {
      case "search" => new Search(ctx)
      case "corpus_build" => new CorpusBuild(ctx)
      case "stream_dedup" => new StreamDedup(ctx)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

    // set-up is repeated and its median reported, so that one slow
    // repetition does not decide the figure; the last repetition's state is
    // what the timed phase reads
    val setupReps = if (smoke) 1 else 3
    val setupTimes = (0 until setupReps).map(r => Util.timed(w.setup(r))._2)
    val setupS = sessionS + Util.median(setupTimes) / 1000.0
    val (_, warmMs) = Util.timed(w.warmup())

    val ops = mutable.ArrayBuffer.empty[Op]
    val t0 = System.nanoTime()
    while (ops.isEmpty || (System.nanoTime() - t0) / 1e9 < seconds) ops ++= w.round()
    val elapsedS = (System.nanoTime() - t0) / 1e9
    val opsSnapshot = ops.toList
    val (_, verifyMs) = Util.timed(w.verify())
    System.err.println(f"[perfbench] session ${sessionS}%.1f s, set-up ${setupTimes.map(_ / 1000).mkString(" ")} s, " +
      f"warm-up ${warmMs / 1000}%.1f s, timed ${elapsedS}%.1f s, checks ${verifyMs / 1000}%.1f s")

    val times = w.batchTimes.getOrElse(opsSnapshot.map(_.ms))
    val attempted = opsSnapshot.map(_.stages).sum
    val failed = opsSnapshot.map(_.failedStages).sum +
      ctx.checks.count(!_._2) // a wrong output counts as a failed operation
    val metrics: Map[String, (Double, String)] =
      if (!traced) Map(
        "setup_s" -> (setupS, "s"),
        "batch_p50_ms" -> (Util.median(times), "ms"),
        "throughput_per_s" -> (opsSnapshot.map(_.items).sum * 1000.0 / opsSnapshot.map(_.ms).sum, "1/s"),
        "quality_ratio" -> (w.quality, "ratio"),
        "peak_rss_mb" -> (Util.peakRssMb(), "MB"))
      else {
        val (calls, perCall) = w.streamOverhead
        tracer.layerMetrics(opsSnapshot.size, calls, calls * perCall) +
          ("traced_batch_p50_ms" -> (Util.median(times), "ms"))
      }
    val extra: Map[String, Any] = w.extra ++ Map(
      "session_s" -> sessionS,
      "setup_reps_ms" -> setupTimes,
      "ops" -> opsSnapshot.size,
      "elapsed_s" -> elapsedS,
      "batch_ms" -> times,
      "error_rate" -> failed.toDouble / math.max(1, attempted),
      "stage_failures" -> ctx.stageFailures.toMap,
      "checks" -> ctx.checks.map { case (n, ok, d) => Map("name" -> n, "ok" -> ok, "detail" -> d) },
      "cpus" -> cpus)
    val correct = ctx.checks.nonEmpty && ctx.checks.forall(_._2)
    tracer.close()
    spark.stop()
    println(Util.json(Map(
      "correct" -> correct, "attempted" -> attempted, "failed" -> failed,
      "metrics" -> metrics.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) },
      "extra" -> extra)))
  }
}
