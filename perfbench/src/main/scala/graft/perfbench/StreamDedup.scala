package graft.perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.dedup.{Dedup, EmbeddingIndex, MinhashIndex, WinnowIndex}
import graft.ingest.Enrich

/** Streaming dedup-to-clusters: small micro-batches of new documents and
  * planted near-duplicates of earlier ones flow through the
  * `ingestStreamClustered` path of the minhash, winnow and embedding
  * indexes. Set-up writes each index and seeds its cluster assignment with
  * one large first micro-batch; each operation then drops one batch file
  * into a family's source directory and runs the stream over it. */
final class StreamDedup(ctx: Ctx) extends Workload {
  import StreamDedup.Leg
  private val spark = ctx.spark
  private val Dim = 64
  private val DocSchema = "doc_id LONG, text STRING"
  private val Families = Seq("minhash", "winnow", "embedding")

  private val sizes = Util.readSizes(s"${ctx.in}/sizes.json")
  private val nBatches = sizes("batches").toInt
  private val batchDocs = sizes("batch_docs").toInt

  private var legs: Seq[Leg] = Nil

  private def streamOf(leg: Leg): DataFrame = {
    val s = spark.readStream.schema(DocSchema).option("maxFilesPerTrigger", 1).json(leg.src)
    if (leg.family == "embedding")
      Enrich.textEmbedding(s, Map("text" -> "embedding"), Dim)
        .select(col("doc_id").as("vec_id"), col("embedding"))
    else s
  }

  private var started = 0
  /** Feed one input file to a leg and run its stream over it. */
  private def ingest(leg: Leg, file: String): Unit = {
    Files.copy(Paths.get(s"${ctx.in}/$file"), Paths.get(s"${leg.src}/$file"))
    val st = streamOf(leg)
    leg.family match {
      case "minhash" => MinhashIndex.ingestStreamClustered(st, leg.index, leg.clusters)
      case "winnow" => WinnowIndex.ingestStreamClustered(st, leg.index, leg.clusters)
      case "embedding" => EmbeddingIndex.ingestStreamClustered(st, leg.index, leg.clusters)
    }
    started += 1
  }

  def setup(rep: Int): Unit = {
    val dir = ctx.fresh(s"stream-$rep")
    val empty = ctx.jsonl("seed.jsonl", DocSchema).limit(0)
    legs = Families.map { f =>
      val leg = Leg(f, s"$dir/$f/src", s"$dir/$f/index", s"$dir/$f/clusters")
      Files.createDirectories(Paths.get(leg.src))
      ctx.tracer.span("dedup.index") {
        f match {
          case "minhash" => MinhashIndex.write(empty, leg.index)
          case "winnow" => WinnowIndex.write(empty, leg.index)
          case "embedding" => EmbeddingIndex.write(
            Enrich.textEmbedding(empty, Map("text" -> "embedding"), Dim)
              .select(col("doc_id").as("vec_id"), col("embedding")), leg.index)
        }
        ingest(leg, "seed.jsonl")
      }
      leg
    }
    ctx.stream.awaitTerminated(started)
    ctx.tracer.leafRoots = legs.map(_.index)
  }

  private var next = 0
  private val times = mutable.ArrayBuffer.empty[Double]
  private val overheads = mutable.ArrayBuffer.empty[Double]

  /** One operation is one batch file through all three legs; its batch
    * time is the sum of the legs' micro-batch times. */
  def round(): Seq[Op] = Seq(feed())

  private def feed(): Op = {
    require(next < nBatches, s"stream inputs exhausted after $next batches")
    val file = f"batch-$next%03d.jsonl"
    next += 1
    val perLeg = legs.map { leg =>
      val before = ctx.stream.batches.size
      val (_, ms) = ctx.timedOp(ctx.tracer.span("dedup.index")(ingest(leg, file)))
      ctx.stream.awaitTerminated(started)
      import scala.jdk.CollectionConverters._
      val mine = ctx.stream.batches.asScala.drop(before).toSeq
      require(mine.size == 1, s"expected one micro-batch per file, saw ${mine.size}")
      overheads += ms - mine.head.addBatch_ms
      (ms, mine.head.trigger_ms.toDouble)
    }
    times += perLeg.map(_._2).sum
    Op(perLeg.map(_._1).sum, batchDocs, legs.size, 0)
  }

  /** Every set-up repetition ran each leg's stream path; that is the
    * warm-up. */
  def warmup(): Unit = ()

  override def batchTimes: Option[Seq[Double]] = Some(times.toSeq)

  override def streamOverhead: (Int, Double) =
    (overheads.size, if (overheads.isEmpty) 0.0 else overheads.sum / overheads.size)

  // ------------------------------------------------------------- checks

  private var dupRecall = Double.NaN
  private val recallByFamily = mutable.LinkedHashMap.empty[String, Double]

  def verify(): Unit = {
    val files = "seed.jsonl" +: (0 until next).map(b => f"batch-$b%03d.jsonl")
    val all = files.map(f => ctx.jsonl(f, DocSchema)).reduce(_.unionByName(_)).persist()
    val ids = all.select(col("doc_id").as("id"))
    val seen = all.select("doc_id").collect().map(_.getLong(0)).toSet
    val planted = ctx.jsonl("planted.jsonl", "id_a LONG, id_b LONG").collect()
      .map(r => (r.getLong(0), r.getLong(1))).filter { case (a, b) => seen(a) && seen(b) }
    legs.foreach { leg =>
      val pairs = leg.family match {
        case "minhash" => Dedup.minhashLsh(all)
        case "winnow" => Dedup.winnowPairs(all)
        case "embedding" => Dedup.embeddingNearDupLsh(
          Enrich.textEmbedding(all, Map("text" -> "embedding"), Dim)
            .select(col("doc_id").as("vec_id"), col("embedding")), Dim)
      }
      val batch = Dedup.resolveClusters(pairs.select("id_a", "id_b"), ids)
        .collect().map(r => (r.getLong(0), r.getLong(1)))
      val multi = batch.groupBy(_._2).filter(_._2.length > 1).values.flatten.toSet
      val stored = MinhashIndex.storedClusters(spark, leg.clusters)
        .select(col("id"), col("cluster_id")).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      ctx.check(s"${leg.family} stored clusters equal batch clustering", stored == multi,
        s"stored ${stored.size} rows, batch ${multi.size} rows, differing ${(stored diff multi).take(5)} / ${(multi diff stored).take(5)}")
      val label = stored.toMap
      recallByFamily(leg.family) = planted.count { case (a, b) =>
        label.getOrElse(a, a) == label.getOrElse(b, b) }.toDouble / math.max(1, planted.length)
    }
    all.unpersist()
    ctx.check("planted duplicates were streamed", planted.nonEmpty)
    dupRecall = recallByFamily.values.sum / math.max(1, recallByFamily.size)
  }

  def quality: Double = dupRecall

  override def extra: Map[String, Any] = Map(
    "dup_recall" -> dupRecall, "dup_recall_by_family" -> recallByFamily.toMap,
    "docs_per_batch" -> batchDocs, "batches_streamed" -> next)
}

object StreamDedup {
  /** One index family's stream: its source directory, index and assignment. */
  private final case class Leg(family: String, src: String, index: String, clusters: String)
}
