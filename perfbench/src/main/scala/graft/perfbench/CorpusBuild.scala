package graft.perfbench

import scala.collection.mutable

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.ann.Ann
import graft.dedup.{Dedup, EmbeddingIndex, MinhashIndex, WinnowIndex}
import graft.ingest.Enrich
import graft.seismic.Seismic
import graft.sparse.SparseRetrieval
import graft.text.TextAnalysis

/** The offline bulk path, one corpus shard per operation: enrich, filter,
  * the batch dedup families with their default arguments, cluster
  * resolution, decontamination against a held-out eval set, and the
  * retrieval and dedup index builds. Each stage's failure is recorded and
  * the remaining stages still run. */
final class CorpusBuild(ctx: Ctx) extends Workload {
  import ctx.spark.implicits._
  import CorpusBuild.Built
  private val Dim = 64
  /** Chunk length in tokens: documents of 40-50 tokens give 4-5 chunks, so
    * a shard's 4,200 documents give more chunk embeddings than Dedup's
    * 16,384-id probe gate. */
  private val ChunkTokens = 10
  private val NList = 16
  private val DocSchema = "doc_id LONG, text STRING, n_chars LONG"

  private val sizes = Util.readSizes(s"${ctx.in}/sizes.json")
  private val nShards = sizes("shards").toInt
  private val planted: Seq[(Long, Long)] =
    ctx.jsonl("planted.jsonl", "id_a LONG, id_b LONG").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq

  // Shard inputs are parsed into memory in set-up, so the timed phase
  // measures the library, not JSON parsing.
  private var shards: IndexedSeq[(DataFrame, DataFrame)] = IndexedSeq.empty

  def setup(rep: Int): Unit = {
    shards.foreach { case (d, e) => d.unpersist(true); e.unpersist(true) }
    shards = (0 to nShards).map { s =>
      val d = ctx.jsonl(f"shard-$s%02d.jsonl", DocSchema).persist()
      val e = ctx.jsonl(f"eval-$s%02d.jsonl", "doc_id LONG, text STRING").persist()
      d.count(); e.count(); (d, e)
    }
  }

  private val built = mutable.ArrayBuffer.empty[Built]

  private def docsIn(s: Int): Int =
    (if (s < nShards) sizes("shard_docs") else sizes("warmup_docs")).toInt

  private var next = 0
  private def buildShard(s: Int, keep: Boolean): Op = {
    val (docs, eval) = shards(s)
    val dir = ctx.fresh("corpus-build")
    var stages = 0
    var failed = 0
    def stage[T](layer: String, name: String)(f: => T): Option[T] = {
      stages += 1
      val r = ctx.stage(layer, name)(f)
      if (r.isEmpty) failed += 1
      r
    }
    def pairsOf(df: DataFrame, a: String, b: String): Array[(Long, Long)] =
      df.select(col(a).cast("long"), col(b).cast("long")).collect()
        .map(r => (r.getLong(0), r.getLong(1)))

    val ((enriched, kept, labels, pairs, decon, train), ms) = ctx.timedOp {
      // 1. enrich: chunking, then dense embedding and sparse encoding of
      //    every chunk (the retrieval indexes are built over chunks)
      val enriched = stage("ingest", "enrich") {
        val chunks = docs
          .select(col("doc_id"), posexplode(
            Enrich.chunkFixedTokenUdf(ChunkTokens, 0.0, 100)(col("text"))).as(Seq("ci", "chunk")))
          .select((col("doc_id") * 100 + col("ci")).as("vec_id"), col("doc_id"), col("chunk"))
        val c = Enrich.sparseEncoding(
          Enrich.textEmbedding(chunks, Map("chunk" -> "embedding"), Dim), Map("chunk" -> "tokens"))
          .persist()
        c.count()
        c
      }
      // 2. quality signals and the Gopher filter
      val kept = stage("text", "quality_gopher") {
        TextAnalysis.quality(docs).agg(avg("quality_score")).collect()
        TextAnalysis.gopherFilter(docs).where(col("kept")).select(col("doc_id")).persist()
      }
      // 3. batch dedup families, then clusters and the kept copy per cluster
      val pairs = mutable.LinkedHashMap.empty[String, Array[(Long, Long)]]
      stage("dedup.batch", "minhash_lsh") {
        pairs("minhash_lsh") = pairsOf(Dedup.minhashLsh(docs), "id_a", "id_b") }
      stage("dedup.batch", "ngram_jaccard_auto") {
        pairs("ngram_jaccard_auto") = pairsOf(Dedup.ngramJaccardAuto(docs), "id_a", "id_b") }
      stage("dedup.batch", "winnow_pairs_auto") {
        pairs("winnow_pairs_auto") = pairsOf(Dedup.winnowPairsAuto(docs), "id_a", "id_b") }
      enriched.foreach { chunks =>
        stage("dedup.batch", "embedding_near_dup_lsh") {
          pairs("embedding_near_dup_lsh") =
            pairsOf(Dedup.embeddingNearDupLsh(chunks, Dim), "id_a", "id_b")
        }
      }
      // chunk pairs count as pairs of their documents
      val docPairs = pairs.toSeq.flatMap {
        case ("embedding_near_dup_lsh", ps) => ps.map { case (a, b) => (a / 100, b / 100) }
        case (_, ps) => ps.toSeq
      }.filter { case (a, b) => a != b }
        .map { case (a, b) => (math.min(a, b), math.max(a, b)) }.distinct
      val labels = stage("dedup.batch", "resolve_keep") {
        val lab = Dedup.resolveClusters(docPairs.toDF("id_a", "id_b"),
          docs.select(col("doc_id").as("id"))).persist()
        val keep = Dedup.keepCanonical(lab, docs).where(col("kept")).select(col("doc_id")).persist()
        keep.count()
        (lab, keep)
      }
      // 4. decontamination of the kept corpus against the eval set
      val train = (labels, kept) match {
        case (Some((_, keep)), Some(k)) => docs.join(keep, "doc_id").join(k, "doc_id")
        case _ => docs
      }
      val decon = stage("dedup.batch", "decontaminate") {
        Dedup.decontaminate(train, eval).collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      }
      // 5. the indexes search and the streaming dedup path read
      enriched.foreach { chunks =>
        val keptChunks = chunks.join(train.select("doc_id"), "doc_id")
        val kTok = keptChunks.select(col("vec_id").as("doc_id"), col("tokens"))
        val kVec = keptChunks.select(col("vec_id"), col("embedding"))
        stage("seismic", "seismic_index") {
          Seismic.write(Seismic.build(kTok), s"$dir/seismic") }
        stage("sparse", "postings_index") {
          SparseRetrieval.writePostingsIndex(SparseRetrieval.buildPostings(kTok), s"$dir/postings") }
        stage("ann", "ivf_index") {
          val cents = Ann.trainCentroids(kVec, Dim, NList)
          Ann.writeIndex(Ann.assign(kVec, cents), cents, s"$dir/ivf")
        }
        stage("dedup.index", "embedding_index") { EmbeddingIndex.write(kVec, s"$dir/emb_index") }
      }
      stage("dedup.index", "minhash_index") { MinhashIndex.write(train, s"$dir/mh_index") }
      stage("dedup.index", "winnow_index") { WinnowIndex.write(train, s"$dir/wn_index") }
      (enriched, kept, labels, pairs, decon, train)
    }
    if (keep) {
      val lab = labels.map(_._1.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap)
        .getOrElse(Map.empty)
      val texts = docs.select("doc_id", "text").collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      val cv = enriched.map(_.select("vec_id", "embedding").collect()
        .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap).getOrElse(Map.empty)
      val tids = train.select("doc_id").collect().map(_.getLong(0)).toSet
      built += Built(s, pairs.toMap, lab, tids, decon.getOrElse(Array.empty), texts, cv)
    }
    enriched.foreach(_.unpersist(false))
    kept.foreach(_.unpersist(false))
    labels.foreach { case (l, k) => l.unpersist(false); k.unpersist(false) }
    Op(ms, docsIn(s), stages, failed)
  }

  /** The warm-up shard is smaller than the timed ones: it runs every stage
    * once, so the JIT and the code-generation cache are warm. */
  def warmup(): Unit = buildShard(nShards, keep = false)

  def round(): Seq[Op] = {
    val op = buildShard(next % nShards, keep = built.size < 2)
    next += 1
    Seq(op)
  }

  // ------------------------------------------------------------- checks

  private var dupRecall = Double.NaN

  def verify(): Unit = {
    val found = mutable.ArrayBuffer.empty[Boolean]
    built.foreach { b =>
      def jac(a: Long, c: Long, n: Int): Double = {
        val x = Dedup.shingles(b.texts(a), n); val y = Dedup.shingles(b.texts(c), n)
        x.intersect(y).size.toDouble / x.union(y).size
      }
      // every reported pair meets its family's exact similarity threshold
      b.pairs.foreach {
        case (fam @ "minhash_lsh", ps) =>
          ctx.check(s"$fam pairs reach Jaccard 0.7", ps.forall { case (a, c) => jac(a, c, 3) >= 0.7 - 1e-9 })
        case (fam @ "ngram_jaccard_auto", ps) =>
          ctx.check(s"$fam pairs reach Jaccard 0.5", ps.forall { case (a, c) => jac(a, c, 3) >= 0.5 - 1e-9 })
        case (fam @ "winnow_pairs_auto", ps) =>
          ctx.check(s"$fam pairs share a fingerprint", ps.forall { case (a, c) =>
            Dedup.winnowFingerprints(b.texts(a), 4, 4).map(_._2).toSet
              .intersect(Dedup.winnowFingerprints(b.texts(c), 4, 4).map(_._2).toSet).nonEmpty
          })
        case (fam, ps) =>
          ctx.check(s"$fam pairs reach cosine 0.95", ps.forall { case (a, c) =>
            val x = b.chunkVecs(a); val y = b.chunkVecs(c)
            val dot = x.indices.map(i => x(i).toDouble * y(i)).sum
            val n = math.sqrt(x.map(v => v.toDouble * v).sum) * math.sqrt(y.map(v => v.toDouble * v).sum)
            n == 0 || dot / n >= 0.95 - 1e-6
          })
      }
      // decontamination is exact: it flags exactly the train/eval pairs whose
      // 3-shingle Jaccard reaches 0.5 among the planted contamination, and
      // every flagged pair reaches it
      val evalTexts = ctx.jsonl(f"eval-${b.shard}%02d.jsonl", "doc_id LONG, text STRING").collect()
        .map(r => r.getLong(0) -> r.getString(1)).toMap
      def jacTE(t: Long, e: Long): Double = {
        val x = Dedup.shingles(b.texts(t), 3); val y = Dedup.shingles(evalTexts(e), 3)
        x.intersect(y).size.toDouble / x.union(y).size
      }
      ctx.check("decontaminate pairs reach Jaccard 0.5",
        b.decontaminated.forall { case (t, e, _) => jacTE(t, e) >= 0.5 - 1e-9 })
      val flagged = b.decontaminated.map(x => (x._1, x._2)).toSet
      val contaminated = ctx.jsonl(f"contaminated-${b.shard}%02d.jsonl",
        "train_id LONG, bench_id LONG").collect().map(r => (r.getLong(0), r.getLong(1)))
      ctx.check("decontaminate flags the planted contamination of kept docs",
        contaminated.forall { case (t, e) =>
          !b.trainIds.contains(t) || jacTE(t, e) < 0.5 || flagged.contains((t, e))
        })
      // planted pairs of this shard: one cluster each
      val lo = b.shard * 1000000L; val hi = lo + 1000000L
      planted.filter { case (a, _) => a >= lo && a < hi }.foreach { case (a, c) =>
        found += b.labels.contains(a) && b.labels.get(a) == b.labels.get(c)
      }
    }
    ctx.check("shards were built and checked", built.nonEmpty)
    dupRecall = found.count(identity).toDouble / math.max(1, found.size)
  }

  def quality: Double = dupRecall

  override def extra: Map[String, Any] = Map(
    "dup_recall" -> dupRecall, "docs_per_op" -> sizes("shard_docs"),
    "stages" -> ctx.stageFailures.keys.toSeq)
}

object CorpusBuild {
  /** What one shard's build produced, for the checks. */
  private final case class Built(shard: Int, pairs: Map[String, Array[(Long, Long)]],
      labels: Map[Long, Long], trainIds: Set[Long], decontaminated: Array[(Long, Long, Double)],
      texts: Map[Long, String], chunkVecs: Map[Long, Array[Float]])
}
