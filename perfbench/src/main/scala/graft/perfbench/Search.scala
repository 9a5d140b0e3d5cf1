package graft.perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.ann.Ann
import graft.exec.HybridPipeline
import graft.ingest.Enrich
import graft.ml.ModelRegistry
import graft.model.{CombinationSpec, NormalizationSpec}
import graft.seismic.Seismic
import graft.sparse.SparseRetrieval

/** Query-set-at-a-time retrieval against indexes built in set-up: each
  * operation encodes one batch of queries through the model client and
  * sends it to every query family in turn. One operation spans all six
  * families because a median over single family calls falls between the
  * three cheap and the three costly families and swings with one sample. */
final class Search(ctx: Ctx) extends Workload {
  import ctx.spark.implicits._
  import Search.Encoded
  private val spark = ctx.spark
  private val K = 10
  private val Dim = 64
  private val NList = 32
  private val NProbe = 4
  private val Families = Seq("hybrid_minmax", "hybrid_rrf", "sparse_exact",
    "sparse_pruned", "seismic", "ivf")

  private val sizes = Util.readSizes(s"${ctx.in}/sizes.json")
  private val batchSize = sizes("batch").toInt
  private val queries: IndexedSeq[(Long, String)] =
    ctx.jsonl("queries.jsonl", "query_id LONG, text STRING")
      .orderBy("query_id").collect().map(r => (r.getLong(0), r.getString(1))).toIndexedSeq

  private var corpus: DataFrame = _
  private var vecs: DataFrame = _
  private var postings: DataFrame = _
  private var postingsIdx: DataFrame = _
  private var seismic: Seismic.SeismicIndex = _
  private var ivfAssigned: DataFrame = _
  private var centroids: Array[Array[Float]] = _

  def setup(rep: Int): Unit = {
    Seq(corpus, postings).filter(_ != null).foreach(_.unpersist(blocking = true))
    val dir = ctx.fresh(s"search-$rep")
    val docs = ctx.jsonl("docs.jsonl", "doc_id LONG, text STRING")
    corpus = ctx.tracer.span("ingest") {
      val c = Enrich.textEmbedding(
        Enrich.sparseEncoding(docs, Map("text" -> "tokens")), Map("text" -> "embedding"), Dim)
        .select(col("doc_id"), col("tokens"), col("embedding")).persist()
      c.count(); c
    }
    vecs = corpus.select(col("doc_id").as("vec_id"), col("embedding"))
    postings = ctx.tracer.span("sparse") {
      val p = SparseRetrieval.buildPostings(corpus).persist()
      p.count()
      SparseRetrieval.writePostingsIndex(p, s"$dir/postings")
      p
    }
    postingsIdx = SparseRetrieval.loadPostingsIndex(spark, s"$dir/postings")
    seismic = ctx.tracer.span("seismic") {
      Seismic.write(Seismic.build(corpus), s"$dir/seismic")
      Seismic.load(spark, s"$dir/seismic")
    }
    val (a, c) = ctx.tracer.span("ann") {
      val cents = Ann.trainCentroids(vecs, Dim, NList)
      Ann.writeIndex(Ann.assign(vecs, cents), cents, s"$dir/ivf")
      Ann.loadIndex(spark, s"$dir/ivf")
    }
    ivfAssigned = a; centroids = c
  }

  // ---------------------------------------------------------------- ops

  private var next = 0
  private def nextBatch(): IndexedSeq[(Long, String)] = {
    val b = (0 until batchSize).map(i => queries((next + i) % queries.size))
    next = (next + batchSize) % queries.size
    b
  }

  private def encode(batch: Seq[(Long, String)]): Encoded = ctx.tracer.span("ml") {
    val m = ModelRegistry.current
    Encoded(batch.map { case (q, t) => q -> m.encodeSparse(t) }.toMap,
      batch.map { case (q, t) => q -> m.embedDense(t, Dim) }.toMap)
  }

  /** The hybrid query's two sub-queries: every query token, and the two
    * heaviest (ties by token) — a `must`-style narrower clause. */
  private def subqueries(q: Map[String, Float]): Seq[Map[String, Float]] =
    Seq(q, q.toSeq.sortBy { case (t, w) => (-w, t) }.take(2).toMap)

  /** (query_id, doc_id, score, rank) rows of one family's answer. */
  private def call(family: String, e: Encoded): Array[Row] = family match {
    case "hybrid_minmax" | "hybrid_rrf" => ctx.tracer.span("exec") {
      val scored = HybridPipeline.scoreBatchSparse(postings, e.sparse.map { case (q, m) =>
        q -> subqueries(m) })
      val (n, c) =
        if (family == "hybrid_minmax")
          (NormalizationSpec.MinMax(), CombinationSpec.ArithmeticMean())
        else (NormalizationSpec.RRF(), CombinationSpec.RRF())
      HybridPipeline.run(scored, 2, n, c, size = K)
        .select(col("query_id"), col("doc_id"), col("score"), col("rank")).collect()
    }
    case "sparse_exact" => ctx.tracer.span("sparse") {
      SparseRetrieval.batchTopK(postings, e.sparse, K)
        .select(col("query_id"), col("doc_id"), col("score"), col("rank")).collect()
    }
    case "sparse_pruned" => ctx.tracer.span("sparse") {
      SparseRetrieval.batchTopKPruned(postingsIdx, e.sparse, K)
        .select(col("query_id"), col("doc_id"), col("score"), col("rank")).collect()
    }
    case "seismic" => ctx.tracer.span("seismic") {
      Seismic.searchBatch(seismic, corpus, e.sparse, k = K)
        .select(col("query_id"), col("doc_id"), col("score"), col("rank")).collect()
    }
    case "ivf" => ctx.tracer.span("ann") {
      Ann.ivfTopKBatch(ivfAssigned, centroids, e.dense, K, NProbe)
        .select(col("query_id"), col("vec_id"), col("score"), col("rank")).collect()
    }
  }

  /** Answers of the timed phase, for the checks. Recall is measured on all
    * of them; the per-query exact comparison on the first two rounds. */
  private val ExactRounds = 2
  /** Queries in the extra untimed recall sample. */
  private val RecallSample = if (ctx.smoke) 16 else 128
  private val answers = mutable.ArrayBuffer.empty[(Int, String, Encoded, Array[Row])]
  private var rounds = 0

  def warmup(): Unit = {
    val e = encode(nextBatch())
    Families.foreach(call(_, e))
  }

  def round(): Seq[Op] = {
    val batch = nextBatch()
    val (answered, ms) = ctx.timedOp {
      val e = encode(batch)
      Families.map(f => (f, e, call(f, e)))
    }
    answered.foreach { case (f, e, rows) => answers += ((rounds, f, e, rows)) }
    rounds += 1
    Seq(Op(ms, batch.size, Families.size, 0))
  }

  // ------------------------------------------------------------- checks

  private def byQuery(rows: Array[Row]): Map[Long, Seq[(Long, Double)]] =
    rows.groupBy(_.getLong(0)).map { case (q, rs) =>
      q -> rs.sortBy(_.getAs[Number](3).longValue).map(r => (r.getLong(1), r.getDouble(2))).toSeq
    }

  /** Two top-k lists agree when their scores agree position by position and
    * every doc scoring strictly above the k-th score is in both (docs tied
    * at the cut may differ only by the tie-break on equal rounded scores). */
  private def sameTopK(a: Seq[(Long, Double)], b: Seq[(Long, Double)]): Boolean = {
    val eps = 1e-5
    a.size == b.size && a.zip(b).forall { case (x, y) => math.abs(x._2 - y._2) <= eps } && {
      val cut = if (a.isEmpty) 0.0 else a.last._2
      a.filter(_._2 > cut + eps).map(_._1).toSet == b.filter(_._2 > cut + eps).map(_._1).toSet
    }
  }

  private var recallSeismic = Double.NaN
  private var recallIvf = Double.NaN

  def verify(): Unit = {
    val sampleQueries = if (ctx.smoke) 2 else 4
    val recallS = mutable.ArrayBuffer.empty[Double]
    val recallI = mutable.ArrayBuffer.empty[Double]
    def recall(got: Seq[(Long, Double)], exact: Seq[(Long, Double)]): Double =
      if (exact.isEmpty) 1.0 else got.map(_._1).toSet.intersect(exact.map(_._1).toSet).size
        .toDouble / exact.size
    // a larger untimed sample for recall, so that the figure does not hinge
    // on the few batches the timed phase reached
    val sample = encode((0 until RecallSample).map(i => queries((next + i) % queries.size)))
    val sampled = Seq("seismic", "ivf").map(f => (ExactRounds, f, sample, call(f, sample)))
    (answers ++ sampled).foreach { case (round, f, e, rows) =>
      val got = byQuery(rows)
      f match {
        case "sparse_exact" | "sparse_pruned" if round < ExactRounds =>
          e.sparse.toSeq.sortBy(_._1).take(sampleQueries).foreach { case (q, m) =>
            val exact = SparseRetrieval.exactTopK(corpus, m, K)
              .select(col("doc_id"), col("score")).collect()
              .map(r => (r.getLong(0), r.getDouble(1))).toSeq
            ctx.check(s"$f equals exactTopK", sameTopK(got.getOrElse(q, Nil), exact),
              s"query $q: got ${got.getOrElse(q, Nil)} exact $exact")
          }
        case "seismic" =>
          val exact = byQuery(SparseRetrieval.batchTopK(postings, e.sparse, K)
            .select(col("query_id"), col("doc_id"), col("score"), col("rank")).collect())
          e.sparse.keys.foreach(q =>
            recallS += recall(got.getOrElse(q, Nil), exact.getOrElse(q, Nil)))
          ctx.check("seismic answers at most k ranked docs per query",
            got.values.forall(l => l.size <= K && l.map(_._2) == l.map(_._2).sorted.reverse))
        case "ivf" =>
          val qDf = e.dense.toSeq.map { case (q, v) => (q, v.toSeq) }.toDF("query_id", "qvec")
          val exact = byQuery(Ann.bruteForceTopKBatch(vecs, qDf, K)
            .select(col("query_id"), col("vec_id"), col("score"), col("rank")).collect())
          e.dense.keys.foreach(q =>
            recallI += recall(got.getOrElse(q, Nil), exact.getOrElse(q, Nil)))
          ctx.check("ivf answers at most k ranked docs per query",
            got.values.forall(l => l.size <= K && l.map(_._2) == l.map(_._2).sorted.reverse))
        case hybrid if round < ExactRounds =>
          // every hybrid hit comes from some sub-query's exact top-k, ranks
          // run 1..n, and min-max combined scores stay in [0, 1]
          val subs = e.sparse.toSeq.flatMap { case (q, m) =>
            subqueries(m).zipWithIndex.map { case (s, i) => (q * 2 + i) -> s } }.toMap
          val subTop = byQuery(SparseRetrieval.batchTopK(postings, subs, K)
            .select(col("query_id"), col("doc_id"), col("score"), col("rank")).collect())
          got.foreach { case (q, hits) =>
            val allowed = (subTop.getOrElse(q * 2, Nil) ++ subTop.getOrElse(q * 2 + 1, Nil))
              .map(_._1).toSet
            val ranksOk = rows.filter(_.getLong(0) == q).map(_.getAs[Number](3).intValue)
              .sorted.toSeq == (1 to hits.size)
            val scoresOk = hybrid != "hybrid_minmax" || hits.forall(h => h._2 >= -1e-9 && h._2 <= 1 + 1e-9)
            ctx.check(s"$hybrid hits come from sub-query top-k",
              hits.size <= K && ranksOk && scoresOk && hits.forall(h => allowed.contains(h._1)),
              s"query $q hits $hits allowed $allowed")
          }
        case _ => // later rounds: recall only
      }
    }
    recallSeismic = recallS.sum / math.max(1, recallS.size)
    recallIvf = recallI.sum / math.max(1, recallI.size)
    ctx.check("recall was measured", recallS.nonEmpty && recallI.nonEmpty)
  }

  def quality: Double = (recallSeismic + recallIvf) / 2

  override def extra: Map[String, Any] = Map(
    "recall_at_10_seismic" -> recallSeismic, "recall_at_10_ivf" -> recallIvf,
    "queries_per_op" -> batchSize, "families" -> Families)
}

object Search {
  /** One query batch through the model client: sparse and dense forms. */
  private final case class Encoded(sparse: Map[Long, Map[String, Float]],
      dense: Map[Long, Array[Float]])
}
