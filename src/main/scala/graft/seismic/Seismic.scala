package graft.seismic

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.PruneUtils

/** SEISMIC sparse-ANN (Bruch et al., SIGIR 2024) re-expressed as derived
  * Parquet tables + a two-stage pruned query plan — the reference builds
  * this inside a Lucene codec at segment flush
  * (sparse/algorithm/seismic/SeismicPostingClusterer.java,
  * RandomClusteringAlgorithm.java:42-91, PostingsProcessingUtils.java:70-109,
  * quantization/ByteQuantizer.java); here it is a batch build job, which is
  * the natural Spark shape (SURVEY.md §2.6).
  *
  * Build (per token):
  *   1. posting truncation: keep top `nPostings` docs by weight (λ)
  *   2. clustering: < 10 docs → 1 cluster; else numCluster =
  *      min(size, max(1, ceil(size × clusterRatio))) seeded-random distinct
  *      center docs, members assigned by max dot product with center vectors
  *      (reference uses Randomness.get(); we seed per token for reproducible
  *      builds — documented divergence). The dots are scored sparsely
  *      ([[assignToCenters]]): the centers' nonzeros are indexed by token and
  *      each member walks only its own tokens' center lists — exact integer
  *      sums, so the same assignment as a dense dot over the vocabulary
  *   3. summaries: token-wise MAX over member vectors, sorted desc, keep the
  *      prefix until cumulative weight EXCEEDS floor(total × α) (the crossing
  *      item is kept — PostingsProcessingUtils.summarize:95-108)
  *   4. byte quantization: round(clamp(w, 0, ceil) × 255 / ceil)
  *      (ByteQuantizer.quantize; ingest ceil 3.0, search ceil 16.0)
  *
  * Search (two-stage, batch re-expression of SeismicBaseScorer):
  *   1. query cut: top `topN` query tokens by weight
  *   2. θ = k-th exact score over the seed candidates (top cluster per token)
  *   3. keep clusters with summaryScore ≥ θ / heapFactor; union their
  *      members; exact sparse dot; top-k.
  *   The reference's heap evolves during sequential traversal
  *   (SeismicBaseScorer.nextQualifiedCluster:207-225); the fixed two-phase
  *   threshold is the deterministic batch equivalent. heapFactor → ∞ and
  *   topN ≥ |q| ⇒ no pruning ⇒ identical to exact search (invariant test).
  */
object Seismic {

  val DefaultNPostings: Int = -1 // -1 = keep all (SparseConstants.DEFAULT_N_POSTINGS)
  val DefaultSummaryPruneRatio = 0.4f
  val DefaultClusterRatio = 0.1f
  val DefaultApproximateThreshold = 1000000
  val MinClusterSize = 10
  val CeilIngest = 3.0f
  val CeilSearch = 16.0f

  def quantize(w: Float, ceil: Float): Int = {
    val c = math.max(0.0f, math.min(ceil, w))
    math.round(c * 255f / ceil)
  }
  def dequantize(q: Int, ceil: Float): Float = q * ceil / 255f

  /** `tokenBuckets`: Some(n) when the tables came from a WRITTEN index
    * partitioned on the token-hash bucket ([[write]]) — search then prunes
    * both scans to the query cut's buckets (Parquet partition pruning);
    * None for in-memory built tables (nothing to prune — they are already
    * resident). */
  case class SeismicIndex(
      clusters: DataFrame, // (token, cluster_id, doc_id)
      summaries: DataFrame, // (token, cluster_id, summary: Map[String, Float] dequantized)
      tokenBuckets: Option[Int] = None
  )

  /** Build the derived tables from a corpus carrying a `tokens` map column.
    * Distributed per-token: groupBy token (the natural partitioning key of
    * the postings table at 100 TB), cluster within each group. */
  def build(
      corpus: DataFrame,
      nPostings: Int = DefaultNPostings,
      clusterRatio: Float = DefaultClusterRatio,
      summaryPruneRatio: Float = DefaultSummaryPruneRatio,
      seed: Long = 42L,
      docId: String = "doc_id",
      tokens: String = "tokens"): SeismicIndex = {
    val spark = corpus.sparkSession
    import spark.implicits._

    // the typed clustering path keys docs by a Long id — fail fast on
    // non-integral id columns instead of an ANSI cast error mid-job (or,
    // with ANSI off, silently nulled ids that match nothing at search time)
    val idType = corpus.schema(docId).dataType
    require(
      idType == org.apache.spark.sql.types.LongType ||
        idType == org.apache.spark.sql.types.IntegerType ||
        idType == org.apache.spark.sql.types.ShortType,
      s"SEISMIC build requires an integral $docId column, got $idType")

    // quantized doc vectors (token -> byte weight as Int), carried into the
    // per-token groups so clustering sees full vectors (the reference reads
    // them through the forward index / SparseVectorReader)
    val qvecUdf = udf((m: Map[String, Float]) =>
      m.map { case (t, w) => t -> quantize(w, CeilIngest) })
    val docs = corpus.select(
      col(docId).cast("long").as("doc_id"), qvecUdf(col(tokens)).as("qvec"))

    val postings = docs
      .select(col("doc_id"), col("qvec"), explode(col("qvec")).as(Seq("token", "weight")))

    val truncated = if (nPostings > 0) {
      val w = Window.partitionBy(col("token"))
        .orderBy(col("weight").desc, col("doc_id").asc)
      postings.withColumn("__r", row_number().over(w)).where(col("__r") <= nPostings).drop("__r")
    } else postings

    val clustered = truncated
      .select(col("token"), col("doc_id"), col("weight"), col("qvec"))
      .as[(String, Long, Int, Map[String, Int])]
      .groupByKey(_._1)
      .flatMapGroups { (token, it) =>
        val members = it.toArray.sortBy(_._2) // deterministic doc order
        val vecs = members.map(m => m._2 -> m._4).toMap
        val assignments: Array[(Long, Int)] =
          if (members.length < MinClusterSize || clusterRatio == 0f) {
            members.map(m => m._2 -> 0)
          } else {
            val size = members.length
            val numCluster = math.min(size, math.max(1, math.ceil(size * clusterRatio).toInt))
            val rnd = new scala.util.Random(seed ^ token.hashCode.toLong)
            val centerIdx = rnd.shuffle(members.indices.toList).take(numCluster).sorted.toArray
            members.map(_._2).zip(assignToCenters(members.map(_._4), centerIdx))
          }
        val byCluster = assignments.groupBy(_._2)
        byCluster.iterator.flatMap { case (cid, ms) =>
          // summary: token-wise max int weight over member vectors, prefix-
          // pruned at floor(total * alpha) keeping the crossing item
          val summary = scala.collection.mutable.HashMap.empty[String, Int]
          ms.foreach { case (d, _) =>
            vecs(d).foreach { case (t, w) =>
              summary.update(t, math.max(summary.getOrElse(t, 0), w))
            }
          }
          val items = summary.toSeq.sortBy { case (t, w) => (-w, t) }
          val total = items.iterator.map(_._2.toDouble).sum
          val threshold = math.floor(total * summaryPruneRatio)
          var acc = 0L; var idx = 0; var stop = false
          while (idx < items.length && !stop) {
            acc += items(idx)._2; idx += 1
            if (acc > threshold) stop = true
          }
          val pruned = items.take(idx).map { case (t, w) => t -> dequantize(w, CeilIngest) }.toMap
          ms.iterator.map { case (d, _) => (token, cid, d, pruned) }
        }
      }
      .toDF("token", "cluster_id", "doc_id", "summary")
      // The search plan consumes this twice (theta seed pass + final
      // candidate pass) and a driver action sits between them — persist so
      // the clustering job runs once (at scale these are written Parquet
      // tables partitioned by token; persist is the local-session analogue).
      .persist()

    val clusters = clustered.select(col("token"), col("cluster_id"), col("doc_id"))
    val summaries = clustered
      .select(col("token"), col("cluster_id"), col("summary"))
      .dropDuplicates("token", "cluster_id")
    SeismicIndex(clusters, summaries)
  }

  /** Clustering step 2 for one token group: the position in `centerIdx` of
    * the center whose vector has the largest integer dot product with each
    * member's, first max winning ties (so an all-zero row picks center 0).
    * Scored sparsely: the centers' nonzeros are indexed by token, and a
    * member adds `w_member × w_center` only along the center lists of its
    * own tokens — work ∝ shared nonzeros rather than members × centers ×
    * group vocabulary. Integer sums over the same centers in the same order,
    * so the choice equals a dense dot over the vocabulary. */
  private[graft] def assignToCenters(
      vecs: Array[Map[String, Int]], centerIdx: Array[Int]): Array[Int] = {
    import scala.collection.mutable.{ArrayBuilder, HashMap}
    val lists = HashMap.empty[String, (ArrayBuilder.ofInt, ArrayBuilder.ofInt)]
    var c = 0
    while (c < centerIdx.length) {
      vecs(centerIdx(c)).foreach { case (t, w) =>
        if (w != 0) {
          val (cs, ws) = lists.getOrElseUpdate(t,
            (new ArrayBuilder.ofInt, new ArrayBuilder.ofInt))
          cs += c; ws += w
        }
      }
      c += 1
    }
    val index = lists.map { case (t, (cs, ws)) => t -> (cs.result(), ws.result()) }
    val scores = new Array[Long](centerIdx.length)
    vecs.map { m =>
      java.util.Arrays.fill(scores, 0L)
      m.foreach { case (t, w) =>
        index.get(t).foreach { case (cs, ws) =>
          var j = 0
          while (j < cs.length) { scores(cs(j)) += w.toLong * ws(j); j += 1 }
        }
      }
      var best = 0
      var i = 1
      while (i < scores.length) { if (scores(i) > scores(best)) best = i; i += 1 }
      best
    }
  }

  /** Persist the index as Parquet — the durable analogue of the reference's
    * custom codec files (sparse/codec/SparsePostingsConsumer.java writes
    * clustered postings + summaries at segment flush; here they are plain
    * columnar tables). PARTITIONED by token-hash bucket (the
    * [[graft.sparse.SparseRetrieval.writePostingsIndex]] protocol —
    * VERDICT r12 task #8; previously only repartitioned/co-located): a
    * query cut's tokens resolve to bucket values on the DRIVER, so
    * [[search]]/[[searchBatch]] over a loaded index prune clusters and
    * summaries to the cut's directories instead of scanning the whole
    * index (PartitionFilters — plan-pinned in IndexPersistenceSpec). The
    * bucket expression matches [[graft.sparse.SparseRetrieval
    * .tokenBucket]] exactly, and nBuckets rides a meta file so a reader
    * can never probe with a different modulus than the writer. */
  def write(index: SeismicIndex, path: String, nBuckets: Int = 0): Unit = {
    // 0 = auto: partition count scales with the written relation, so
    // partition size stays ~constant at any corpus (IndexMeta.autoParts).
    // The auto path evaluates clusters twice (count + write) — persist
    // around both so an in-memory build() index does not recompute its
    // clustering pipeline (ADVICE r13; the WinnowIndex.write pattern)
    val needCount = nBuckets <= 0
    val cl = if (needCount) index.clusters.persist() else index.clusters
    val nb = if (nBuckets > 0) nBuckets
      else graft.dedup.IndexMeta.autoParts(cl.count())
    def tb = pmod(xxhash64(col("token")), lit(nb.toLong)).cast("int")
    cl.withColumn("tb", tb).repartition(col("tb"))
      .write.mode("overwrite").partitionBy("tb").parquet(s"$path/clusters")
    index.summaries.withColumn("tb", tb).repartition(col("tb"))
      .write.mode("overwrite").partitionBy("tb").parquet(s"$path/summaries")
    if (needCount) cl.unpersist(blocking = false)
    graft.dedup.IndexMeta.write(path, "SEISMIC_META", Seq(nb))
  }

  /** Load a previously-written index. The loaded tables ARE the index —
    * search composes the same joins whether the DataFrames come from the
    * build memo or from storage (the reference similarly reads its codec
    * files back through SparseTermsLuceneReader at segment open). A
    * legacy unpartitioned layout (no meta file) loads with
    * tokenBuckets = None and searches unpruned. */
  def load(spark: org.apache.spark.sql.SparkSession, path: String): SeismicIndex =
    SeismicIndex(
      clusters = spark.read.parquet(s"$path/clusters"),
      summaries = spark.read.parquet(s"$path/summaries"),
      tokenBuckets =
        try Some(graft.dedup.IndexMeta.read(path, "SEISMIC_META")(0).toInt)
        catch { case _: java.io.FileNotFoundException => None })

  /** Restrict a loaded index to the buckets a query cut's tokens hash
    * into — the isin on the partition column reaches both Parquet scans
    * as PartitionFilters. Identity for in-memory indexes. */
  private def pruneToTokens(index: SeismicIndex,
      tokens: Iterable[String]): SeismicIndex =
    index.tokenBuckets match {
      case Some(nb) =>
        val tbs = tokens.map(
          graft.sparse.SparseRetrieval.tokenBucket(_, nb)).toSeq.distinct
        SeismicIndex(
          index.clusters.where(col("tb").isin(tbs: _*)).drop("tb"),
          index.summaries.where(col("tb").isin(tbs: _*)).drop("tb"))
      case None => index
    }

  /** Pruned search. `corpus` supplies exact vectors for final rescoring. */
  def search(
      index: SeismicIndex,
      corpus: DataFrame,
      qTokens: Map[String, Float],
      k: Int = 10,
      topN: Int = 10,
      heapFactor: Float = 1.0f,
      docId: String = "doc_id",
      tokens: String = "tokens"): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._

    // 1. query cut: top_n tokens by weight (tie: token asc) — and prune a
    // written index to the cut's token-hash buckets (partition pruning)
    val cut = qTokens.toSeq.sortBy { case (t, w) => (-w, t) }.take(topN).toMap
    val idx = pruneToTokens(index, cut.keys)
    // summary scoring sees the query through the SEARCH-side byte quantizer
    // (reference SeismicBaseScorer dots a CeilSearch-quantized query against
    // the quantized summaries) — pruning decisions carry that precision
    // loss, final rescoring below uses the exact query
    val cutQuantized = cut.map { case (t, w) =>
      t -> dequantize(quantize(w, CeilSearch), CeilSearch)
    }
    val qDf = broadcast(cut.toSeq.toDF("token", "qw"))

    def exactScores(cands: DataFrame): DataFrame =
      corpus
        .join(cands, corpus(docId) === cands("doc_id"))
        .select(cands("doc_id"),
          round(graft.functions.VectorExpressions.sparse_dot(
            corpus(tokens), typedLit(qTokens)), 6).as("score"))

    // summary score per (token, cluster) against the cut query — persisted:
    // it is tiny (top_n tokens × clusters/token) and consumed by BOTH the
    // seed pass and the pruning pass; without it the summaries
    // dropDuplicates shuffle re-runs per consumer
    // round-6 before any compare/rank on the summary score: the pruning
    // threshold comparison and the per-token seed pick must be reproducible
    // across engines (sum order varies; see the oracle determinism protocol)
    val sumScores = idx.summaries
      .join(qDf, "token")
      .withColumn("sscore", round(
        graft.functions.VectorExpressions.sparse_dot(col("summary"), typedLit(cutQuantized)), 6))
      .persist()

    // 2. seed candidates: best-summary cluster per token → exact → θ
    val wTok = Window.partitionBy(col("token")).orderBy(col("sscore").desc, col("cluster_id").asc)
    val seedClusters = sumScores.withColumn("__r", row_number().over(wTok))
      .where(col("__r") <= 1).select(col("token"), col("cluster_id"))
    val seedDocs = idx.clusters.join(seedClusters, Seq("token", "cluster_id"))
      .select(col("doc_id")).distinct()
    val seedScored = exactScores(seedDocs)
    val theta: Double = {
      val top = seedScored.orderBy(col("score").desc).limit(k).collect()
      if (top.length < k) 0.0 else top.last.getDouble(1)
    }

    // 3. prune clusters by summary bound θ/heapFactor, union members, rescore
    val bound = if (heapFactor.isInfinite || heapFactor <= 0f) Double.NegativeInfinity
    else theta / heapFactor
    val kept = sumScores.where(col("sscore") >= bound)
      .select(col("token"), col("cluster_id"))
    // candidates = pruned-cluster members ∪ the SEED docs: the reference's
    // heap scores seed clusters before it is full (pruning only skips
    // LATER clusters, SeismicBaseScorer.nextQualifiedCluster fires on a
    // full heap) — already-scored docs are never un-scored. Without the
    // union, a corpus whose α-pruned summaries all fall below θ/heapFactor
    // returned EMPTY instead of the seed heap (caught by
    // IndexPersistenceSpec's synthetic corpus).
    val candDocs = idx.clusters.join(kept, Seq("token", "cluster_id"))
      .select(col("doc_id")).union(seedDocs).distinct()
    exactScores(candDocs)
      .where(col("score") > 0.0)
      .orderBy(col("score").desc, col("doc_id").asc)
      .limit(k)
  }

  /** Query-set-at-a-time pruned search — the batch form of [[search]]
    * (same shape as SparseRetrieval.batchTopK): the whole query batch walks
    * the index in ONE plan. Each per-query driver action of the loop form
    * becomes a relational step keyed by query_id:
    *
    *   - query cut + search-side quantization: driver-side per query (the
    *     batch is small — it is the same plan-time inference hoisting as a
    *     single query);
    *   - summary scores: summaries ⨝ broadcast (query_id, token) cut, dot
    *     against the per-query quantized cut;
    *   - θ: the per-query `collect k rows` becomes one window/aggregation —
    *     θ_q = k-th best exact seed score (0.0 when a query has fewer than
    *     k seed candidates), for ALL queries in one job;
    *   - pruning, candidate union, exact rescore, top-k: identical steps
    *     partitioned by query_id.
    *
    * Per query, the relational steps compute exactly what [[search]]
    * computes, so batch ≡ per-query loop (SeismicSpec invariant).
    * Returns (query_id, doc_id, score, rank), rank ≤ k per query. */
  def searchBatch(
      index: SeismicIndex,
      corpus: DataFrame,
      queries: Map[Long, Map[String, Float]],
      k: Int = 10,
      topN: Int = 10,
      heapFactor: Float = 1.0f,
      docId: String = "doc_id",
      tokens: String = "tokens"): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._

    // 1. per-query cut + search-side quantization (driver-side; the query
    // batch is plan metadata, like a single query's literal)
    val cuts = queries.map { case (qid, q) =>
      qid -> q.toSeq.sortBy { case (t, w) => (-w, t) }.take(topN).toMap
    }
    val cutsQuantized = cuts.map { case (qid, c) =>
      qid -> c.map { case (t, w) => t -> dequantize(quantize(w, CeilSearch), CeilSearch) }
    }
    // prune a written index to the BATCH's cut-token buckets once
    val idx = pruneToTokens(index, cuts.values.flatMap(_.keys))
    val qDf = broadcast(
      cuts.toSeq.flatMap { case (qid, c) => c.keys.map(t => (qid, t)) }
        .toDF("query_id", "token"))

    // per-query dot kernels (broadcast maps): same iteration shape as the
    // SparseDot expression — walk the doc-side map, probe the query side;
    // round-6 downstream absorbs accumulation-order differences, exactly as
    // it does between this engine and the DuckDB oracle
    val bCuts = spark.sparkContext.broadcast(cutsQuantized)
    val sumDot = udf((qid: Long, summary: Map[String, Float]) => {
      val q = bCuts.value(qid)
      var s = 0.0
      summary.foreach { case (t, w) =>
        q.get(t).foreach(qw => s += w.toDouble * qw.toDouble) }
      s
    })
    val bFull = spark.sparkContext.broadcast(queries)
    val exactDot = udf((qid: Long, m: Map[String, Float]) => {
      val q = bFull.value(qid)
      var s = 0.0
      m.foreach { case (t, w) =>
        q.get(t).foreach(qw => s += w.toDouble * qw.toDouble) }
      s
    })
    def exactScores(cands: DataFrame): DataFrame =
      corpus
        .join(cands, corpus(docId) === cands("doc_id"))
        .select(cands("query_id"), cands("doc_id"),
          round(exactDot(cands("query_id"), corpus(tokens)), 6).as("score"))

    val sumScores = idx.summaries
      .join(qDf, "token")
      .withColumn("sscore", round(sumDot(col("query_id"), col("summary")), 6))
      .persist()

    // 2. seed candidates per (query, token); θ per query in ONE window job
    val wTok = Window.partitionBy(col("query_id"), col("token"))
      .orderBy(col("sscore").desc, col("cluster_id").asc)
    val seedClusters = sumScores.withColumn("__r", row_number().over(wTok))
      .where(col("__r") <= 1).select(col("query_id"), col("token"), col("cluster_id"))
    val seedDocs = idx.clusters.join(seedClusters, Seq("token", "cluster_id"))
      .select(col("query_id"), col("doc_id")).distinct()
    val seedScored = exactScores(seedDocs)
    val wQ = Window.partitionBy(col("query_id"))
      .orderBy(col("score").desc, col("doc_id").asc)
    val thetas = seedScored.withColumn("__rn", row_number().over(wQ))
      .groupBy(col("query_id"))
      .agg(max(when(col("__rn") === k, col("score"))).as("kth"),
        count(lit(1)).as("n"))
      .select(col("query_id"),
        when(col("n") >= k, col("kth")).otherwise(lit(0.0)).as("theta"))

    // 3. prune per query at θ_q/heapFactor, union each query's seeds, rescore
    val noBound = heapFactor.isInfinite || heapFactor <= 0f
    val kept = sumScores.join(broadcast(thetas), "query_id")
      .where(if (noBound) lit(true)
        else col("sscore") >= col("theta") / heapFactor.toDouble)
      .select(col("query_id"), col("token"), col("cluster_id"))
    val candDocs = idx.clusters.join(kept, Seq("token", "cluster_id"))
      .select(col("query_id"), col("doc_id"))
      .union(seedDocs).distinct()
    val wRank = Window.partitionBy(col("query_id"))
      .orderBy(col("score").desc, col("doc_id").asc)
    val out = exactScores(candDocs)
      .where(col("score") > 0.0)
      .withColumn("rank", row_number().over(wRank))
      .where(col("rank") <= k)
      // eager cut: the result is ≤ k rows per query — materialize it now so
      // the per-invocation persist + broadcasts below can be RELEASED here
      // instead of leaking one sumScores cache + two broadcasts per call
      // (a serving loop calls this per batch; the leak was unbounded)
      .localCheckpoint(true)
    sumScores.unpersist(blocking = false)
    bCuts.unpersist(blocking = false)
    bFull.unpersist(blocking = false)
    out
  }
}
