package graft

import org.apache.spark.sql.functions._
import graft.ann.Ann
import graft.dedup.Dedup
import graft.ingest.Enrich
import graft.ml.HashEmbedder
import graft.multimodal.Multimodal
import graft.post.Rerank
import graft.seismic.Seismic
import graft.sparse.SparseRetrieval
import graft.text.TextAnalysis

class SparseRetrievalSpec extends SparkSpec {
  import spark.implicits._

  private lazy val corpus = Seq(
    (1L, "spark join table join fast"),
    (2L, "slow scan big table"),
    (3L, "spark spark spark stream"),
    (4L, "window agg merge"),
    (5L, "join table scan fast fast fast")
  ).toDF("doc_id", "text").withColumn("tokens", Enrich.encodeUdf(col("text")))

  private val q = HashEmbedder.encode("spark join fast")

  test("scoreDocs and scorePostings agree (two physical strategies, one operator)") {
    val a = SparseRetrieval.scoreDocs(corpus, q).orderBy("doc_id").collect().map(r => (r.getLong(0), r.getDouble(1)))
    val postings = SparseRetrieval.buildPostings(corpus)
    val b = SparseRetrieval.scorePostings(postings, q).orderBy("doc_id").collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(a.toSeq == b.toSeq)
    assert(a.nonEmpty)
  }

  test("two-phase equals exact when window covers corpus") {
    val exact = SparseRetrieval.exactTopK(corpus, q, 3).collect().map(_.getLong(0)).toSeq
    val tp = SparseRetrieval.twoPhaseTopK(corpus, q, 3, maxWindowSize = 100).collect().map(_.getLong(0)).toSeq
    assert(tp == exact)
  }

  test("sparse score matches hand computation") {
    // doc1 tokens: spark1 join2 table1 fast1 ; q: spark1 join1 fast1 (all weight 1+ln2)
    val w1 = (1.0 + math.log(2.0)).toFloat
    val w2 = (1.0 + math.log(3.0)).toFloat
    val expected = BigDecimal(w1.toDouble * w1 + w2.toDouble * w1 + w1.toDouble * w1)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val got = SparseRetrieval.scoreDocs(corpus, q).where($"doc_id" === 1).collect()(0).getDouble(1)
    assert(math.abs(got - expected) < 1e-6)
  }
}

class SeismicSpec extends SparkSpec {
  import spark.implicits._

  private lazy val corpus = {
    val words = Seq("spark", "join", "table", "scan", "fast", "slow", "agg", "merge", "window", "stream", "data", "row")
    val docs = (1L to 60L).map { i =>
      val text = (0 until 12).map(j => words(((i * 7 + j * 3) % words.size).toInt)).mkString(" ")
      (i, text)
    }
    docs.toDF("doc_id", "text").withColumn("tokens", Enrich.encodeUdf(col("text")))
  }
  private val q = HashEmbedder.encode("spark join fast table")

  test("seismic with no pruning equals exact top-k (invariant)") {
    val idx = Seismic.build(corpus, clusterRatio = 0.3f, summaryPruneRatio = 1.0f)
    val exact = SparseRetrieval.exactTopK(corpus, q, 10).collect().map(_.getLong(0)).toSeq
    val got = Seismic.search(idx, corpus, q, k = 10, topN = q.size, heapFactor = Float.PositiveInfinity)
      .collect().map(_.getLong(0)).toSeq
    assert(got == exact)
  }

  test("seismic pruned search still returns k docs with high overlap") {
    val idx = Seismic.build(corpus)
    val exact = SparseRetrieval.exactTopK(corpus, q, 10).collect().map(_.getLong(0)).toSet
    val got = Seismic.search(idx, corpus, q, k = 10, topN = 3, heapFactor = 2.0f)
      .collect().map(_.getLong(0)).toSet
    assert(got.size == 10)
    assert((got intersect exact).size >= 5, s"recall too low: ${(got intersect exact).size}")
  }

  test("build is deterministic (seeded clustering)") {
    val a = Seismic.build(corpus).clusters.orderBy("token", "cluster_id", "doc_id").collect().toSeq
    val b = Seismic.build(corpus).clusters.orderBy("token", "cluster_id", "doc_id").collect().toSeq
    assert(a == b)
  }

  test("quantization round-trip") {
    assert(Seismic.quantize(0f, 3f) == 0)
    assert(Seismic.quantize(3f, 3f) == 255)
    assert(Seismic.quantize(5f, 3f) == 255) // clamped at ceiling
    assert(math.abs(Seismic.dequantize(Seismic.quantize(1.5f, 3f), 3f) - 1.5f) < 0.01f)
  }

  test("batch search equals the per-query loop (multi-cluster index)") {
    val idx = Seismic.build(corpus, clusterRatio = 0.3f)
    val queries = Map(
      0L -> q,
      1L -> HashEmbedder.encode("stream window agg merge"),
      2L -> HashEmbedder.encode("zzz nothing matches this")) // no-hit query
    for ((k, topN, hf) <- Seq((5, 3, 1.5f), (10, 2, 2.0f), (10, 10, Float.PositiveInfinity))) {
      val batch = Seismic.searchBatch(idx, corpus, queries, k = k, topN = topN, heapFactor = hf)
        .collect()
        .groupBy(_.getLong(0))
        .map { case (qid, rows) =>
          qid -> rows.sortBy(_.getInt(3)).map(r => (r.getLong(1), r.getDouble(2))).toSeq
        }
      queries.foreach { case (qid, qt) =>
        val loop = Seismic.search(idx, corpus, qt, k = k, topN = topN, heapFactor = hf)
          .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
        assert(batch.getOrElse(qid, Nil) == loop,
          s"query $qid diverged at k=$k topN=$topN hf=$hf")
      }
    }
  }

  /** The dense assignment loop the build used before sparse center
    * scoring: densify every member over the group vocabulary, dot each
    * against every center, first max wins. */
  private def denseAssign(vecs: Array[Map[String, Int]], centerIdx: Array[Int]): Array[Int] = {
    val vocab = vecs.iterator.flatMap(_.keysIterator).toSet.toArray.sorted
    val tokIdx = vocab.zipWithIndex.toMap
    val dense = vecs.map { m =>
      val a = new Array[Int](vocab.length)
      m.foreach { case (t, w) => a(tokIdx(t)) = w }
      a
    }
    val centers = centerIdx.map(dense)
    dense.map { dv =>
      var best = 0; var bestScore = Long.MinValue
      centers.indices.foreach { i =>
        val s = centers(i).indices.map(j => centers(i)(j).toLong * dv(j)).sum
        if (s > bestScore) { bestScore = s; best = i }
      }
      best
    }
  }

  test("sparse center scoring assigns exactly like the dense vocabulary dot") {
    val rnd = new scala.util.Random(42)
    // heavy shared tokens: the group token in every vector, a Zipf-ish head
    def vec(): Map[String, Int] =
      (Seq("g" -> (1 + rnd.nextInt(255))) ++
        (0 until rnd.nextInt(12)).map { _ =>
          val r = rnd.nextDouble()
          s"t${(r * r * r * 40).toInt}" -> rnd.nextInt(256)
        }).toMap
    (1 to 200).foreach { n =>
      val size = 1 + rnd.nextInt(60)
      val base = Array.fill(size)(vec())
      val vecs = n % 4 match {
        case 0 => base.map(v => if (rnd.nextInt(3) == 0) v.map(_._1 -> 0) else v) // zero weights
        case 1 => base ++ base.take(1 + rnd.nextInt(size)) // duplicate members → tied centers
        case _ => base
      }
      val numCluster = if (n % 5 == 0) vecs.length // numCluster == size
        else 1 + rnd.nextInt(vecs.length)
      val centerIdx = rnd.shuffle(vecs.indices.toList).take(numCluster).sorted.toArray
      assert(Seismic.assignToCenters(vecs, centerIdx).toSeq == denseAssign(vecs, centerIdx).toSeq,
        s"case $n: size=${vecs.length} numCluster=$numCluster")
    }
    // all-zero group: every score ties at 0 → center 0
    val zeros = Array.fill(12)(Map("g" -> 0, "a" -> 0))
    assert(Seismic.assignToCenters(zeros, Array(3, 5, 7)).forall(_ == 0))
    // duplicate centers tie → the lower center position wins
    val dup = Array(Map("g" -> 9, "a" -> 4), Map("g" -> 9, "a" -> 4), Map("g" -> 1, "b" -> 200))
    assert(Seismic.assignToCenters(dup, Array(0, 1, 2)).toSeq == Seq(0, 0, 2))
  }
}

class DedupSpec extends SparkSpec {
  import spark.implicits._

  private lazy val docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog near the river bank today"),
    (2L, "the quick brown fox jumps over the lazy dog near the river bank tonight"), // near-dup of 1
    (3L, "completely different content about spark distributed compute engines"),
    (4L, "the quick brown fox jumps over the lazy dog near the river bank today") // exact dup of 1
  ).toDF("doc_id", "text")

  test("exact dedup groups") {
    val out = Dedup.exact(docs).collect().map(r => (r.getLong(1), r.getLong(2))).toMap
    assert(out(1L) == 2L) // docs 1 and 4 identical, keep_id=1
    assert(out(2L) == 1L && out(3L) == 1L)
  }

  test("minhash LSH finds exact and near duplicates") {
    val pairs = Dedup.minhashLsh(docs, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 4L))) // exact dup always found
    assert(pairs.contains((1L, 2L)) || pairs.contains((2L, 4L))) // near dup
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L))
  }

  test("simhash pairs on exact + near dup") {
    val pairs = Dedup.simhashPairs(docs, maxHamming = 8)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getInt(2))).toMap
    assert(pairs.get((1L, 4L)).contains(0)) // identical → hamming 0
    assert(pairs.contains((1L, 2L)))
  }

  test("ngram jaccard brute pairs") {
    val pairs = Dedup.ngramJaccardPairs(docs, threshold = 0.5)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(pairs((1L, 4L)) == 1.0)
    assert(pairs.contains((1L, 2L)) && pairs((1L, 2L)) < 1.0)
  }

  test("embedding near-dup: brute and LSH agree on planted dup") {
    val vecs = Seq(
      (1L, Array(1f, 0f, 0f, 0f, 1f, 0f, 0f, 1f)),
      (2L, Array(1f, 0f, 0.1f, 0f, 1f, 0f, 0f, 1f)), // near-dup of 1
      (3L, Array(0f, 1f, 0f, 1f, 0f, 0f, 1f, 0f))
    ).toDF("vec_id", "embedding")
    val brute = Dedup.embeddingNearDupBrute(vecs, threshold = 0.95)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(brute == Set((1L, 2L)))
    val lsh = Dedup.embeddingNearDupLsh(vecs, dim = 8, threshold = 0.95, nbits = 4, tables = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(lsh == Set((1L, 2L)))
  }

  test("embedding LSH duplicate-vector regime: collapse branch matches brute") {
    // verbatim duplicates trip the probe gate → rep-collapse path: pairs
    // must come back expanded (within-group AND cross-group × members)
    val vecs = Seq(
      (1L, Array(1f, 0f, 0f, 0f, 1f, 0f, 0f, 1f)),
      (2L, Array(1f, 0f, 0f, 0f, 1f, 0f, 0f, 1f)), // verbatim dup of 1
      (3L, Array(1f, 0f, 0.1f, 0f, 1f, 0f, 0f, 1f)), // near-dup of 1/2
      (4L, Array(0f, 1f, 0f, 1f, 0f, 0f, 1f, 0f))
    ).toDF("vec_id", "embedding")
    val brute = Dedup.embeddingNearDupBrute(vecs, threshold = 0.95)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Dedup.embeddingNearDupLsh(vecs, dim = 8, threshold = 0.95, nbits = 4, tables = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(lsh == brute)
    assert(Set((1L, 2L), (1L, 3L), (2L, 3L)).subsetOf(lsh))
  }
}

class AnnSpec extends SparkSpec {
  import spark.implicits._

  private lazy val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
  private val q = HashEmbedder.embed("vector search engine query data", 64)

  test("ivf with full probing equals brute force") {
    val centroids = Ann.trainCentroids(emb, dim = 64, nlist = 8, iters = 1)
    val assigned = Ann.assign(emb, centroids)
    val brute = Ann.bruteForceTopK(emb, q, 10).collect().map(_.getLong(0)).toSeq
    val ivf = Ann.ivfTopK(assigned, centroids, q, 10, nprobe = 8).collect().map(_.getLong(0)).toSeq
    assert(ivf == brute)
  }

  test("pq with a corpus-covering window equals brute force; narrow window has recall") {
    val cb = Ann.seededCodebooks(m = 4, ksub = 16, subDim = 16)
    val encoded = Ann.pqEncode(emb, cb)
    val n = emb.count().toInt
    val brute = Ann.bruteForceTopK(emb, q, 10).collect().map(_.getLong(0)).toSeq
    // rescore window covering the corpus -> the ADC ordering is irrelevant
    val full = Ann.pqAdcTopK(encoded, cb, q, 10, window = n).collect().map(_.getLong(0)).toSeq
    assert(full == brute)
    // narrow window: the seeded (untrained) codebook must still surface a
    // non-trivial share of the true top-k through 4-byte codes
    val narrow = Ann.pqAdcTopK(encoded, cb, q, 10, window = 40)
      .collect().map(_.getLong(0)).toSet
    assert((narrow intersect brute.toSet).size >= 3,
      s"recall: ${(narrow intersect brute.toSet).size}/10")
  }

  test("pq codes are within range and deterministic") {
    val cb = Ann.seededCodebooks(m = 4, ksub = 16, subDim = 16)
    val codes = Ann.pqEncode(emb, cb).select($"codes").collect().map(_.getSeq[Int](0))
    assert(codes.forall(cs => cs.length == 4 && cs.forall(c => c >= 0 && c < 16)))
    val again = Ann.pqEncode(emb, cb).select($"codes").collect().map(_.getSeq[Int](0))
    assert(codes.toSeq == again.toSeq)
  }

  test("ivf partial probe has reasonable recall") {
    val centroids = Ann.trainCentroids(emb, dim = 64, nlist = 8, iters = 2)
    val assigned = Ann.assign(emb, centroids)
    val brute = Ann.bruteForceTopK(emb, q, 10).collect().map(_.getLong(0)).toSet
    val ivf = Ann.ivfTopK(assigned, centroids, q, 10, nprobe = 3).collect().map(_.getLong(0)).toSet
    assert((ivf intersect brute).size >= 4, s"recall: ${(ivf intersect brute).size}/10")
  }

  test("batch brute-force matches single-query brute-force") {
    val queries = Seq((0L, HashEmbedder.embed("alpha", 64)), (1L, q)).toDF("query_id", "qvec")
    val batch = Ann.bruteForceTopKBatch(emb, queries, 5)
      .where($"query_id" === 1).orderBy($"rank").collect().map(_.getLong(1)).toSeq
    val single = Ann.bruteForceTopK(emb, q, 5).collect().map(_.getLong(0)).toSeq
    assert(batch == single)
  }

  test("batch IVF equals the per-query IVF loop") {
    val centroids = Ann.seededCentroids(nlist = 8, dim = 64)
    val assigned = Ann.assign(emb, centroids, roundDp = 6)
    val queries = Map(0L -> HashEmbedder.embed("alpha beta gamma", 64), 1L -> q)
    val batch = Ann.ivfTopKBatch(assigned, centroids, queries, k = 5, nprobe = 3)
      .collect().groupBy(_.getLong(0))
      .map { case (qid, rows) =>
        qid -> rows.sortBy(_.getInt(3)).map(r => (r.getLong(1), r.getDouble(2))).toSeq
      }
    queries.foreach { case (qid, qv) =>
      val single = Ann.ivfTopK(assigned, centroids, qv, 5, nprobe = 3)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      assert(batch.getOrElse(qid, Nil) == single, s"query $qid diverged")
    }
  }
}

class EnrichRerankSpec extends SparkSpec {
  import spark.implicits._

  test("embedBatched (mapPartitions batching seam) equals the per-row UDF") {
    val df = (1L to 25L).map(i => (i, s"doc number $i words vary $i"))
      .toDF("doc_id", "text")
    val batched = Enrich.embedBatched(df, "text", "emb", batchSize = 10)
      .collect().map(r => r.getLong(0) -> r.getSeq[Float](2)).toMap
    val udfOut = df.withColumn("emb", Enrich.embedUdf(Enrich.DefaultDim)(col("text")))
      .collect().map(r => r.getLong(0) -> r.getSeq[Float](2)).toMap
    assert(batched == udfOut)
  }

  test("textEmbedding matches HashEmbedder directly") {
    val df = Seq((1L, "hello world")).toDF("doc_id", "title")
    val out = Enrich.textEmbedding(df, Map("title" -> "title_emb")).collect()(0)
      .getSeq[Float](2).toArray
    assert(out.toSeq == HashEmbedder.embed("hello world", 8).toSeq)
  }

  test("semanticField produces chunks with embeddings struct") {
    val df = Seq((1L, (1 to 20).map(i => s"w$i").mkString(" "))).toDF("doc_id", "body")
    val out = Enrich.semanticField(df, "body", chunked = true, tokenLimit = 8)
    val info = out.select(col("body_semantic_info")).collect()(0).getStruct(0)
    val chunks = info.getSeq[org.apache.spark.sql.Row](0)
    assert(chunks.length == 3) // 20 tokens / 8 per chunk
    assert(chunks.forall(c => c.getSeq[Float](1).length == 8))
    assert(info.getStruct(1).getString(0) == "hash-embedder")
  }

  test("skip_existing reuses unchanged embeddings and recomputes changed") {
    val prev = Seq((1L, "same text", HashEmbedder.embed("STALE MARKER", 8)),
      (2L, "old text", HashEmbedder.embed("old text", 8))).toDF("doc_id", "body", "emb")
    val cur = Seq((1L, "same text"), (2L, "new text"), (3L, "brand new")).toDF("doc_id", "body")
    val out = Enrich.embedWithSkipExisting(cur, prev, "doc_id", "body", "emb")
      .orderBy("doc_id").collect()
    // doc1 unchanged → reuses previous (STALE MARKER proves no recompute)
    assert(out(0).getSeq[Float](2).toSeq == HashEmbedder.embed("STALE MARKER", 8).toSeq)
    assert(out(1).getSeq[Float](2).toSeq == HashEmbedder.embed("new text", 8).toSeq)
    assert(out(2).getSeq[Float](2).toSeq == HashEmbedder.embed("brand new", 8).toSeq)
  }

  test("byField rerank replaces score and re-sorts") {
    val df = Seq((1L, 0.9, 10), (2L, 0.8, 99), (3L, 0.7, 50)).toDF("doc_id", "score", "popularity")
    val out = Rerank.byField(df, "popularity", keepPreviousScore = true).collect()
    assert(out.map(_.getLong(0)).toSeq == Seq(2L, 3L, 1L))
    assert(out(0).getDouble(1) == 99.0)
    assert(out(0).getAs[Double]("previous_score") == 0.8)
  }

  test("mlRerank orders by cross-encoder similarity") {
    val df = Seq((1L, 0.1, "spark table join"), (2L, 0.9, "unrelated words here"))
      .toDF("doc_id", "score", "body")
    val out = Rerank.mlRerank(df, "spark table join", "body").collect()
    assert(out(0).getLong(0) == 1L)
    assert(out(0).getDouble(1) > out(1).getDouble(1))
  }

  test("MMR balances relevance and diversity") {
    // d1 and d2 nearly identical vectors, d3 orthogonal but slightly less relevant
    val cands = Array(
      (1L, 1.0, Array(1f, 0f, 0f, 0f)),
      (2L, 0.95, Array(1f, 0.01f, 0f, 0f)),
      (3L, 0.5, Array(0f, 1f, 0f, 0f)))
    val sel = Rerank.mmr(cands, k = 2, lambda = 0.5)
    assert(sel.map(_._1) == Seq(1L, 3L)) // picks diverse d3 over near-dup d2
    val selRel = Rerank.mmr(cands, k = 2, lambda = 1.0)
    assert(selRel.map(_._1) == Seq(1L, 2L)) // pure relevance at lambda=1
  }
}

class TextMultimodalSpec extends SparkSpec {
  import spark.implicits._

  test("langId predicts stopword-bearing language") {
    val df = Seq(
      (1L, "the cat sat of the mat and it is that"),
      (2L, "el perro de la casa y que en un dia"),
      (3L, "xyzzy qwerty asdf")).toDF("doc_id", "text")
    val out = TextAnalysis.langId(df).select("doc_id", "pred_lang").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out(1L) == "en")
    assert(out(2L) == "es")
    assert(out(3L) == "und")
  }

  test("quality + tokenCounts produce expected values") {
    val df = Seq((1L, "the quick fox")).toDF("doc_id", "text")
    val q = TextAnalysis.quality(df).collect()(0)
    assert(q.getAs[Int]("n_tokens") == 3)
    val t = TextAnalysis.tokenCounts(df).collect()(0)
    assert(t.getAs[Int]("n_tokens") == 3)
    assert(t.getAs[Long]("n_subword_est") == 1 + 2 + 1) // ceil(3/4)+ceil(5/4)+ceil(3/4)
  }

  test("rolling hash is order-sensitive and deterministic") {
    val a = TextAnalysis.rollingHash(Seq("a", "b", "c"))
    val b = TextAnalysis.rollingHash(Seq("c", "b", "a"))
    assert(a != b)
    assert(a == TextAnalysis.rollingHash(Seq("a", "b", "c")))
  }

  test("allocation-free mulMod equals the BigInteger form (property)") {
    val M = (1L << 61) - 1
    def ref(a: Long, b: Long): Long =
      java.math.BigInteger.valueOf(a).multiply(java.math.BigInteger.valueOf(b))
        .mod(java.math.BigInteger.valueOf(M)).longValue()
    val rnd = new scala.util.Random(3L)
    val edge = Seq(0L, 1L, 31L, M - 1, M, (1L << 32) - 1)
    val cases = edge.flatMap(a => edge.map(a -> _)) ++
      Seq.fill(500)((rnd.nextLong(M), rnd.nextLong(1L << 32)))
    cases.foreach { case (a, b) =>
      assert(TextAnalysis.mulMod(a, b, M) == ref(a, b), s"mulMod($a, $b)")
    }
  }

  test("multimodal feature extraction is deterministic with stable schema") {
    val df = Seq((1L, Array[Byte](1, 2, 3, 4, 5, 6)), (2L, Array[Byte](9, 9, 9))).toDF("id", "payload")
    val out = Multimodal.extractFeatures(df, "payload", dim = 8)
    assert(out.schema.fieldNames.toSeq == Seq("id", "payload", "media_features"))
    val v1 = out.where($"id" === 1).collect()(0).getSeq[Float](2)
    val v2 = Multimodal.extractFeatures(df, "payload", dim = 8).where($"id" === 1).collect()(0).getSeq[Float](2)
    assert(v1 == v2)
    val norm = math.sqrt(v1.map(x => x.toDouble * x).sum)
    assert(math.abs(norm - 1.0) < 1e-5)
  }

  test("frame sampling explodes n frames per payload") {
    val df = Seq((1L, Array.tabulate[Byte](100)(_.toByte))).toDF("id", "payload")
    val out = Multimodal.sampleFrames(df, "payload", n = 4).collect()
    assert(out.length == 4)
    assert(out.map(_.getAs[Int]("frame_idx")).toSeq == Seq(0, 1, 2, 3))
  }

  // ---- hand-built container fixtures (header layouts per the public
  // ISO-BMFF / RIFF specs; no codec involved — offsets only) ----
  private def be32(v: Int): Array[Byte] =
    Array(((v >> 24) & 0xff).toByte, ((v >> 16) & 0xff).toByte,
      ((v >> 8) & 0xff).toByte, (v & 0xff).toByte)
  private def le32(v: Int): Array[Byte] =
    Array((v & 0xff).toByte, ((v >> 8) & 0xff).toByte,
      ((v >> 16) & 0xff).toByte, ((v >> 24) & 0xff).toByte)
  private def cc(s: String): Array[Byte] = s.getBytes("US-ASCII")
  private def mp4Box(typ: String, body: Array[Byte]): Array[Byte] =
    be32(8 + body.length) ++ cc(typ) ++ body

  test("MP4 sample tables yield exact frame ranges; corrupt container falls back") {
    val f1 = cc("AAAA"); val f2 = cc("BBBBBB")
    val ftyp = mp4Box("ftyp", cc("isom") ++ be32(0))          // 16 bytes
    val mdat = mp4Box("mdat", f1 ++ f2)                        // data at 24, frames 24..28, 28..34
    val stco = mp4Box("stco", be32(0) ++ be32(2) ++ be32(24) ++ be32(28))
    val stsz = mp4Box("stsz", be32(0) ++ be32(0) ++ be32(2) ++ be32(4) ++ be32(6))
    val moov = mp4Box("moov", mp4Box("trak", mp4Box("mdia",
      mp4Box("minf", mp4Box("stbl", stco ++ stsz)))))
    val mp4 = ftyp ++ mdat ++ moov
    val out = Multimodal.sampleFrames(Seq((1L, mp4)).toDF("id", "payload"), "payload", n = 4)
      .orderBy("frame_idx").collect()
    assert(out.length == 2) // the container declares exactly 2 frames
    assert(out(0).getAs[Array[Byte]]("frame").toSeq == f1.toSeq)
    assert(out(1).getAs[Array[Byte]]("frame").toSeq == f2.toSeq)
    // corrupt: valid ftyp magic, then a box whose size overruns the payload
    val corrupt = ftyp ++ be32(9999) ++ cc("mdat") ++ cc("XX")
    val fb = Multimodal.sampleFrames(Seq((1L, corrupt)).toDF("id", "payload"), "payload", n = 4)
      .collect()
    assert(fb.length == 4) // byte-slice stand-in: n slices
  }

  test("AVI movi chunks yield exact frame ranges, odd sizes even-padded") {
    val f1 = cc("FRAMEONE"); val f2 = cc("F2X") // odd size → pad byte
    val movi = cc("LIST") ++ le32(4 + 8 + f1.length + 8 + f2.length + 1) ++ cc("movi") ++
      cc("00dc") ++ le32(f1.length) ++ f1 ++
      cc("00db") ++ le32(f2.length) ++ f2 ++ Array(0.toByte)
    val avi = cc("RIFF") ++ le32(4 + movi.length) ++ cc("AVI ") ++ movi
    val out = Multimodal.sampleFrames(Seq((1L, avi)).toDF("id", "payload"), "payload", n = 4)
      .orderBy("frame_idx").collect()
    assert(out.length == 2)
    assert(out(0).getAs[Array[Byte]]("frame").toSeq == f1.toSeq)
    assert(out(1).getAs[Array[Byte]]("frame").toSeq == f2.toSeq)
    // registered decoder still wins over the header parse (seam priority)
    Multimodal.videoDecoder = (_, _) => Some(Seq(Array[Byte](7)))
    try {
      val dec = Multimodal.sampleFrames(Seq((1L, avi)).toDF("id", "payload"), "payload", n = 4)
        .collect()
      assert(dec.length == 1 && dec(0).getAs[Array[Byte]]("frame").toSeq == Seq(7.toByte))
    } finally Multimodal.videoDecoder = (_, _) => None
  }

  // synthetic image bytes via the same in-JDK encoder ImageIO decodes with
  private def pngBytes(w: Int, h: Int, format: String = "png"): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until h; x <- 0 until w)
      img.setRGB(x, y, ((x * 37 + y * 91) % 256) << 16 | ((x * 13) % 256) << 8 | (y * 7) % 256)
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, format, bos)
    bos.toByteArray
  }

  test("real PNG/JPEG payloads decode via javax.imageio; garbage falls back") {
    val png = pngBytes(12, 7)
    val jpg = pngBytes(5, 5, "jpg")
    assert(Multimodal.decodeImage(png).exists(i => i.getWidth == 12 && i.getHeight == 7))
    assert(Multimodal.decodeImage(jpg).exists(i => i.getWidth == 5 && i.getHeight == 5))
    assert(Multimodal.decodeImage(Array[Byte](1, 2, 3)).isEmpty)
    assert(Multimodal.decodeImage(null).isEmpty)
    // pixel features: deterministic, L2-normalized, and DIFFERENT from the
    // byte-hash fallback on the same payload (proves the real path ran)
    val feat = Multimodal.imageFeatures(Multimodal.decodeImage(png).get, 8)
    assert(math.abs(feat.map(x => x.toDouble * x).sum - 1.0) < 1e-5)
    assert(feat.toSeq == Multimodal.imageFeatures(Multimodal.decodeImage(png).get, 8).toSeq)
  }

  test("resize via the JDK raster pipeline changes dimensions") {
    val img = Multimodal.decodeImage(pngBytes(16, 16)).get
    val small = Multimodal.resizeImage(img, 4, 8)
    assert(small.getWidth == 4 && small.getHeight == 8)
  }

  private def wavBytes(nSamples: Int, freqStep: Double = 0.2): Array[Byte] = {
    val fmt = new javax.sound.sampled.AudioFormat(8000f, 16, 1, true, false)
    val pcm = new Array[Byte](nSamples * 2)
    (0 until nSamples).foreach { i =>
      val s = (math.sin(i * freqStep) * 20000).toInt
      pcm(i * 2) = (s & 0xff).toByte; pcm(i * 2 + 1) = ((s >> 8) & 0xff).toByte
    }
    val in = new javax.sound.sampled.AudioInputStream(
      new java.io.ByteArrayInputStream(pcm), fmt, nSamples.toLong)
    val bos = new java.io.ByteArrayOutputStream()
    javax.sound.sampled.AudioSystem.write(in,
      javax.sound.sampled.AudioFileFormat.Type.WAVE, bos)
    bos.toByteArray
  }

  test("real WAV payloads decode via javax.sound.sampled; malformed RIFF falls back") {
    val wav = wavBytes(800)
    val samples = Multimodal.decodeAudio(wav)
    assert(samples.exists(_.length == 800))
    // roundtrip fidelity: decoded sample ≈ the sine we wrote
    val got = samples.get
    assert(math.abs(got(1) - math.sin(0.2) * 20000 / 32768.0) < 1e-3)
    // RMS features: deterministic, L2-normalized
    val feat = Multimodal.audioFeatures(got, 8)
    assert(math.abs(feat.map(x => x.toDouble * x).sum - 1.0) < 1e-5)
    // a RIFF/WAVE header with garbage body must fall back, not throw
    val broken = "RIFF0000WAVEjunkjunk".getBytes ++ Array.fill[Byte](10)(7)
    assert(Multimodal.decodeAudio(broken).isEmpty)
    assert(Multimodal.decodeAudio(Array[Byte](1, 2, 3)).isEmpty)
    assert(Multimodal.decodeAudio(null).isEmpty)
  }

  test("extractFeatures routes audio payloads through the real decoder") {
    val wav = wavBytes(400)
    val df = Seq((1L, wav)).toDF("id", "payload")
    val out = Multimodal.extractFeatures(df, "payload", dim = 8).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](2)).toMap
    val expected = Multimodal.audioFeatures(Multimodal.decodeAudio(wav).get, 8)
    assert(out(1L) == expected.toSeq)
  }

  test("video probe gates the pluggable decoder; fallback slices otherwise") {
    val mp4ish = Array[Byte](0, 0, 0, 24) ++ "ftypisom".getBytes ++ Array.fill[Byte](20)(3)
    val opaque = Array.fill[Byte](20)(5)
    // no decoder registered: both payloads get byte-slice frames
    val df = Seq((1L, mp4ish), (2L, opaque)).toDF("id", "payload")
    val frames0 = Multimodal.sampleFrames(df, "payload", n = 4).collect()
    assert(frames0.length == 8)
    // drop in a "codec": container-probed payloads now yield decoded frames,
    // opaque payloads keep the stand-in — no plan change either way
    val marker = Array[Byte](42)
    Multimodal.videoDecoder = (_, n) => Some(Seq.fill(n)(marker))
    try {
      val out = Multimodal.sampleFrames(df, "payload", n = 2).collect()
        .map(r => (r.getLong(0), r.getInt(2), r.getAs[Array[Byte]](3)))
      assert(out.filter(_._1 == 1L).forall(_._3.sameElements(marker)))
      assert(out.count(_._1 == 1L) == 2)
      assert(out.filter(_._1 == 2L).forall(!_._3.sameElements(marker)))
    } finally Multimodal.videoDecoder = (_, _) => None
  }

  test("extractFeatures routes image payloads through the real decoder") {
    val df = Seq(
      (1L, pngBytes(6, 6)),                  // real image → pixel features
      (2L, Array[Byte](1, 2, 3, 4, 5, 6))    // opaque bytes → hash fallback
    ).toDF("id", "payload")
    val out = Multimodal.extractFeatures(df, "payload", dim = 8).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](2)).toMap
    val imgExpected = Multimodal.imageFeatures(Multimodal.decodeImage(pngBytes(6, 6)).get, 8)
    assert(out(1L) == imgExpected.toSeq)
    // fallback unchanged for non-image payloads (oracle arithmetic)
    val v = new Array[Float](8)
    Array[Byte](1, 2, 3, 4, 5, 6).zipWithIndex.foreach { case (b, i) =>
      v(math.floorMod(b + i * 31, 8)) += 1f }
    assert(out(2L) == graft.ml.HashEmbedder.l2normalize(v).toSeq)
  }
}

class StrategySpec extends SparkSpec {
  import spark.implicits._
  import graft.sparse.SparseRetrieval
  import graft.ml.HashEmbedder

  test("approximate_threshold picks exact below and SEISMIC above") {
    val corpus = (1L to 40L).map { i =>
      (i, s"spark join t$i table ${if (i % 2 == 0) "fast" else "slow"} scan")
    }.toDF("doc_id", "text").withColumn("tokens", graft.ingest.Enrich.encodeUdf(col("text")))
    val q = HashEmbedder.encode("spark join fast")
    val exact = SparseRetrieval.exactTopK(corpus, q, 5).collect().map(_.getLong(0)).toSeq
    // below threshold → identical to exact
    val below = SparseRetrieval.autoTopK(corpus, q, 5, approximateThreshold = 1000)
      .collect().map(_.getLong(0)).toSeq
    assert(below == exact)
    // above threshold → SEISMIC path still returns k ranked docs
    val above = SparseRetrieval.autoTopK(corpus, q, 5, approximateThreshold = 10)
      .collect().map(_.getLong(0))
    assert(above.length == 5)
  }
}

class ClusterResolveSpec extends SparkSpec {
  import spark.implicits._
  import graft.dedup.Dedup

  test("connected components: chain and singleton resolve to min-id clusters") {
    // pairs: 1-2, 2-3 (chain), 5-6; 4 is a singleton
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L)).toDF("id_a", "id_b")
    val ids = (1L to 6L).toDF("id")
    val out = Dedup.resolveClusters(pairs, ids).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out(1L) == 1L && out(2L) == 1L && out(3L) == 1L)
    assert(out(4L) == 4L)
    assert(out(5L) == 5L && out(6L) == 5L)
  }

  test("connected components: 40-hop chain converges via pointer jumping (distributed path)") {
    // driverCutoff = 0 forces the relational fixpoint; a chain this long
    // would need 40 propagation-only rounds, pointer jumping needs ~log2(40)
    val pairs = (1L until 40L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val ids = (1L to 40L).toDF("id")
    val out = Dedup.resolveClusters(pairs, ids, maxIterations = 12, driverCutoff = 0L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert((1L to 40L).forall(out(_) == 1L))
  }

  test("simhash blocking is exhaustive at maxHamming=7 (empty trailing chunk)") {
    // 9 chunks of 8 bits exhaust 64 bits at chunk 8 — a wrapped shift there
    // aliased bit 0 and silently dropped pairs; verify against brute force
    val rnd = new scala.util.Random(11)
    val base = Seq("alpha", "beta", "gamma", "delta", "epsilon", "zeta", "eta")
    val docs = (1L to 30L).map { i =>
      val words = (0 until 12).map(j =>
        if (rnd.nextDouble() < 0.15) base(rnd.nextInt(base.length)) + i
        else base((j + rnd.nextInt(2)) % base.length))
      (i, words.mkString(" "))
    }.toDF("doc_id", "text")
    val fps = docs.collect().map(r => r.getLong(0) -> Dedup.simhash(r.getString(1)))
    // exercise BOTH blocking schemes (pair-chunk d<5, single-chunk d≥5) and
    // the adaptive boundary, against brute force
    for (d <- Seq(2, 3, 4, 5, 6, 7, 8)) {
      val got = Dedup.simhashPairs(docs, maxHamming = d).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      val expected = (for {
        (ia, fa) <- fps; (ib, fb) <- fps if ia < ib
        if java.lang.Long.bitCount(fa ^ fb) <= d
      } yield (ia, ib)).toSet
      assert(got == expected, s"maxHamming=$d")
    }
    intercept[IllegalArgumentException](Dedup.simhashPairs(docs, maxHamming = 63))
  }

  test("connected components: driver union-find path matches distributed path") {
    val rnd = new scala.util.Random(7)
    val pairs = Seq.fill(60)((rnd.nextInt(30).toLong + 1, rnd.nextInt(30).toLong + 1))
      .filter(p => p._1 != p._2).map(p => (math.min(p._1, p._2), math.max(p._1, p._2)))
      .toDF("id_a", "id_b")
    val ids = (1L to 35L).toDF("id")
    val drv = Dedup.resolveClusters(pairs, ids).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val dist = Dedup.resolveClusters(pairs, ids, driverCutoff = 0L).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(drv == dist)
  }
}
