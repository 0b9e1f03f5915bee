package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, count, lit, sum}

import graft.ops.SimilarityOps

/** Reference twins of the graded similarity operators. */
object SimilarityOpsSpec {
  /** The built-ins-only twin of [[SimilarityOps.embeddingMoments]]: the
    * per-row product triangle posexploded into a hash aggregate, in place
    * of the native `graft_trisum` aggregate. */
  def embeddingMomentsExploded(emb: DataFrame, dim: Int = SimilarityOps.Dim): DataFrame =
    SimilarityOps.momentsFrom(emb, dim) { (q, triangle) =>
      q.selectExpr(s"posexplode(${triangle.format("qv[i] * qv[j]")}) AS (pos, xy)")
        .groupBy("pos")
        .agg(count(lit(1)).as("n"), sum(col("xy").cast("decimal(38,0)")).as("sxy"))
    }

  /** q94's trace over a live [[SimilarityOps.kmeansRounds]] run. */
  def kmeansInertia(emb: DataFrame, k: Int = SimilarityOps.KmeansK,
                    rounds: Int = SimilarityOps.KmeansRounds): DataFrame =
    SimilarityOps.kmeansInertiaOf(SimilarityOps.kmeansRounds(emb, k, rounds))

  /** The final assignment, the rounds paid and the exact per-round inertia. */
  final case class KmeansRun(assign: DataFrame, rounds: Int, inertiaTrace: Seq[Long])

  /** Lloyd stopped once a round improves inertia by at most `epsMicro`:
    * the absolute-eps twin of q121's per-mille rule, on the same loop. */
  def kmeansConverged(emb: DataFrame, k: Int = SimilarityOps.KmeansK, maxRounds: Int = 10,
                      epsMicro: Long = 0L): KmeansRun = {
    val (frames, _) = SimilarityOps.convergedRounds(SimilarityOps.kmVq(emb), k, maxRounds,
      (prev, cur) => prev - cur <= epsMicro)
    KmeansRun(
      frames.last._2.select(col("vec_id"), col("cell"), col("dist")).orderBy("vec_id"),
      frames.size, frames.map(_._3))
  }
}

class SimilarityOpsSpec extends SparkSpec {
  import spark.implicits._

  // 64-dim unit-ish vectors: 0 and 1 nearly parallel, 2 orthogonal-ish
  private def emb = {
    val base = Array.tabulate(64)(i => math.sin(i + 1).toFloat)
    val near = base.clone(); near(0) = near(0) + 0.01f
    val ortho = Array.tabulate(64)(i => math.cos(3 * i + 2).toFloat)
    Seq((0L, base.toSeq, 1), (1L, near.toSeq, 1), (2L, ortho.toSeq, 2),
        (3L, base.map(-_).toSeq, 3), (4L, ortho.map(x => (x * 2).toFloat).toSeq, 2))
      .toDF("vec_id", "embedding", "label")
  }

  test("brute-force kNN ranks the nearly-parallel vector first") {
    val top = SimilarityOps.knnBruteForce(emb)
      .filter("q_id = 0 AND rank = 1").select("n_id").as[Long].collect()
    assert(top.head === 1L)
  }

  test("cosine of a scaled copy is 1.0 (scale-invariant)") {
    val cos = SimilarityOps.knnBruteForce(emb)
      .filter("q_id = 2 AND n_id = 4").select("cos").as[Double].collect()
    assert(math.abs(cos.head - 1.0) < 1e-12)
  }

  test("LSH puts identical-direction vectors in the same bucket") {
    val ann = SimilarityOps.annLsh(emb)
    val b2 = ann.filter("q_id = 2").select("n_id").as[Long].collect().toSet
    assert(b2.contains(4L)) // same direction → same hyperplane signs
  }

  test("banded LSH finds every near-identical pair (recall vs brute force)") {
    // 0/1 nearly parallel and 2/4 an exact scaled copy: cosine ≈ 1 means
    // identical plane signs, so EVERY band collides — the dedup must
    // surface exactly the pairs brute-force cosine ≥ 0.99 would
    val d = SimilarityOps.embeddingDups(emb, minCos = 0.99)
      .select("a_id", "b_id").as[(Long, Long)].collect().toSet
    assert(d.contains((0L, 1L)))
    assert(d.contains((2L, 4L)))
  }

  test("recall is monotone in bands: band-0 pairs never lost by adding bands") {
    val embT = Tables.embeddings(spark, "/root/testdata/sf0.001")
    def pairs(b: Int) = SimilarityOps.embeddingDups(embT, minCos = 0.3, bands = b)
      .select("a_id", "b_id").as[(Long, Long)].collect().toSet
    val one = pairs(1)
    val four = pairs(4)
    assert(one.subsetOf(four))
    assert(four.nonEmpty) // testdata has cross-bucket cosines ≥ 0.3
  }

  test("IVF ANN probes the right cell: scaled copy found via its centroid") {
    // vectors 2 and 4 share a direction and a label (cell 2): the exact
    // integer assignment puts both in cell 2, the probe finds it, and the
    // exact cosine ranks 4 first for query 2
    val top = SimilarityOps.ivfAnn(emb)
      .filter("q_id = 2 AND rank = 1").select("n_id").as[Long].collect()
    assert(top.head === 4L)
  }

  test("q199 rank fusion: consensus beats solo excellence, single-ranker items survive, corpus fusion replays exactly") {
    // doc 10: lexical #1 but unembedded; vec 20: vector #1 (scaled copy
    // of the query) but untexted; doc/vec 30: #2 in BOTH — RRF must put
    // the consensus item first (2/(60+2) > 1/(60+1)), then break the
    // equal-single-contribution tie by doc_id
    val q = Array.tabulate(64)(i => math.sin(i + 1).toFloat)
    val near = q.clone(); near(0) = near(0) + 0.05f
    val fixDocs = Seq(
      (10L, "spark spark spark", "en", "s", 17L),
      (30L, "spark a b", "en", "s", 9L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val fixEmb = Seq(
      (0L, q.toSeq, 1), (20L, q.map(x => 2 * x).toSeq, 1), (30L, near.toSeq, 1))
      .toDF("vec_id", "embedding", "label")
    val fr = SimilarityOps.rankFusion(fixDocs, fixEmb).collect()
    assert(fr.map(_.getLong(1)).toSeq === Seq(30L, 10L, 20L))
    val r30 = fr(0)
    assert(r30.getLong(2) === 2L && r30.getLong(3) === 2L && r30.getBoolean(5))
    assert(r30.getLong(4) === 2 * (SimilarityOps.RrfScale / 62L))
    assert(fr(1).isNullAt(3) && fr(2).isNullAt(2), "single-ranker survivors")
    assert(fr(1).getLong(4) === SimilarityOps.RrfScale / 61L &&
      fr(2).getLong(4) === SimilarityOps.RrfScale / 61L, "tied solo #1s")
    // corpus: replay the fusion from the engine's own lexical ranking and
    // a driver cosine ranking (graft_dot folds sequentially, so the JVM
    // replay is bit-identical)
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val real = SimilarityOps.rankFusion(docs, emb).collect()
    assert(real.length === SimilarityOps.RrfTop)
    val textRanks = graft.ops.TextOps.bm25(docs, topN = SimilarityOps.RrfDepth)
      .collect().zipWithIndex
      .map { case (r, i) => r.getLong(0) -> (i + 1L) }.toMap
    val vs = emb.selectExpr("vec_id", "CAST(embedding AS ARRAY<DOUBLE>)")
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
    def dot(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { s += a(i) * b(i); i += 1 }; s
    }
    val qv = vs.find(_._1 == SimilarityOps.RrfQueryVec).get._2
    val qn = math.sqrt(dot(qv, qv))
    val vecRanks = vs.filter(_._1 != SimilarityOps.RrfQueryVec)
      .map { case (id, v) => (id, dot(qv, v) / (qn * math.sqrt(dot(v, v)))) }
      .sortBy { case (id, c) => (-c, id) }
      .take(SimilarityOps.RrfDepth).zipWithIndex
      .map { case ((id, _), i) => id -> (i + 1L) }.toMap
    val want = (textRanks.keySet ++ vecRanks.keySet).toSeq.map { id =>
      val rrf = textRanks.get(id).map(r => SimilarityOps.RrfScale / (60L + r)).getOrElse(0L) +
        vecRanks.get(id).map(r => SimilarityOps.RrfScale / (60L + r)).getOrElse(0L)
      (id, textRanks.get(id), vecRanks.get(id), rrf)
    }.sortBy { case (id, _, _, rrf) => (-rrf, id) }.take(SimilarityOps.RrfTop)
      .zipWithIndex.map { case ((id, t, v, rrf), i) =>
        (i + 1L, id, t, v, rrf, t.isDefined && v.isDefined) }
    assert(real.map(r => (r.getLong(0), r.getLong(1),
      if (r.isNullAt(2)) None else Some(r.getLong(2)),
      if (r.isNullAt(3)) None else Some(r.getLong(3)),
      r.getLong(4), r.getBoolean(5))).toSeq === want)
    assert(real.exists(!_.isNullAt(2)) && real.exists(!_.isNullAt(3)),
      "both rankers must place items in the fused list")
    val reparted = SimilarityOps.rankFusion(docs.repartition(7), emb.repartition(5))
      .collect().map(_.toSeq).toSeq
    assert(reparted === real.map(_.toSeq).toSeq)
  }

  test("q200 filtered ANN: tenant contract holds, exact branch replays, recall loss is real and self-consistent") {
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val real = SimilarityOps.filteredAnn(emb).collect()
    // contract: every neighbor is a tenant member and never the query
    real.foreach { r =>
      assert(r.getLong(3) % SimilarityOps.TenantMod === 0L, "tenant filter")
      assert(r.getLong(3) !== r.getLong(1), "self excluded")
    }
    val exact = real.filter(_.getString(0) == "pre_exact")
    val ivf = real.filter(_.getString(0) == "ivf_post")
    // exact branch = driver brute over the tenant subset (bit-identical
    // JVM cosine, as q199's replay)
    val vs = emb.selectExpr("vec_id", "CAST(embedding AS ARRAY<DOUBLE>)")
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
    def dot(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { s += a(i) * b(i); i += 1 }; s
    }
    val wantExact = (0L until SimilarityOps.NumQueries).flatMap { q =>
      val qv = vs.find(_._1 == q).get._2
      val qn = math.sqrt(dot(qv, qv))
      vs.filter(t => t._1 % SimilarityOps.TenantMod == 0 && t._1 != q)
        .map { case (id, v) => (id, dot(qv, v) / (qn * math.sqrt(dot(v, v)))) }
        .sortBy { case (id, c) => (-c, id) }.take(SimilarityOps.TopK)
        .zipWithIndex.map { case ((id, c), i) => (q, i + 1L, id, c) }
    }
    assert(exact.map(r => (r.getLong(1), r.getLong(2), r.getLong(3),
      r.getDouble(4))).toSeq === wantExact)
    assert(exact.forall(_.getDouble(6) === 1.0), "exact is its own recall")
    // recall self-consistency: the shipped recall equals the overlap of
    // the two shipped branches; the post-filter loss is real on this corpus
    val exactIds = exact.map(r => (r.getLong(1), r.getLong(3))).toSet
    ivf.groupBy(_.getLong(1)).foreach { case (q, rows) =>
      val overlap = rows.count(r => exactIds.contains((q, r.getLong(3))))
      val want = overlap.toDouble / SimilarityOps.TopK
      rows.foreach(r => assert(r.getDouble(6) === want, s"q$q recall"))
    }
    assert(ivf.exists(_.getDouble(6) < 1.0),
      "the filter must decimate some probed cell — the lesson graded")
    // the probe saw fewer candidates than the full tenant scan, always
    val exactSeen = exact.map(r => r.getLong(1) -> r.getLong(5)).toMap
    ivf.foreach(r => assert(r.getLong(5) < exactSeen(r.getLong(1)),
      "post-filter candidates must be a strict subset of the tenant scan"))
    val reparted = SimilarityOps.filteredAnn(emb.repartition(7))
      .collect().map(_.toSeq).toSeq
    assert(reparted === real.map(_.toSeq).toSeq)
  }

  test("graded recall audit: recall_at_k is the exact top-k intersection; quality holds") {
    val embT = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val exact = SimilarityOps.knnBruteForce(embT)
      .select("q_id", "n_id", "cos", "rank").collect()
    val exactIds = exact.map(r => (r.getLong(0), r.getLong(1))).toSet
    val bestExact = exact.filter(_.getLong(3) == 1L)
      .map(r => r.getLong(0) -> r.getDouble(2)).toMap
    for ((name, df, floor) <- Seq(
        ("q43", SimilarityOps.annLsh(embT), SimilarityOps.LshQualityFloor),
        ("q55", SimilarityOps.ivfAnn(embT), SimilarityOps.IvfQualityFloor))) {
      val rows = df.collect()
      val byQ = rows.groupBy(_.getLong(0))
      byQ.foreach { case (q, rs) =>
        val recall = rs.count(r => exactIds((q, r.getLong(1)))).toDouble / SimilarityOps.TopK
        assert(rs.forall(_.getDouble(4) === recall), s"$name q$q recall_at_k")
        val best = rs.filter(_.getLong(3) == 1L).head.getDouble(2)
        assert(rs.forall(_.getBoolean(5) === (best >= bestExact(q) * floor)),
          s"$name q$q quality_ok")
        // the graded contract itself: this geometry clears its floor
        assert(rs.head.getBoolean(5), s"$name q$q below quality floor")
      }
    }
  }

  test("label centroids: one row per (label, dim), mean of quantized values") {
    val c = SimilarityOps.labelCentroids(emb)
    assert(c.count() === 3 * 64)
    val n = c.filter("label = 1").select("n").distinct().as[Long].collect()
    assert(n.toSeq === Seq(2L))
  }

  test("int8 quantization: codes bounded, error within half a step, exact on multiples") {
    // binary-exact multiples of 2^-7 with max|v| = 127 * 2^-7 → scale is
    // exactly 2^-7 and every code reconstructs perfectly (0.01-style
    // decimal steps would NOT — they aren't float-representable)
    val step = math.pow(2, -7).toFloat
    val exact = Seq((100L,
      ((1 to 63).map(i => (i - 32) * step) :+ 127 * step).toArray, 1))
      .toDF("vec_id", "embedding", "label")
    val r = SimilarityOps.quantizeInt8(exact).collect().head
    assert(r.getDouble(4) === 0.0) // max_err: exact reconstruction
    // random vectors: every |q_i| <= 127 is implied by sum_q2 <= 64*127^2;
    // max_err <= scale/2 + float-cast slack
    val rows = SimilarityOps.quantizeInt8(emb).collect()
    rows.foreach { row =>
      val (scale, sumQ2, maxErr) = (row.getDouble(1), row.getLong(3), row.getDouble(4))
      assert(sumQ2 <= 64L * 127 * 127)
      assert(maxErr <= scale / 2 + 1e-12, s"vec ${row.getLong(0)}")
    }
  }

  test("ADC search over int8 codes reproduces the exact-dot ranking") {
    // exact-dot reference computed in Scala over the fixture vectors
    val vecs = emb.collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray).toMap
    def dot(a: Array[Double], b: Array[Double]) = a.zip(b).map(p => p._1 * p._2).sum
    val expected = (0L until 5L).map { q =>
      q -> vecs.keys.filter(_ != q).toSeq
        .sortBy(n => (-dot(vecs(q), vecs(n)), n)).take(3)
    }.toMap
    val got = SimilarityOps.adcAnn(emb).collect()
      .groupBy(_.getLong(0)).view
      .mapValues(_.sortBy(_.getLong(3)).map(_.getLong(1)).toSeq).toMap
    // int8 error on these well-separated vectors cannot flip the order
    assert(got === expected)
  }

  test("semantic dedup drops the higher-id member of a similar cluster pair") {
    // 2 and 4 share direction (cos = 1) and label → same cell: 4 dropped,
    // 2 kept. 0/1 nearly parallel in cell 1 → 1 dropped. 3 (= -base,
    // cos -1 to everything in its cell of one) survives alone.
    val got = SimilarityOps.semanticDedup(emb, minCos = 0.9)
      .as[(Long, Long, Long, Boolean)].collect().toSeq
    assert(got === Seq(
      (0L, 1L, 0L, true),
      (1L, 1L, 1L, false),
      (2L, 2L, 0L, true),
      (3L, 3L, 0L, true),
      (4L, 2L, 1L, false)))
  }

  test("semantic dedup keeps exactly one representative per duplicate set") {
    // three copies of one direction in one cell: lowest id is the single
    // keeper; each later copy counts EVERY earlier one in n_dups
    val tri = Seq(
      (10L, Array.tabulate(64)(i => math.sin(i + 1).toFloat).toSeq, 7),
      (11L, Array.tabulate(64)(i => (math.sin(i + 1) * 2).toFloat).toSeq, 7),
      (12L, Array.tabulate(64)(i => (math.sin(i + 1) * 3).toFloat).toSeq, 7))
      .toDF("vec_id", "embedding", "label")
    val got = SimilarityOps.semanticDedup(tri, minCos = 0.9)
      .as[(Long, Long, Long, Boolean)].collect().toSeq
    assert(got === Seq((10L, 7L, 0L, true), (11L, 7L, 1L, false), (12L, 7L, 2L, false)))
  }

  test("semantic dedup cell-size guard fires on an under-clustered corpus") {
    // 5 vectors, all one label → one 5-member cell; a 2-member budget must
    // raise in-plan instead of silently running the quadratic self-join
    val one = emb.withColumn("label", org.apache.spark.sql.functions.lit(1))
    val e = intercept[Exception] {
      SimilarityOps.semanticDedup(one, minCos = 0.9, maxCell = 2L).collect()
    }
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ msgs(x.getCause))
    assert(msgs(e).exists(_.contains("within-cell pair budget")), s"wrong failure: $e")
  }

  test("kmeans separates two tight groups, regardless of seed identity") {
    // group A around sin(i+1), group B around cos(3i+2) (orthogonal-ish);
    // seeds are vec 0 (A) and vec 1 (B) — members must follow proximity
    def a(eps: Float) = Array.tabulate(64)(i => (math.sin(i + 1) + eps).toFloat).toSeq
    def b(eps: Float) = Array.tabulate(64)(i => (math.cos(3 * i + 2) + eps).toFloat).toSeq
    val pts = Seq(
      (0L, a(0f), 0), (1L, b(0f), 0),
      (2L, a(0.02f), 0), (3L, a(-0.02f), 0),
      (4L, b(0.02f), 0), (5L, b(-0.02f), 0))
      .toDF("vec_id", "embedding", "label")
    val got = SimilarityOps.kmeans(pts, k = 2, rounds = 3)
      .as[(Long, Long, Double)].collect().toSeq
    val cells = got.map(r => r._1 -> r._2).toMap
    assert(Set(cells(0L), cells(2L), cells(3L)).size === 1, s"group A split: $got")
    assert(Set(cells(1L), cells(4L), cells(5L)).size === 1, s"group B split: $got")
    assert(cells(0L) !== cells(1L), s"groups merged: $got")
    // every member sits near its own centroid: squared dist in the
    // quantized 1e-3 integer space stays far below the A/B separation
    assert(got.forall(_._3 < 1e6), s"member far from centroid: $got")
  }

  test("q110 cluster quality: separated blobs score silhouette near 1") {
    def a(eps: Float) = Array.tabulate(64)(i => (math.sin(i + 1) + eps).toFloat).toSeq
    def b(eps: Float) = Array.tabulate(64)(i => (math.cos(3 * i + 2) + eps).toFloat).toSeq
    val pts = Seq(
      (0L, a(0f), 0), (1L, b(0f), 0),
      (2L, a(0.02f), 0), (3L, a(-0.02f), 0),
      (4L, b(0.02f), 0), (5L, b(-0.02f), 0))
      .toDF("vec_id", "embedding", "label")
    val assign = SimilarityOps.kmeans(pts, k = 2, rounds = 3).select("vec_id", "cell")
    val q = SimilarityOps.clusterQuality(assign, pts)
      .select("cell", "n", "mean_intra", "mean_other", "silhouette")
      .as[(Long, Long, Double, Double, Double)].collect().toSeq
    assert(q.map(_._1).distinct.size === 2, s"expected 2 cells: $q")
    assert(q.map(_._2).sum === 6L, s"partition must account for every vector: $q")
    // tight blobs, orthogonal-ish centers: cohesion ≪ separation
    q.foreach { case (cell, _, intra, other, sil) =>
      assert(other > intra, s"cell $cell: separation must exceed cohesion: $q")
      assert(sil > 0.9 && sil <= 1.0, s"cell $cell: silhouette $sil not near 1: $q")
    }
  }

  test("q110 cluster quality on the test corpus: bounded report, full partition") {
    val embT = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val assign = SimilarityOps.kmeans(embT).select("vec_id", "cell")
    val q = SimilarityOps.clusterQuality(assign, embT)
      .select("cell", "n", "silhouette").as[(Long, Long, Double)].collect().toSeq
    assert(q.size <= SimilarityOps.KmeansK, s"more cells than k: $q")
    assert(q.map(_._2).sum === embT.count(), "every vector must appear in exactly one cell")
    q.foreach { case (cell, _, sil) =>
      assert(sil >= -1.0 && sil <= 1.0, s"cell $cell silhouette $sil out of [-1, 1]")
    }
  }

  test("q115 ivf health: hand assignment yields exact shares and balance factors") {
    val assign = Seq((0L, 0L), (1L, 0L), (2L, 0L), (3L, 1L))
      .toDF("vec_id", "cell")
    val got = SimilarityOps.ivfHealth(assign, k = 2)
      .select("cell", "n_vecs", "n_empty_cells", "share", "balance", "worst_balance")
      .as[(Long, Long, Long, Double, Double, Double)].collect().toList
    assert(got === List(
      (0L, 3L, 0L, 0.75, 1.5, 1.5),   // the hot list: 1.5x the even load
      (1L, 1L, 0L, 0.25, 0.5, 1.5)))  // worst_balance repeats the hottest factor
  }

  test("q115 ivf health: empty cells surface as wasted centroids, not as 'even'") {
    // a k=4 index where Lloyd's emptied half the cells: the 2 populated
    // lists carry 2x the even load — deriving k from the populated count
    // would have read balance 1.0 ('perfectly even') here
    val assign = Seq((0L, 0L), (1L, 0L), (2L, 1L), (3L, 1L))
      .toDF("vec_id", "cell")
    val got = SimilarityOps.ivfHealth(assign, k = 4)
      .select("cell", "n_empty_cells", "balance")
      .as[(Long, Long, Double)].collect().toList
    assert(got === List((0L, 2L, 2.0), (1L, 2L, 2.0)))
  }

  test("q115 ivf health on the real corpus: full cover, shares sum to 1, balances sum to k") {
    val embT = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val assign = SimilarityOps.kmeans(embT).select("vec_id", "cell")
    val got = SimilarityOps.ivfHealth(assign)
      .select("cell", "n_vecs", "share", "balance", "n_empty_cells")
      .as[(Long, Long, Double, Double, Long)].collect().toList
    assert(got.size + got.head._5 === SimilarityOps.KmeansK.toLong,
      "populated + empty must account for every centroid")
    assert(got.map(_._2).sum === embT.count(), "posting lists must cover the corpus")
    assert(math.abs(got.map(_._3).sum - 1.0) < 1e-9)
    // Σ n·k/N over populated cells is exactly k, empties or not
    assert(math.abs(got.map(_._4).sum - SimilarityOps.KmeansK) < 1e-9,
      "balance factors must sum to k over the populated cells")
  }

  test("q124 embedding moments: exact moments on a hand fixture, PSD diagonal, full triangle") {
    // two 2-dim-meaningful vectors padded to 64: hand-check (0,1) moments
    val a = Array.fill(64)(0.0f); a(0) = 1.0f; a(1) = 2.0f
    val b = Array.fill(64)(0.0f); b(0) = 3.0f; b(1) = 6.0f
    val rows = Seq((0L, a.toSeq), (1L, b.toSeq)).toDF("vec_id", "embedding")
    val m = SimilarityOps.embeddingMoments(rows)
      .as[(Int, Int, Long, Double, Double, Double)].collect()
    assert(m.length === 64 * 65 / 2)
    assert(m.forall(_._3 === 2L))
    val byPair = m.map(r => (r._1, r._2) -> r).toMap
    // mean(0) = 2, mean(1) = 4; cov(0,0) = E[x²]−E[x]² = 5−4 = 1;
    // cov(1,1) = 20−16 = 4; cov(0,1) = 10−8 = 2
    assert(byPair((0, 0))._4 === 2.0 && byPair((1, 1))._4 === 4.0)
    assert(byPair((0, 0))._6 === 1.0)
    assert(byPair((1, 1))._6 === 4.0)
    assert(byPair((0, 1))._6 === 2.0)
    assert(byPair((5, 9))._6 === 0.0) // untouched dims carry zero moments
    // variances (the diagonal) are non-negative on the real corpus too
    val realDiag = SimilarityOps.embeddingMoments(
      Tables.embeddings(spark, "/root/testdata/sf0.001"))
      .filter("i = j").selectExpr("cov").as[Double].collect()
    assert(realDiag.length === 64 && realDiag.forall(_ >= 0.0))
  }

  test("q124 native trisum equals the exploded twin and is partitioning-independent") {
    val embT = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val native = SimilarityOps.embeddingMoments(embT).collect().map(_.toSeq).toSeq
    val twin = SimilarityOpsSpec.embeddingMomentsExploded(embT).collect().map(_.toSeq).toSeq
    assert(native === twin)
    // integer adds are associative/commutative: any repartitioning, same table
    val reparted = SimilarityOps.embeddingMoments(
      embT.repartition(7)).collect().map(_.toSeq).toSeq
    assert(native === reparted)
  }

  test("graft_trisum overflows loudly, never wraps") {
    // components of ~3e9 quantize to ~3e12 milli-units; their product
    // (~9e24) exceeds Long range — the aggregate must throw, not wrap
    val huge = Seq((0L, Seq.fill(64)(3.0e9f))).toDF("vec_id", "embedding")
    val e = intercept[Exception] {
      SimilarityOps.embeddingMoments(huge).collect()
    }
    def chain(t: Throwable): Seq[String] =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null).take(8)
        .map(x => String.valueOf(x.getMessage)).toSeq
    assert(chain(e).exists(m => m.contains("overflow") || m.contains("graft_trisum")),
      s"expected a loud overflow, got: ${chain(e).mkString(" | ")}")
  }

  test("q127 embedding drift matches an exact BigInt reference; one-sided labels report NULL") {
    def md5hex(s: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    def half(id: Long) = java.lang.Long.parseLong(md5hex(id.toString).take(2), 16) % 2
    val embT = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val got = SimilarityOps.embeddingDrift(embT).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2),
        if (r.isNullAt(3)) None else Some(r.getDouble(3)))).toMap
    // exact reference: BigInt sum vectors per (label, half), the same
    // correctly-rounded cast + sqrt/divide sequence
    val rows = embT.selectExpr("CAST(label AS BIGINT) AS label", "vec_id", "embedding")
      .as[(Long, Long, Seq[Float])].collect()
    def quant(x: Float): BigInt = BigInt(
      BigDecimal(x.toDouble * 1000).setScale(0, BigDecimal.RoundingMode.HALF_UP).toLongExact)
    val expected = rows.groupBy(_._1).map { case (label, rs) =>
      val (a, b) = rs.partition(r => half(r._2) == 0L)
      def sums(part: Array[(Long, Long, Seq[Float])]): IndexedSeq[BigInt] =
        (0 until 64).map(d => part.map(r => quant(r._3(d))).foldLeft(BigInt(0))(_ + _))
      val (sa, sb) = (sums(a), sums(b))
      val (sab, saa, sbb) = (
        (0 until 64).map(d => sa(d) * sb(d)).sum,
        (0 until 64).map(d => sa(d) * sa(d)).sum,
        (0 until 64).map(d => sb(d) * sb(d)).sum)
      val cos = if (a.isEmpty || b.isEmpty || saa == 0 || sbb == 0) None
        else Some(sab.doubleValue / (math.sqrt(saa.doubleValue) * math.sqrt(sbb.doubleValue)))
      label -> ((a.length.toLong, b.length.toLong, cos))
    }
    assert(got === expected)
    // a label living in ONE half only: NULL drift, not NaN
    val oneSidedIds = (0L to 500L).filter(half(_) == 0L).take(3)
    val oneSided = oneSidedIds.map(id => (id, Seq.fill(64)(1.0f), 9))
      .toDF("vec_id", "embedding", "label")
    val os = SimilarityOps.embeddingDrift(oneSided).collect().head
    assert(os.getLong(1) === 3L && os.getLong(2) === 0L && os.isNullAt(3))
  }

  test("q124 fails loudly on malformed embeddings instead of skewing the moments") {
    val bad = Seq((0L, Some(Seq.fill(64)(1.0f))), (1L, Option.empty[Seq[Float]]))
      .toDF("vec_id", "embedding")
    val e = intercept[Exception] {
      SimilarityOps.embeddingMoments(bad).collect()
    }
    assert(String.valueOf(e.getMessage).contains("q124") || e.getCause != null)
  }

  test("q133 scalar quant census: exact codes/errors on a hand fixture; degenerate dims use one code") {
    val rows = Seq(0L -> 0.0f, 1L -> 0.5f, 2L -> 1.0f).map { case (id, v) =>
      val a = Array.fill(64)(0.0f); a(0) = v; (id, a.toSeq)
    }.toDF("vec_id", "embedding")
    val got = SimilarityOps.scalarQuantCensus(rows).collect()
      .map(r => r.getInt(0) -> r).toMap
    // dim 0: milli 0/500/1000 → lo=0 hi=1000; codes 0/128/255 round-half-up;
    // deq 0/502/1000 — endpoints exact, midpoint off by 2 milli
    val d0 = got(0)
    assert(d0.getLong(1) === 3L && d0.getLong(2) === 0L && d0.getLong(3) === 1000L)
    assert(d0.getLong(4) === 3L, "three distinct codes")
    assert(d0.getLong(5) === 2L, "max err |500 - 502|")
    assert(d0.getLong(6) === 4L, "sse = 2²")
    assert(d0.getDouble(7) === 4.0 / 3e6)
    // degenerate dimension (lo = hi): one code, zero error
    val d5 = got(5)
    assert(d5.getLong(4) === 1L && d5.getLong(5) === 0L && d5.getLong(6) === 0L)
  }

  test("q133 error is half-step-bounded on the real corpus and partitioning-invariant") {
    val embT = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val rows = SimilarityOps.scalarQuantCensus(embT).collect()
    assert(rows.length === 64)
    rows.foreach { r =>
      val (lo, hi, maxErr) = (r.getLong(2), r.getLong(3), r.getLong(5))
      // affine SQ8 guarantee: |err| ≤ half a quantization step plus the
      // dequantization rounding — a broken dial blows straight past this
      assert(maxErr <= (hi - lo + 509) / 510 + 1,
        s"dim ${r.getInt(0)}: err $maxErr vs range ${hi - lo}")
    }
    val reparted = SimilarityOps.scalarQuantCensus(embT.repartition(7))
      .collect().map(_.toSeq).toSeq
    assert(reparted === rows.map(_.toSeq).toSeq)
  }

  test("q133 fails loudly on malformed embeddings — the dial would silently shrink") {
    val bad = Seq((0L, Some(Seq.fill(64)(1.0f))), (1L, Option.empty[Seq[Float]]))
      .toDF("vec_id", "embedding")
    val e = intercept[Exception] { SimilarityOps.scalarQuantCensus(bad).collect() }
    assert(String.valueOf(e.getMessage).contains("q133") || e.getCause != null)
  }

  test("q118 embedding audit flags null, ragged, and zero-norm vectors exactly") {
    val rows: Seq[(Long, Option[Seq[Float]])] = Seq(
      0L -> Some(Seq.fill(64)(0.001f)),         // healthy: each q = 1, n2q = 64
      1L -> Some(Seq.fill(64)(0.0f)),           // zero-norm
      2L -> Some(Seq.fill(7)(1.0f)),            // ragged
      3L -> None)                               // null
    val emb = rows.toDF("vec_id", "embedding")
    val got = SimilarityOps.embeddingAudit(emb)
      .as[(Long, Long, Long, Long, Long, Long, Long, Double)].collect().head
    // the range/mean describe ONLY the healthy vector (vec 0): the
    // zero-norm row is flagged, never averaged in
    assert(got === ((4L, 1L, 1L, 1L, 64L, 64L, 64L, 64.0 / 1e6)))
    // with NO healthy vector the mean is the 0.0 sentinel, not NULL
    val allBad = Seq(5L -> Option.empty[Seq[Float]],
      6L -> Some(Seq.fill[Float](64)(0.0f))).toDF("vec_id", "embedding")
    val bad = SimilarityOps.embeddingAudit(allBad)
      .selectExpr("n_null", "n_zero_norm", "mean_n2")
      .as[(Long, Long, Double)].collect().head
    assert(bad === ((1L, 1L, 0.0)))
  }

  test("q118 embedding audit on the real corpus: clean census, positive norms") {
    val embT = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val got = SimilarityOps.embeddingAudit(embT)
      .as[(Long, Long, Long, Long, Long, Long, Long, Double)].collect().head
    assert(got._1 === embT.count())
    assert(got._2 === 0L && got._3 === 0L && got._4 === 0L, s"corpus not clean: $got")
    assert(got._5 > 0L && got._6 >= got._5 && got._8 > 0.0)
  }

  test("q109 raises loudly when the test split is empty — never an empty 'clean' report") {
    import graft.ops.PipelineOps
    val embT = Tables.embeddings(spark, "/root/testdata/sf0.001")
    // keep only non-test vectors: the q57 rule leaves no eval side
    val noTest = embT.where(
      org.apache.spark.sql.functions.expr(
        s"${PipelineOps.splitOf("conv(substring(md5(CAST(vec_id AS STRING)), 1, 2), 16, 10)")} <> 'test'"))
    val ex = intercept[Exception] {
      SimilarityOps.semanticContamination(noTest).collect()
    }
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ messages(x.getCause))
    assert(messages(ex).exists(_.contains("empty test split")), ex)
  }

  test("q115 raises loudly when the passed k is smaller than the populated cells") {
    val assign = Seq((0L, 0L), (1L, 1L), (2L, 2L)).toDF("vec_id", "cell")
    val ex = intercept[Exception] {
      SimilarityOps.ivfHealth(assign, k = 2).collect()
    }
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ messages(x.getCause))
    assert(messages(ex).exists(_.contains("wrong dial")), ex)
  }

  test("kmeans is deterministic run-to-run (exact integer centroid state)") {
    val embT = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val r1 = SimilarityOps.kmeans(embT).collect().map(_.toSeq).toSeq
    val r2 = SimilarityOps.kmeans(embT).collect().map(_.toSeq).toSeq
    assert(r1 === r2)
    assert(r1.nonEmpty)
  }

  test("kmeans seeds from the k lowest OBSERVED vec_ids, not ids < k") {
    // ids start at 100 — a filtered/sharded table; a `vec_id < k` seed
    // filter would find ZERO seeds and assign every vector cell = -1
    def a(eps: Float) = Array.tabulate(64)(i => (math.sin(i + 1) + eps).toFloat).toSeq
    def b(eps: Float) = Array.tabulate(64)(i => (math.cos(3 * i + 2) + eps).toFloat).toSeq
    val pts = Seq(
      (100L, a(0f), 0), (101L, b(0f), 0),
      (102L, a(0.02f), 0), (103L, b(0.02f), 0))
      .toDF("vec_id", "embedding", "label")
    val cells = SimilarityOps.kmeans(pts, k = 2, rounds = 3)
      .as[(Long, Long, Double)].collect().map(r => r._1 -> r._2).toMap
    assert(cells.values.toSet === Set(100L, 101L), s"seeds not the 2 lowest ids: $cells")
    assert(cells(100L) === cells(102L) && cells(101L) === cells(103L),
      s"members did not follow proximity: $cells")
  }

  test("kmeans on an empty corpus is empty-in-empty-out, never cell = -1 rows") {
    val empty = Seq.empty[(Long, Seq[Float], Int)].toDF("vec_id", "embedding", "label")
    assert(SimilarityOps.kmeans(empty).collect().isEmpty)
    // the convergence-terminated form shares the contract: zero inertia
    // converges at the first check instead of crashing on a missing group
    val run = SimilarityOpsSpec.kmeansConverged(empty, maxRounds = 5)
    assert(run.assign.collect().isEmpty && run.rounds <= 2)
  }

  test("hard negatives: per-anchor top-k closest impostors, never the anchor's label") {
    val embT = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val anchors = embT.selectExpr("vec_id", "CAST(label AS BIGINT) AS label")
      .as[(Long, Long)].collect().toMap
    val rows = SimilarityOps.hardNegatives(embT)
      .select("q_id", "n_id", "n_label", "cos", "rank")
      .as[(Long, Long, Long, Double, Long)].collect().toSeq
    // full top-k ladder per anchor
    rows.groupBy(_._1).foreach { case (q, rs) =>
      assert(rs.map(_._5).sorted === (1L to rs.length.toLong), s"anchor $q ranks")
      // ranked by descending cosine
      assert(rs.sortBy(_._5).map(_._4).zip(rs.sortBy(_._5).map(_._4).tail)
        .forall { case (a, b) => a >= b }, s"anchor $q not cos-ordered")
      // every negative carries a different label than its anchor
      rs.foreach { r => assert(r._3 !== anchors(q), s"anchor $q mined own label") }
    }
    assert(rows.nonEmpty)
  }

  test("kmeansConverged stops early on a separable fixture, matching the fixed-round form") {
    // two tight orthogonal-ish groups with the true seeds: round 1 already
    // assigns by proximity, so round 2 cannot improve — the inertia delta
    // hits 0 and the run stops at 2 of the 10 allowed rounds
    def a(eps: Float) = Array.tabulate(64)(i => (math.sin(i + 1) + eps).toFloat).toSeq
    def b(eps: Float) = Array.tabulate(64)(i => (math.cos(3 * i + 2) + eps).toFloat).toSeq
    val pts = Seq(
      (0L, a(0f), 0), (1L, b(0f), 0),
      (2L, a(0.02f), 0), (3L, a(-0.02f), 0),
      (4L, b(0.02f), 0), (5L, b(-0.02f), 0))
      .toDF("vec_id", "embedding", "label")
    val run = SimilarityOpsSpec.kmeansConverged(pts, k = 2, maxRounds = 10)
    assert(run.rounds === 2, s"expected early stop at round 2: ${run.inertiaTrace}")
    assert(run.inertiaTrace.length === run.rounds)
    // Lloyd under exact rational centroids: deltas are never negative
    assert(run.inertiaTrace.zip(run.inertiaTrace.tail).forall { case (p, c) => c <= p },
      s"inertia increased: ${run.inertiaTrace}")
    // the converged assignment equals the fixed-budget form at that round
    assert(run.assign.as[(Long, Long, Double)].collect().toSeq ===
      SimilarityOps.kmeans(pts, k = 2, rounds = run.rounds)
        .as[(Long, Long, Double)].collect().toSeq)
  }

  test("kmeansConverged honors the round cap when the threshold is never met") {
    // epsMicro = -1 can never be satisfied (Lloyd deltas are >= 0), so the
    // run must stop exactly at the cap — the production bound on a
    // non-converging (or slowly-converging) corpus
    val embT = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val run = SimilarityOpsSpec.kmeansConverged(embT, maxRounds = 3, epsMicro = -1L)
    assert(run.rounds === 3)
    assert(run.inertiaTrace.length === 3)
    // the trace consumed as the stop signal IS q94's trace for those rounds
    val q94 = SimilarityOpsSpec.kmeansInertia(embT, rounds = 3)
      .select("inertia_micro").as[Long].collect().toSeq
    assert(run.inertiaTrace === q94)
  }

  test("kmeans inertia trace is non-increasing round over round (Lloyd)") {
    val embT = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val trace = SimilarityOpsSpec.kmeansInertia(embT, rounds = 4)
      .as[(Long, Long, Long, Double)].collect().toSeq
    assert(trace.map(_._1) === Seq(1L, 2L, 3L, 4L))
    assert(trace.forall(_._2 === trace.head._2), s"member count drifted: $trace")
    val inertias = trace.map(_._3)
    assert(inertias.zip(inertias.tail).forall { case (a, b) => b <= a },
      s"inertia increased across rounds: $inertias")
    // the persisted-trace path (what q94 grades) is bit-equal to live:
    // (long, long, long, double) survives the parquet round-trip exactly
    val tmp = java.nio.file.Files.createTempDirectory("graft_kmr_").toString
    SimilarityOps.kmeansRounds(embT, rounds = 4)
      .write.mode("overwrite").parquet(tmp)
    val fromSnap = SimilarityOps.kmeansInertiaOf(spark.read.parquet(tmp))
      .as[(Long, Long, Long, Double)].collect().toSeq
    assert(fromSnap === trace)
  }

  test("semantic contamination flags the train vector cloned from an eval vector") {
    // split membership is md5(vec_id): discover real train/test ids first
    val ids = graft.ops.PipelineOps.splitAssign(
        (0L until 64L).map(i => (i, "x", "en", "s", 0L))
          .toDF("doc_id", "text", "lang", "source", "n_chars"))
      .select("doc_id", "split").as[(Long, String)].collect()
    val trainIds = ids.filter(_._2 == "train").map(_._1)
    val testIds = ids.filter(_._2 == "test").map(_._1).sorted
    assert(trainIds.length >= 2 && testIds.length >= 2)
    val base = Array.tabulate(64)(i => math.sin(i + 1).toFloat)
    val ortho = Array.tabulate(64)(i => math.cos(3 * i + 2).toFloat)
    // train doc A = clone of BOTH test vectors' shared embedding (cos 1,
    // tied → min test id wins); train doc B = orthogonal-ish
    val emb = Seq(
      (trainIds(0), base.toSeq, 1),
      (trainIds(1), ortho.toSeq, 1),
      (testIds(0), base.toSeq, 2),
      (testIds(1), base.toSeq, 2))
      .toDF("vec_id", "embedding", "label")
    val got = SimilarityOps.semanticContamination(emb)
      .as[(Long, Double, Long, Boolean)].collect()
      .map(r => r._1 -> r).toMap
    assert(got.keySet === Set(trainIds(0), trainIds(1))) // train rows only
    val a = got(trainIds(0))
    assert(math.abs(a._2 - 1.0) < 1e-12 && a._4, s"clone not flagged: $a")
    assert(a._3 === testIds(0), s"tie must break to the min eval id: $a")
    val b = got(trainIds(1))
    assert(b._2 < SimilarityOps.SemContamMinCos && !b._4,
      s"orthogonal train vector wrongly flagged: $b")
  }

  test("cell-balanced sample: dominant cell capped, small cells kept whole") {
    // skewed strata: cell 0 holds 900 of 1000 vectors, cells 1..4 hold 25
    // each — the crawl-dominant-topic shape the equal allocation rebalances
    val assign = ((0L until 900L).map(i => (i, 0L)) ++
      (0 until 4).flatMap(c => (0 until 25).map(i => (900L + c * 25 + i, c + 1L))))
      .toDF("vec_id", "cell")
    val k = 5
    val frac = 0.25 // t = ceil(1000 * 0.25 / 5) = 50
    val got = SimilarityOps.cellBalancedSample(assign, frac = frac, k = k)
      .as[(Long, Long, Long, Long, Long)].collect().toSeq
    val byCell = got.groupBy(_._1).view.mapValues(_.length.toLong).toMap
    // small cells: keep_n = n, cut = 2^48 → kept EXACTLY whole
    (1L to 4L).foreach(c => assert(byCell(c) === 25L, s"cell $c not kept whole"))
    // dominant cell: binomial around keep_n = 50 (p = 50/900), 4σ bound
    val p = 50.0 / 900
    val sigma = math.sqrt(900 * p * (1 - p))
    assert(math.abs(byCell(0L) - 50L) <= 4 * sigma,
      s"dominant cell kept ${byCell(0L)} vs budget 50 (4σ = ${4 * sigma})")
    // the dial columns are exact: n and keep_n echo the allocation
    got.foreach { case (cell, _, _, n, keepN) =>
      if (cell == 0L) assert(n === 900L && keepN === 50L)
      else assert(n === 25L && keepN === 25L)
    }
    // row-local md5 keep rule — deterministic across runs
    val again = SimilarityOps.cellBalancedSample(assign, frac = frac, k = k)
      .as[(Long, Long, Long, Long, Long)].collect().toSeq
    assert(again === got)
  }

  test("cell-balanced sample composes with the real kmeans assignment") {
    val embT = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val assign = SimilarityOps.kmeans(embT).select("vec_id", "cell")
    val total = assign.count()
    val got = SimilarityOps.cellBalancedSample(assign)
    // sample ⊆ assignment, and every kept row echoes its cell's true size
    val sizes = assign.groupBy("cell").count().as[(Long, Long)].collect().toMap
    got.as[(Long, Long, Long, Long, Long)].collect().foreach {
      case (cell, _, u, n, keepN) =>
        assert(sizes(cell) === n)
        assert(keepN <= n && u < graft.ops.PipelineOps.TwoPow48)
    }
    // frac = 1.0 with enough per-cell budget keeps everything
    assert(SimilarityOps.cellBalancedSample(assign, frac = 1.0, k = 1).count()
      === total)
  }
  test("q109 raises loudly on a zero-norm embedding — NaN would poison the argmax") {
    import org.apache.spark.sql.functions._
    import graft.ops.PipelineOps
    val embT = Tables.embeddings(spark, "/root/testdata/sf0.001")
    // zero out ONE train-split vector: its cosine vs every eval vector
    // would be 0/0 = NaN, and the struct-max would carry NaN forward
    val trainId = embT.select(col("vec_id"))
      .withColumn("b", PipelineOps.md5Bucket(col("vec_id")))
      .filter(col("b") < PipelineOps.TrainCut)
      .orderBy("vec_id").limit(1).select("vec_id").as[Long].collect().head
    val poisoned = embT.withColumn("embedding",
      when(col("vec_id") === trainId,
        array_repeat(lit(0.0f), SimilarityOps.Dim)).otherwise(col("embedding")))
    val ex = intercept[Exception] {
      SimilarityOps.semanticContamination(poisoned).collect()
    }
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ messages(x.getCause))
    assert(messages(ex).exists(_.contains("zero-norm")), ex)
  }

  test("evalVectorState raises on a zero-norm EVAL vector — artifact refresh must fail") {
    import org.apache.spark.sql.functions._
    import graft.ops.PipelineOps
    val embT = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val testId = embT.select(col("vec_id"))
      .withColumn("b", PipelineOps.md5Bucket(col("vec_id")))
      .filter(col("b") >= PipelineOps.ValCut)
      .orderBy("vec_id").limit(1).select("vec_id").as[Long].collect().head
    val poisoned = embT.withColumn("embedding",
      when(col("vec_id") === testId,
        array_repeat(lit(0.0f), SimilarityOps.Dim)).otherwise(col("embedding")))
    val ex = intercept[Exception] {
      SimilarityOps.evalVectorState(poisoned).collect()
    }
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ messages(x.getCause))
    assert(messages(ex).exists(_.contains("zero-norm eval")), ex)
  }

  test("q115 raises loudly on an EMPTY assignment — never a silently empty report") {
    val empty = Seq.empty[(Long, Long)].toDF("vec_id", "cell")
    val ex = intercept[Exception] {
      SimilarityOps.ivfHealth(empty).collect()
    }
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ messages(x.getCause))
    assert(messages(ex).exists(_.contains("empty assignment")), ex)
  }

  test("spark rounds half away from zero on boundary doubles (the q94/q110/q121 contract)") {
    // the micro roundings of EXACT integer quotients carry no boundary
    // guard: both engines hold identical bits and round half away from
    // zero. This pins the Spark half; the DuckDB half is pinned by the
    // strict oracle compare on q94/q110/q121 themselves.
    val got = spark.sql(
      "SELECT round(2.5D), round(3.5D), round(-2.5D), round(0.49999999999999994D)")
      .collect().head
    assert((got.getDouble(0), got.getDouble(1), got.getDouble(2), got.getDouble(3))
      === ((3.0, 4.0, -3.0, 0.0)))
  }

  test("q121 trace is self-consistent: rounds, inertias, and stopped obey the relative rule") {
    val embT = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val trace = SimilarityOps.kmeansConvergedTrace(embT)
      .select("round_no", "inertia_micro", "stopped")
      .distinct().orderBy("round_no")
      .as[(Long, Long, Boolean)].collect().toSeq
    // per-round inertia must equal q94's exact trace over the same budget
    val q94 = SimilarityOpsSpec.kmeansInertia(embT, rounds = trace.size)
      .select("round_no", "inertia_micro").as[(Long, Long)].collect().toMap
    assert(trace.map(t => q94(t._1)) === trace.map(_._2))
    // the emitted round count IS the first round passing the per-mille
    // rule (Lloyd non-increasing, spec'd elsewhere), never past the cap
    def stops(prev: Long, cur: Long): Boolean =
      (BigInt(prev) - BigInt(cur)) * 1000 <=
        BigInt(prev) * SimilarityOps.KmeansConvEpsPerMille
    val deltas = trace.map(_._2).sliding(2).toSeq.collect {
      case Seq(p, c) => stops(p, c) }
    val converged = deltas.nonEmpty && deltas.last
    assert(deltas.init.forall(!_), "the run must stop at the FIRST passing round")
    assert(trace.size <= SimilarityOps.KmeansConvMaxRounds)
    if (trace.size < SimilarityOps.KmeansConvMaxRounds)
      assert(converged, "a below-cap run must have stopped on the rule")
    // stopped marks exactly the final round of a rule-stopped run
    assert(trace.map(_._3) ===
      trace.map(t => converged && t._1 == trace.size.toLong))
  }

  test("q121 stops early on a separable fixture: stopped=true before the cap") {
    // two tight, well-separated groups: Lloyd locks in after one update,
    // so round 3's inertia equals round 2's and the run stops at round 3
    val rows = (0 until 12).map { i =>
      val v = Array.fill(64)(0.0f)
      if (i < 6) v(0) = 10.0f + 0.001f * i else v(1) = 10.0f + 0.001f * i
      (i.toLong, v.toSeq, i % 2)
    }
    val df = rows.toDF("vec_id", "embedding", "label")
    val t = SimilarityOps.kmeansConvergedTrace(df, k = 2, maxRounds = 8)
      .select("round_no", "stopped").distinct().orderBy("round_no")
      .as[(Long, Boolean)].collect().toSeq
    assert(t.size < 8, s"expected an early stop, got ${t.size} rounds")
    assert(t.last._2, "the final round must carry stopped=true")
    assert(t.init.forall(!_._2), "stopped must mark ONLY the final round")
  }

  test("q145 JL projection: a unit basis vector projects to exactly its plane column") {
    val d = 5
    val v = Array.tabulate(64)(i => if (i == d) 1.0f else 0.0f)
    val row = SimilarityOps.jlProjection(
      Seq((7L, v.toSeq)).toDF("vec_id", "embedding")).collect().head
    // p_j = plane(base+j, d) · 10⁶ — rebuild the fingerprint and norms
    val ps = (0 until SimilarityOps.ProjDims)
      .map(j => SimilarityOps.plane(SimilarityOps.JlPlaneBase + j, d).toLong * 1000000L)
    val wantFp = java.security.MessageDigest.getInstance("MD5")
      .digest(ps.map(_.toString).mkString(",").getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    assert(row.getString(1) === wantFp, "projected coordinates must be bit-exact")
    assert(row.getLong(2) === ps.map(p => p * p).sum)
    assert(row.getLong(3) === 1000000L * 1000000L)
    val wantDist = ps.map(p => p * p).sum.toDouble /
      (SimilarityOps.PlaneMeanSq * SimilarityOps.ProjDims * 1000000L * 1000000L).toDouble
    assert(row.getDouble(4) === wantDist)
    // a zero vector carries no norm to distort — NULL, not NaN
    val zrow = SimilarityOps.jlProjection(
      Seq((8L, Array.fill(64)(0.0f).toSeq)).toDF("vec_id", "embedding")).collect().head
    assert(zrow.isNullAt(4) && zrow.getLong(2) === 0L)
  }

  test("q145 JL projection: malformed and out-of-scale embeddings raise") {
    val bad = Seq((1L, Seq(1.0f, 2.0f))).toDF("vec_id", "embedding")
    val e1 = intercept[Exception](SimilarityOps.jlProjection(bad).collect())
    assert(e1.getMessage.contains("malformed embedding"), e1.getMessage)
    // the shared 5-vector fixture contains a 2·cos element > 1 — the
    // int64 headroom guard must refuse rather than silently overflow
    val e2 = intercept[Exception](SimilarityOps.jlProjection(emb.drop("label")).collect())
    assert(e2.getMessage.contains("|x| > 1"), e2.getMessage)
  }

  test("q145 JL projection on the corpus: distortion concentrates near 1; deterministic; invariant") {
    val embs = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val rows = SimilarityOps.jlProjection(embs).collect()
    assert(rows.length === embs.count())
    rows.foreach { r =>
      assert(r.getLong(2) >= 0L && r.getLong(3) > 0L)
      assert(r.getDouble(4) > 0.05 && r.getDouble(4) < 5.0,
        s"vec ${r.getLong(0)}: distortion ${r.getDouble(4)} outside any plausible JL band")
    }
    val mean = rows.map(_.getDouble(4)).sum / rows.length
    assert(mean > 0.7 && mean < 1.3,
      s"mean distortion $mean — E[ratio]=1 by the JL argument")
    val again = SimilarityOps.jlProjection(embs.repartition(7))
      .collect().map(_.toSeq).toSeq
    assert(again === rows.map(_.toSeq).toSeq)
  }

  test("q221 fisher separability: exact hand rational, ordering tracks geometry, corpus invariance") {
    // 2-dim hand clouds on the 1e-3 grid: class 0 at the origin, class 1
    // at x=1.0, class 2 at x=1.01 — each a 2-point cloud of variance 1
    // (in grid units). fisher(0,1) = |μΔ|²/(σ²+σ²) = 1000²·... exactly
    // 500000; class 2 sits 10 grid units from class 1 → fisher(1,2) =
    // 10²·... far smaller, and fisher(0,2) ≈ fisher(0,1).
    def cloud(lbl: Int, x0: Float): Seq[(Long, Seq[Float], Int)] = Seq(
      (lbl * 10L, Seq(x0, 0f), lbl), (lbl * 10L + 1, Seq(x0 + 0.002f, 0f), lbl))
    val emb = (cloud(0, 0f) ++ cloud(1, 1f) ++ cloud(2, 1.01f))
      .toDF("vec_id", "embedding", "label")
    val rows = SimilarityOps.fisherSeparability(emb).collect()
    val byPair = rows.map(r => (r.getLong(1), r.getLong(2)) -> r).toMap
    assert(byPair((0L, 1L)).getLong(5) === 500000000000L,
      "hand rational: N2/within = 4000²/32 exactly, in micro")
    assert(byPair((0L, 1L)).getLong(5) > byPair((1L, 2L)).getLong(5) * 1000,
      "near-identical classes must score far below separated ones")
    assert(rows.head.getLong(1) === 0L,
      "rank 1 is one of the origin-vs-far pairs")
    // corpus: 45 ranked pairs, all fisher values non-null and
    // non-negative, replay invariant
    val corpus = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val cRows = SimilarityOps.fisherSeparability(corpus).collect()
    assert(cRows.length === 45)
    assert(cRows.forall(r => !r.isNullAt(5) && r.getLong(5) >= 0L))
    assert(cRows.map(_.getLong(0)).toSeq === (1L to 45L).toSeq)
    val again = SimilarityOps.fisherSeparability(corpus.repartition(7))
      .collect().map(_.toSeq).toSeq
    assert(again === cRows.map(_.toSeq).toSeq)
  }

  test("q215 rank agreement: census matches a driver fold over the SAME lists q199 fuses; sign-safe tau") {
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    val embs = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val (textDf, vecDf) = SimilarityOps.rrfLists(docs, embs)
    val rt = textDf.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val rv = vecDf.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val common = rt.keySet.intersect(rv.keySet).toSeq.sorted
    val pairs = for (i <- common.indices; j <- i + 1 until common.length)
      yield (common(i), common(j))
    val nConc = pairs.count { case (a, b) =>
      (rt(a) - rt(b)) * (rv(a) - rv(b)) > 0 }
    val nDisc = pairs.count { case (a, b) =>
      (rt(a) - rt(b)) * (rv(a) - rv(b)) < 0 }
    val foot = common.map(d => math.abs(rt(d) - rv(d))).sum
    val r = SimilarityOps.rankAgreement(docs, embs).collect().head
    assert(r.getLong(0) === rt.size && r.getLong(1) === rv.size)
    assert(r.getLong(2) === common.size.toLong)
    assert(r.getLong(3) === 1000000L * common.size / math.min(rt.size, rv.size))
    assert((r.getLong(4), r.getLong(5)) === ((nConc.toLong, nDisc.toLong)))
    val wantTau =
      if (nConc + nDisc == 0) null
      else if (nConc >= nDisc) 1000000L * (nConc - nDisc) / (nConc + nDisc)
      else -(1000000L * (nDisc - nConc) / (nConc + nDisc))
    assert((if (r.isNullAt(6)) null else r.getLong(6)) === wantTau)
    assert(r.getLong(7) === foot.toLong)
    // the sign-outside rule: floor'd magnitude, negated — spot-check the
    // discordant-majority arithmetic the engines must share
    assert(-(1000000L * (7L - 3L) / 10L) === -400000L)
  }
}
