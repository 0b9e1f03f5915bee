package graft

import graft.ops.{DedupOps, RelationalOps, SimilarityOps, SketchOps, TextOps}

/** Regression guards for the plan shapes the scale design depends on —
  * a refactor that silently reintroduces a join-then-aggregate or a global
  * distinct shuffle should fail HERE, not in a 100 TB run. Asserts on the
  * pre-execution physical plan (AQE may further improve it at runtime). */
class PlanShapeSpec extends SparkSpec {
  import spark.implicits._

  private def events = Tables.events(spark, "/root/testdata/sf0.001")
  private def docs = Tables.documents(spark, "/root/testdata/sf0.001")

  test("q47 aggregates orders BEFORE the outer join (one narrow exchange)") {
    val customer = Tables.customer(spark, "/root/testdata/sf0.001")
    val orders = Tables.orders(spark, "/root/testdata/sf0.001")
    val plan = RelationalOps.ordersPerCustomerOuter(customer, orders)
      .queryExecution.executedPlan.toString
    // the aggregate must sit under the join's build side, so the joined
    // rows are |customers| wide-free aggregates, not every order row
    assert(plan.contains("HashAggregate"))
    val joinIdx = plan.indexOf("LeftOuter")
    val aggIdx = plan.lastIndexOf("HashAggregate")
    assert(joinIdx >= 0 && aggIdx > joinIdx,
      s"expected aggregate under the join:\n${plan.take(1200)}")
  }

  test("q38 pair join carries no global distinct and anti-joins the hot set") {
    // the pre-checkpoint shingle-table builder: q38's materialization
    // barrier hides the anti-join from the final plan (the q159 lesson)
    val shPlan = DedupOps.keptShingles(docs)
      .queryExecution.executedPlan.toString
    assert(shPlan.contains("LeftAnti"), "df-cap anti-join missing")
    // per-doc shingle dedup is row-local (array_distinct), so no
    // aggregate-shaped DISTINCT keyed on (doc_id, shingle) may appear
    // (the legitimate pair-count agg is keyed on two doc_ids instead)
    val distinctOnShingles = "keys=\\[doc_id#\\d+L?, shingle".r
    assert(distinctOnShingles.findFirstIn(shPlan).isEmpty,
      s"unexpected global distinct on shingle rows:\n${shPlan.take(1200)}")
    val pairPlan = DedupOps.jaccardPairs(docs)
      .queryExecution.executedPlan.toString
    assert(distinctOnShingles.findFirstIn(pairPlan).isEmpty,
      s"unexpected global distinct on shingle rows:\n${pairPlan.take(1200)}")
  }

  test("q43/q55 ANN plans broadcast the bounded side; no nested-loop joins") {
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    for ((name, df) <- Seq("q43" -> SimilarityOps.annLsh(emb),
                           "q55" -> SimilarityOps.ivfAnn(emb))) {
      val plan = df.queryExecution.executedPlan.toString
      // the query/probe/centroid side is bounded → must be a broadcast hash
      // join, and NOTHING may degrade to a nested loop (the all-pairs shape
      // the banding/probing exists to avoid). Exception: the graded recall
      // audit embeds q42's bounded brute-force baseline, whose broadcast
      // non-equi join on the 5-row query side (NOT q_id = vec_id) is the
      // one legitimate nested-loop shape
      assert(plan.contains("BroadcastHashJoin"),
        s"$name: expected broadcast joins on the bounded side:\n${plan.take(1200)}")
      assert(!plan.contains("CartesianProduct"),
        s"$name: cartesian join leaked into an ANN plan:\n${plan.take(1200)}")
      plan.linesIterator.filter(_.contains("BroadcastNestedLoopJoin")).foreach { l =>
        assert(l.contains("NOT (q_id") && l.contains("BuildLeft"),
          s"$name: nested loop beyond the bounded brute-force audit:\n$l")
      }
    }
  }

  test("q223 dhash pairs: band self-join is an equi-join, over-cap anti-join broadcasts, no all-pairs shape") {
    import spark.implicits._
    val hand = (0L until 100L).map(i => (i, i * 0x9E3779B97F4A7C15L))
      .toDF("id", "h")
    val plan = graft.multimodal.MediaOps.dhashPairs(hand)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"dhash candidates must come from band equi-joins, never all-pairs:\n${plan.take(1200)}")
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastExchange"),
      s"the bounded over-cap bucket census must broadcast:\n${plan.take(1200)}")
  }

  test("q36 signature expression is evaluated once, with no shuffle") {
    // the pre-checkpoint signature builder: q36's materialization barrier
    // hides the fold expression from the final plan (the q159 lesson)
    val rows = DedupOps.minhashSignatureRows(docs)
    val plan = rows.queryExecution.optimizedPlan.toString
    // the sig[i] column split must NOT collapse the expensive expression
    // into 8 copies, and no filter may inline it either (pushdown trap)
    val evals = "graft_minhash".r.findAllIn(plan).length
    assert(evals == 1, s"graft_minhash evaluated $evals times:\n${plan.take(1200)}")
    val exec = rows.queryExecution.executedPlan.toString
    assert(!exec.contains("Exchange hashpartitioning"),
      s"row-local signature must not shuffle:\n${exec.take(1200)}")
  }

  test("q53 rank check broadcasts the 5-row estimate table") {
    val plan = RelationalOps.approxPercentilesChecked(events)
      .queryExecution.executedPlan.toString
    // the per-type sketch estimates join back to the full scan — that side
    // is bounded by the number of event types and must never shuffle the
    // fact scan for the join
    assert(plan.contains("BroadcastHashJoin"),
      s"estimate side must broadcast:\n${plan.take(1200)}")
    assert(!plan.contains("SortMergeJoin"),
      s"rank-check join degraded to a fact-side shuffle:\n${plan.take(1200)}")
  }

  test("q64 shuffles tokens once at most (re-count only); aux sides broadcast") {
    val plan = SketchOps.heavyHitters(docs).queryExecution.executedPlan.toString
    // the MG candidate pass reduces partitions to k-entry summaries — the
    // ONLY token-keyed exchange allowed is pass 2's <= k-key re-count
    val tokenShuffles = "hashpartitioning\\(token".r.findAllIn(plan).length
    assert(tokenShuffles <= 1,
      s"candidate pass leaked a token shuffle ($tokenShuffles):\n${plan.take(1200)}")
    // candidates and the 1-row total must both broadcast into the re-count
    val bcasts = "BroadcastExchange".r.findAllIn(plan).length
    assert(bcasts >= 2, s"expected broadcast aux sides:\n${plan.take(1200)}")
    assert(!plan.contains("SortMergeJoin") && !plan.contains("CartesianProduct"),
      s"re-count degraded to a fact-side shuffle join:\n${plan.take(1200)}")
  }

  test("q54 sessionization reuses ONE user_id exchange for both windows") {
    val plan = RelationalOps.sessionize(events).queryExecution.executedPlan.toString
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(exchanges <= 2, // one for the windows, one for the final agg at most
      s"expected <= 2 hash exchanges, got $exchanges:\n${plan.take(1200)}")
  }

  test("q69 incremental dedup broadcasts the increment bands; corpus never nested-loops") {
    val plan = DedupOps.incrementalLshPairs(
      docs.filter(s"source <> '${DedupOps.IncrementSource}'"),
      docs.filter(s"source = '${DedupOps.IncrementSource}'"))
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"increment band side must broadcast:\n${plan.take(1200)}")
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      s"nested-loop/cartesian leaked into the incremental plan:\n${plan.take(1200)}")
  }

  test("q70 decontamination broadcasts the eval grams; train grams never shuffle") {
    val plan = graft.ops.PipelineOps.ngramContamination(docs)
      .queryExecution.executedPlan.toString
    // the GRAM join is the scale-critical one (train side = the whole
    // corpus's shingles): it must be a broadcast of the eval side, never a
    // gram-keyed shuffle of the train side. (The outer doc_id join to the
    // candidate-bounded hits table stays size-adaptive — with this
    // session's auto-broadcast disabled it plans as SMJ, which AQE
    // upgrades at runtime.)
    assert("BroadcastHashJoin \\[gram".r.findFirstIn(plan).isDefined,
      s"eval-gram side must broadcast:\n${plan.take(1200)}")
    val gramShuffles = "hashpartitioning\\(gram".r.findAllIn(plan).length
    assert(gramShuffles <= 1, // the eval side's own distinct, nothing else
      s"train grams leaked into a shuffle ($gramShuffles):\n${plan.take(1200)}")
    assert("SortMergeJoin \\[gram".r.findFirstIn(plan).isEmpty,
      s"gram join degraded to a corpus-side shuffle:\n${plan.take(1200)}")
  }

  test("q73 packing: no corpus-wide unpartitioned window (two-pass prefix sum)") {
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Window => LWindow}
    val plan = graft.ops.PipelineOps.sequencePacking(docs).queryExecution.optimizedPlan
    val wins = plan.collect { case w: LWindow => w }
    assert(wins.nonEmpty, "expected the per-range cumsum window")
    // a global (unpartitioned) window funnels its whole input through ONE
    // task — allowed only over an aggregate output (the P-row per-partition
    // totals), never over corpus rows
    wins.filter(_.partitionSpec.isEmpty).foreach { w =>
      assert(w.child.collectFirst { case a: Aggregate => a }.isDefined,
        s"global window over non-aggregated (corpus-sized) input:\n${w.treeString.take(800)}")
    }
    assert(wins.exists(_.partitionSpec.nonEmpty),
      "per-range-partition cumsum window missing — packing regressed to a global sort")
  }

  test("q76 mixture sample: no per-stratum rank sort; row-local threshold + broadcast dial") {
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Window => LWindow}
    val q = graft.ops.PipelineOps.mixtureSample(docs)
    val wins = q.queryExecution.optimizedPlan.collect { case w: LWindow => w }
    // the only window allowed is the q72 normalizer over the BOUNDED
    // stratum aggregate; a window over raw documents is the skew-prone
    // rank form this test exists to keep out
    wins.foreach { w =>
      assert(w.child.collectFirst { case a: Aggregate => a }.isDefined,
        s"window over non-aggregated (stratum-skewed) input:\n${w.treeString.take(800)}")
    }
    val exec = q.queryExecution.executedPlan.toString
    assert(exec.contains("BroadcastHashJoin"),
      s"per-stratum cut dial must broadcast:\n${exec.take(1200)}")
  }

  test("q58 stratified sample: no window at all; row-local threshold + broadcast dial") {
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
    val q = graft.ops.PipelineOps.stratifiedSample(docs)
    // unlike q76 (whose q72 normalizer windows over a bounded aggregate),
    // q58's dial needs no window anywhere — any Window here means the
    // skew-prone per-stratum rank sort crept back in
    assert(q.queryExecution.optimizedPlan.collect { case w: LWindow => w }.isEmpty,
      "q58 must not window: the keep rule is a row-local threshold filter")
    val exec = q.queryExecution.executedPlan.toString
    assert(exec.contains("BroadcastHashJoin"),
      s"per-stratum cut dial must broadcast:\n${exec.take(1200)}")
  }

  test("q40 simhash pairs: candidates via MIH band probes, never an all-pairs stratum join") {
    val plan = DedupOps.simhashPairs(docs).queryExecution.executedPlan.toString
    // the candidate join must be keyed on the probe band (pband = band),
    // not only on (lang, source) — the O(bucket²) shape q62/MIH replace
    assert("Join \\[pband".r.findFirstIn(plan).isDefined,
      s"candidate join not keyed on the probe band:\n${plan.take(1200)}")
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"all-pairs join leaked into q40:\n${plan.take(1200)}")
  }

  test("q80 dup spans: no pair join anywhere; span merge stays per-doc partitioned") {
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
    val q = DedupOps.duplicateSpans(docs)
    val exec = q.queryExecution.executedPlan.toString
    // the whole point of the fingerprint formulation: the corpus never
    // meets itself — no pair-producing join shape may appear
    assert(!exec.contains("CartesianProduct") && !exec.contains("BroadcastNestedLoopJoin"),
      s"all-pairs join leaked into q80:\n${exec.take(1200)}")
    val wins = q.queryExecution.optimizedPlan.collect { case w: LWindow => w }
    assert(wins.nonEmpty && wins.forall(_.partitionSpec.nonEmpty),
      "span gap-merge must stay per-doc partitioned (a global window would " +
        "funnel every duplicated gram position through one task)")
  }

  test("q84 span scrub: no pair join, no window; the token cut is row-local") {
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
    val q = DedupOps.spanScrub(docs)
    val exec = q.queryExecution.executedPlan.toString
    assert(!exec.contains("CartesianProduct") && !exec.contains("BroadcastNestedLoopJoin"),
      s"all-pairs join leaked into q84:\n${exec.take(1200)}")
    // coverage collapses to one bounded array per doc and the cut is a
    // higher-order filter — a window here would mean positions are being
    // sequenced through per-doc sorted state instead
    assert(q.queryExecution.optimizedPlan.collect { case w: LWindow => w }.isEmpty,
      "q84 must not window: the cut is a row-local filter against the rs array")
  }

  test("q85 semantic dedup: candidates only within a cell; vector payloads gathered after") {
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val plan = SimilarityOps.semanticDedup(emb)
      .queryExecution.executedPlan.toString
    assert("Join \\[cell".r.findFirstIn(plan).isDefined,
      s"candidate join not keyed on the cluster cell:\n${plan.take(1200)}")
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"all-pairs join leaked into q85:\n${plan.take(1200)}")
  }

  test("q87 kmeans: centroids broadcast, argmin row-local — no N×k window or cartesian") {
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val q = SimilarityOps.kmeans(emb)
    val exec = q.queryExecution.executedPlan.toString
    assert(!exec.contains("CartesianProduct"),
      s"cartesian leaked into q87:\n${exec.take(1200)}")
    assert(exec.contains("BroadcastNestedLoopJoin"),
      "centroid state must reach vectors as a broadcast one-row table")
    // assignment must be the codegen'd fold over the broadcast array — a
    // Window here would mean the N×k distance table materialized
    assert(q.queryExecution.optimizedPlan.collect { case w: LWindow => w }.isEmpty,
      "q87 argmin must not window over an N×k distance table")
  }

  test("q87 kmeans: plan depth is round-invariant (checkpointed rounds)") {
    // the un-checkpointed fold nested every prior round inside round r's
    // plan — O(R²) corpus scans; with localCheckpoint per round, the final
    // plan reads the materialized round R−1 rows and its node count does
    // not grow with the round budget
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    def nodes(rounds: Int): Int = SimilarityOps.kmeans(emb, rounds = rounds)
      .queryExecution.optimizedPlan.collect { case p => p }.size
    assert(nodes(2) === nodes(4),
      "round budget leaked into the final plan: rounds are not checkpointed")
  }

  test("q121 converged kmeans: per-round plan depth constant (checkpointed frames)") {
    // the output unions one frame per PAID round, so total plan size grows
    // linearly in the emitted rounds — but each frame must read its
    // checkpoint flatly: quadratic growth means a round re-derived its
    // predecessors (the un-checkpointed O(R²) fold)
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    def nodes(cap: Int): Int =
      SimilarityOps.kmeansConvergedTrace(emb, maxRounds = cap)
        .queryExecution.optimizedPlan.collect { case p => p }.size
    val (n2, n3, n4) = (nodes(2), nodes(3), nodes(4))
    assert(n3 - n2 === n4 - n3,
      s"plan growth is not linear in rounds ($n2, $n3, $n4): rounds are not checkpointed")
  }

  test("q89 corpus render: no cartesian, every window partitioned") {
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
    val q = SparkEntry.queries("q89_corpus_render")(spark, "/root/testdata/sf0.001")
    val exec = q.queryExecution.executedPlan.toString
    assert(!exec.contains("CartesianProduct"),
      s"cartesian leaked into q89:\n${exec.take(1200)}")
    val wins = q.queryExecution.optimizedPlan.collect { case w: LWindow => w }
    assert(wins.forall(_.partitionSpec.nonEmpty),
      "q89 must not funnel the corpus through an unpartitioned window")
  }

  test("q122 curation manifest: no cartesian, no unpartitioned window, survivor joins co-keyed") {
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
    val q = SparkEntry.queries("q122_curation_manifest")(spark, "/root/testdata/sf0.001")
    val exec = q.queryExecution.executedPlan.toString
    assert(!exec.contains("CartesianProduct"),
      s"cartesian leaked into the composed curation DAG:\n${exec.take(1200)}")
    // inherited stage windows (q84's span merge) must stay partitioned;
    // the composition itself adds none
    val wins = q.queryExecution.optimizedPlan.collect { case w: LWindow => w }
    assert(wins.forall(_.partitionSpec.nonEmpty),
      "q122 must not funnel the corpus through an unpartitioned window")
  }

  test("q127 embedding drift: one co-keyed aggregate — halves folded conditionally, no self-join") {
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
    val q = SimilarityOps.embeddingDrift(
      Tables.embeddings(spark, "/root/testdata/sf0.001"))
    val exec = q.queryExecution.executedPlan.toString
    assert(!exec.contains("Join"),
      s"q127 must fold both halves in ONE aggregate, not join them:\n${exec.take(1500)}")
    assert(q.queryExecution.optimizedPlan.collect { case w: LWindow => w }.isEmpty,
      "q127 must not window")
  }

  test("q126 interval join: bucket binning turns the range join into an equi-join") {
    val q = graft.ops.RelationalOps.intervalJoin(
      Tables.events(spark, "/root/testdata/sf0.001"))
    val exec = q.queryExecution.executedPlan.toString
    // the pure range predicate would plan as a nested loop over the full
    // cross product — the bucket key must carry the join
    assert(!exec.contains("BroadcastNestedLoopJoin") && !exec.contains("CartesianProduct"),
      s"q126 must equi-join on the time bucket, not nest-loop:\n${exec.take(1500)}")
    assert(exec.contains("Join") || exec.contains("join"),
      s"expected a keyed join in the plan:\n${exec.take(800)}")
  }

  test("q124 embedding moments: native partial trisum aggregate; sums broadcast back") {
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
    val q = SimilarityOps.embeddingMoments(
      Tables.embeddings(spark, "/root/testdata/sf0.001"))
    val exec = q.queryExecution.executedPlan.toString
    // the O(N·D²) product stream must fold inside the map-side partial
    // graft_trisum buffers — a self-join or window would materialize it
    assert(!exec.contains("SortMergeJoin") && !exec.contains("CartesianProduct"),
      s"q124 must not self-join the component table:\n${exec.take(1500)}")
    assert(exec.contains("BroadcastHashJoin"),
      s"the 64-row dimension sums must broadcast back:\n${exec.take(1500)}")
    assert(exec.contains("partial_graft_trisum"),
      s"the native triangle aggregate must run map-side partial:\n${exec.take(1500)}")
    assert(q.queryExecution.optimizedPlan.collect { case w: LWindow => w }.isEmpty,
      "q124 must not window")
  }

  test("q133 scalar quant census: D-row dial broadcast back, no window, no self-join") {
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
    val q = SimilarityOps.scalarQuantCensus(
      Tables.embeddings(spark, "/root/testdata/sf0.001"))
    val exec = q.queryExecution.executedPlan.toString
    assert(exec.contains("BroadcastHashJoin"),
      s"the trained per-dimension dial must broadcast back:\n${exec.take(1500)}")
    assert(!exec.contains("SortMergeJoin") && !exec.contains("CartesianProduct"),
      s"the exploded corpus must never shuffle for the dial join:\n${exec.take(1500)}")
    assert(q.queryExecution.optimizedPlan.collect { case w: LWindow => w }.isEmpty,
      "q133 must not window")
  }

  test("q134 HLL census: no window, no cartesian — registers collapse by partial aggregation") {
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
    val q = graft.ops.SketchOps.hllCensus(
      Tables.documents(spark, "/root/testdata/sf0.001"))
    assert(q.queryExecution.optimizedPlan.collect { case w: LWindow => w }.isEmpty,
      "q134 must not window")
    val exec = q.queryExecution.executedPlan.toString
    assert(!exec.contains("CartesianProduct"), "q134 must not cross-join")
    // the register path must map-combine: a partial_max on the register
    // table before any exchange is the no-token-shuffle proof
    assert(exec.contains("partial_max") || exec.contains("partial_Max"),
      s"register MAX must partial-aggregate before the shuffle:\n${exec.take(1500)}")
  }

  test("q135 winnowing: fingerprint selection is row-local (no window, no exchange); no cartesian in the pair join") {
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
    // the native graft_winnow path must plan as a pure generate/projection
    // over the scan — the windowed twin's corpus-sized sort + distinct
    // shuffle is exactly what the expression exists to remove
    val fp = graft.ops.DedupOps.winnowFingerprints(
      Tables.documents(spark, "/root/testdata/sf0.001"))
    assert(fp.queryExecution.optimizedPlan.collect { case w: LWindow => w }.isEmpty,
      "q135's fingerprint selection must not window")
    val fpExec = fp.queryExecution.executedPlan.toString
    assert(!fpExec.contains("Exchange"),
      s"fingerprint selection must not shuffle:\n${fpExec.take(1200)}")
    assert(fpExec.contains("graft_winnow"),
      "the native winnow expression must be in the plan")
    val q = graft.ops.DedupOps.winnowPairs(
      Tables.documents(spark, "/root/testdata/sf0.001"))
    assert(!q.queryExecution.executedPlan.toString.contains("CartesianProduct"),
      "q135 must never plan an all-pairs product")
  }

  test("q136 funnel: stage chain plans with no window and no cartesian — co-keyed joins only") {
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
    val q = graft.ops.RelationalOps.funnelCensus(
      Tables.events(spark, "/root/testdata/sf0.001"))
    assert(q.queryExecution.optimizedPlan.collect { case w: LWindow => w }.isEmpty,
      "q136 must not window — stages are conditional MINs")
    assert(!q.queryExecution.executedPlan.toString.contains("CartesianProduct"),
      "q136 must not cross-join")
  }

  test("q140 pagerank: plan depth is round-invariant; no window, no cartesian") {
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
    val orders = Tables.orders(spark, "/root/testdata/sf0.001")
    val lineitem = Tables.lineitem(spark, "/root/testdata/sf0.001")
    def nodes(rounds: Int): Int = graft.ops.GraphOps
      .pageRank(orders, lineitem, rounds = rounds)
      .queryExecution.optimizedPlan.collect { case p => p }.size
    assert(nodes(2) === nodes(4),
      "round budget leaked into the final plan: rounds are not checkpointed")
    val q = graft.ops.GraphOps.pageRank(orders, lineitem)
    assert(q.queryExecution.optimizedPlan.collect { case w: LWindow => w }.isEmpty)
    assert(!q.queryExecution.executedPlan.toString.contains("CartesianProduct"))
  }

  test("q141 ROC/AUC: bounded bin self-joins broadcast; no window, no corpus rank") {
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    val q = graft.ops.QualityModelOps.rocAuc(
      graft.ops.QualityModelOps.qualityClassifier(docs),
      graft.ops.TextOps.trainingFilter(docs).select("doc_id", "keep"))
    assert(q.queryExecution.optimizedPlan.collect { case w: LWindow => w }.isEmpty,
      "AUC must come from the bin histogram, never a corpus-wide rank window")
    val phys = q.queryExecution.executedPlan.toString
    assert(phys.contains("BroadcastNestedLoopJoin") || phys.contains("BroadcastHashJoin"),
      "the bounded bin self-joins must broadcast")
    assert(!phys.contains("CartesianProduct"))
  }

  test("q146 benford / q147 round affinity: one corpus aggregate each, bounded joins broadcast, no window") {
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
    val events = Tables.events(spark, "/root/testdata/sf0.001")
    Seq(graft.ops.EventOps.benfordAudit(events),
        graft.ops.EventOps.roundNumberAffinity(events)).foreach { q =>
      assert(q.queryExecution.optimizedPlan.collect { case w: LWindow => w }.isEmpty)
      val phys = q.queryExecution.executedPlan.toString
      assert(!phys.contains("CartesianProduct"),
        "the one-row total joins must broadcast")
    }
  }

  test("q148/q149: no window anywhere — binned quartiles and lag joins on bounded tables only") {
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
    val events = Tables.events(spark, "/root/testdata/sf0.001")
    Seq(graft.ops.RelationalOps.autocorrelation(events),
        graft.ops.RelationalOps.rfmSegments(events)).foreach { q =>
      assert(q.queryExecution.optimizedPlan.collect { case w: LWindow => w }.isEmpty,
        "quartiles/lags must come from bounded aggregates, never a rank window")
      assert(!q.queryExecution.executedPlan.toString.contains("CartesianProduct"))
    }
  }

  test("q150/q151: co-keyed pair joins only — no window, no cartesian on the corpus side") {
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
    val d = "/root/testdata/sf0.001"
    Seq(graft.ops.GraphOps.coPurchaseNeighbors(
          Tables.orders(spark, d), Tables.lineitem(spark, d)),
        graft.ops.RelationalOps.basketRules(Tables.lineitem(spark, d))).foreach { q =>
      assert(q.queryExecution.optimizedPlan.collect { case w: LWindow => w }.isEmpty,
        "argmax/rules come from aggregates, never a rank window")
      assert(!q.queryExecution.executedPlan.toString.contains("CartesianProduct"))
    }
  }

  test("q187/q190: windows only over bounded collapsed tables — day-keyed value counts / user-keyed grid; no cartesian on a corpus side") {
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
    val d = "/root/testdata/sf0.001"
    // q187: both median selections are cumulative windows PARTITIONED BY
    // day over the checkpointed (day, cents/dev, n) tables, never raw rows
    val q187 = graft.ops.RelationalOps.robustOutliers(Tables.events(spark, d))
    val w187 = q187.queryExecution.optimizedPlan.collect { case w: LWindow => w }
    assert(w187.nonEmpty && w187.forall(_.partitionSpec.nonEmpty),
      "q187's median selections must stay day-partitioned")
    assert(!q187.queryExecution.executedPlan.toString.contains("CartesianProduct"))
    // q190: the forward fill is the ONLY window, user-partitioned over the
    // dial-bounded grid; the span dial joins via broadcast, not cartesian
    val q190 = graft.ops.RelationalOps.resampleFill(Tables.events(spark, d))
    val w190 = q190.queryExecution.optimizedPlan.collect { case w: LWindow => w }
    assert(w190.size === 1 && w190.head.partitionSpec.nonEmpty,
      "q190's fill must be one user-partitioned window")
    assert(!q190.queryExecution.executedPlan.toString.contains("CartesianProduct"))
  }

  test("q152 attribution: the as-of window stays user-partitioned; no cartesian") {
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
    // the corpus-scale window runs inside the checkpointed census build —
    // probe the same window expression the op uses on the raw input
    val probe = Tables.events(spark, "/root/testdata/sf0.001")
      .selectExpr("user_id", "event_type", "unix_micros(ts) AS us", "event_id")
      .selectExpr("event_type",
        """last(CASE WHEN event_type <> 'purchase' THEN event_type END, true)
             OVER (PARTITION BY user_id ORDER BY us, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS touch""")
    val wins = probe.queryExecution.optimizedPlan.collect { case w: LWindow => w }
    assert(wins.nonEmpty && wins.forall(_.partitionSpec.nonEmpty),
      "the as-of touch must stay PARTITIONED by user")
    val q = graft.ops.RelationalOps.lastTouchAttribution(
      Tables.events(spark, "/root/testdata/sf0.001"))
    assert(!q.queryExecution.executedPlan.toString.contains("CartesianProduct"))
  }

  test("q153 skew audit: two collapses then bounded-table math — no window, no corpus self-join") {
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
    val q = graft.ops.ScaleOps.keySkewAudit(Seq(
      ("events", "user_id", Tables.events(spark, "/root/testdata/sf0.001"))))
    assert(q.queryExecution.optimizedPlan.collect { case w: LWindow => w }.isEmpty,
      "the top-1% walk must come from the count-of-counts table, never a key rank")
    assert(!q.queryExecution.executedPlan.toString.contains("CartesianProduct"))
  }

  test("q154 daily cube: register path aggregates only — no window, no cartesian") {
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
    val q = graft.ops.SketchOps.hllDailyCube(
      Tables.events(spark, "/root/testdata/sf0.001"))
    assert(q.queryExecution.optimizedPlan.collect { case w: LWindow => w }.isEmpty)
    assert(!q.queryExecution.executedPlan.toString.contains("CartesianProduct"))
  }

  test("q144 markov: the only window is user-partitioned; census join broadcast") {
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
    val q = graft.ops.RelationalOps.markovTransitions(
      Tables.events(spark, "/root/testdata/sf0.001"))
    val wins = q.queryExecution.optimizedPlan.collect { case w: LWindow => w }
    assert(wins.nonEmpty && wins.forall(_.partitionSpec.nonEmpty),
      "q144's lead must stay PARTITIONED by user — a global sort at corpus scale")
    val phys = q.queryExecution.executedPlan.toString
    assert(phys.contains("BroadcastHashJoin"), "the bounded row-total join must broadcast")
    assert(!phys.contains("CartesianProduct"))
  }

  test("q145 JL projection: one row-local pass — no window, no join, no exchange before the output sort") {
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow, Join => LJoin}
    val q = graft.ops.SimilarityOps.jlProjection(
      Tables.embeddings(spark, "/root/testdata/sf0.001"))
    assert(q.queryExecution.optimizedPlan.collect { case w: LWindow => w }.isEmpty)
    assert(q.queryExecution.optimizedPlan.collect { case j: LJoin => j }.isEmpty,
      "projection is per-row arithmetic — nothing to join")
    val exchanges = q.queryExecution.executedPlan.toString
      .linesIterator.count(_.contains("Exchange"))
    assert(exchanges <= 1, s"only the output sort may exchange, saw $exchanges")
  }

  test("q142 triangles: degree-ordered joins only — no window, no cartesian on the edge side") {
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
    val q = graft.ops.GraphOps.triangleCensus(
      graft.ops.DedupOps.lshPairs(Tables.documents(spark, "/root/testdata/sf0.001")))
    assert(q.queryExecution.optimizedPlan.collect { case w: LWindow => w }.isEmpty)
    assert(!q.queryExecution.executedPlan.toString.contains("CartesianProduct"),
      "the one-row census joins must broadcast; edge joins are equi-keyed")
  }

  test("q143 collocations: bigrams explode row-locally — no window, no corpus self-join") {
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
    val q = graft.ops.TextOps.collocations(
      Tables.documents(spark, "/root/testdata/sf0.001"))
    assert(q.queryExecution.optimizedPlan.collect { case w: LWindow => w }.isEmpty,
      "adjacency must come from the row-local transform, never a position rank")
    val phys = q.queryExecution.executedPlan.toString
    assert(!phys.contains("CartesianProduct"),
      "the one-row total must broadcast (BNLJ), never a cartesian")
  }

  test("q138 retention: no window, cohort sizes broadcast, no cartesian") {
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
    val q = graft.ops.RelationalOps.retentionCohorts(
      Tables.events(spark, "/root/testdata/sf0.001"))
    assert(q.queryExecution.optimizedPlan.collect { case w: LWindow => w }.isEmpty,
      "q138 is aggregates + one co-keyed join — never a window")
    val phys = q.queryExecution.executedPlan.toString
    assert(phys.contains("BroadcastHashJoin"),
      "the calendar-bounded cohort-size table must broadcast")
    assert(!phys.contains("CartesianProduct"))
  }

  test("q139 stickiness: the sliding distinct is an explode into hash aggs — no window, bounded join broadcast") {
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
    val q = graft.ops.RelationalOps.stickinessCensus(
      Tables.events(spark, "/root/testdata/sf0.001"))
    assert(q.queryExecution.optimizedPlan.collect { case w: LWindow => w }.isEmpty,
      "q139 must not plan the sliding distinct as a window")
    val phys = q.queryExecution.executedPlan.toString
    assert(phys.contains("BroadcastHashJoin"),
      "the day-keyed DAU/WAU join is calendar-bounded — must broadcast")
    assert(!phys.contains("CartesianProduct"))
  }

  test("q137 SAX: the only window is user-partitioned; word census bounded by the alphabet") {
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
    val q = graft.ops.RelationalOps.saxMotifs(
      Tables.events(spark, "/root/testdata/sf0.001"))
    val wins = q.queryExecution.optimizedPlan.collect { case w: LWindow => w }
    assert(wins.nonEmpty, "the sliding value window must be a window")
    assert(wins.forall(_.partitionSpec.nonEmpty),
      "q137's sliding window lost its per-user partitioning — a global sort at corpus scale")
    assert(!q.queryExecution.executedPlan.toString.contains("CartesianProduct"))
  }

  test("q79 BPE tokenization applies merges row-locally: no shuffle beyond the output sort") {
    // learning runs as its own bounded jobs; the APPLICATION the query
    // plans must be a pure projection over the scan — a hash exchange here
    // would mean the tokenizer exploded/regrouped the corpus
    val plan = graft.ops.BpeOps.applyMerges(docs, graft.ops.BpeOps.learnMerges(docs, graft.ops.BpeOps.NumMerges)).queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange hashpartitioning"),
      s"row-local tokenize leaked a shuffle:\n${plan.take(1200)}")
    assert(!plan.contains("Generate "),
      s"tokenize exploded the corpus:\n${plan.take(1200)}")
  }

  test("q92 surprisal gathers hot n-gram heads via broadcast; only the tail shuffles") {
    // a single hash join on the bigram/unigram key would funnel every
    // "of the" occurrence to one reducer — the ENGAGED two-tier gather
    // must show broadcast head joins feeding a union with the shuffled
    // tail (the size gate picks this path at crawl scale)
    val q = TextOps.bigramSurprisal(docs, twoTier = Some(true))
    val plan = q.queryExecution.executedPlan.toString
    val bhj = "BroadcastHashJoin".r.findAllIn(plan).length
    assert(bhj >= 2, s"expected broadcast head tiers for both gathers:\n${plan.take(1500)}")
    assert(plan.contains("Union"), s"two-tier union missing:\n${plan.take(1500)}")
    // below the TwoTierMinRows gate the split is pure overhead: the auto
    // path on this small corpus must be the PLAIN single-join plan
    val small = TextOps.bigramSurprisal(docs).queryExecution.executedPlan.toString
    assert(!small.contains("Union"),
      s"two-tier split engaged below the size gate:\n${small.take(1500)}")
  }

  test("q95 DSIR gathers ride broadcast head tiers; no global window") {
    // same contract as q92: the bigram-count gather must be the two-tier
    // form when ENGAGED (hot heads broadcast + shuffled tail union), the
    // 3 totals a one-row broadcast, and nothing may fall back to an
    // unpartitioned window over the corpus on either path
    val plan = TextOps.dsirWeights(docs, twoTier = Some(true))
      .queryExecution.executedPlan.toString
    assert("BroadcastHashJoin".r.findAllIn(plan).length >= 1,
      s"broadcast head tier missing:\n${plan.take(1500)}")
    assert(plan.contains("Union"), s"two-tier union missing:\n${plan.take(1500)}")
    assert(!plan.contains("Window"), s"unexpected window:\n${plan.take(1500)}")
    val small = TextOps.dsirWeights(docs).queryExecution.executedPlan.toString
    assert(!small.contains("Union"),
      s"two-tier split engaged below the size gate:\n${small.take(1500)}")
    assert(!small.contains("Window"), s"unexpected window:\n${small.take(1500)}")
  }

  test("q102 resample verdict is row-local after the fixpoint: no window, no join") {
    import org.apache.spark.sql.catalyst.plans.logical.{Join, Window => LWindow}
    // the water-fill state collapses to two integer LITERALS in the final
    // plan (the driver-fixpoint idiom) — the keep verdict must be a pure
    // row-local filter over the checkpointed weight rows: any join or
    // window here means per-row state lookup crept back in
    val q = TextOps.dsirResample(docs)
    val opt = q.queryExecution.optimizedPlan
    assert(opt.collect { case w: LWindow => w }.isEmpty, "q102 must not window")
    assert(opt.collect { case j: Join => j }.isEmpty,
      "q102's verdict must not join: the (n, s) state is a literal pair")
  }

  test("q104 hard negatives: anchors broadcast into the corpus scan, no cartesian") {
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
    val q = SimilarityOps.hardNegatives(emb)
    val exec = q.queryExecution.executedPlan.toString
    // label-disagreement is a non-equi condition: the correct shape is the
    // bounded anchor set broadcast into a nested-loop probe of the corpus
    // (the q87 centroid idiom), never an un-broadcast cartesian
    assert(exec.contains("BroadcastNestedLoopJoin"),
      s"anchor set must broadcast:\n${exec.take(1200)}")
    assert(!exec.contains("CartesianProduct"),
      s"cartesian leaked into q104:\n${exec.take(1200)}")
    // the only window is the per-anchor top-k rank — always partitioned
    val wins = q.queryExecution.optimizedPlan.collect { case w: LWindow => w }
    assert(wins.nonEmpty && wins.forall(_.partitionSpec.nonEmpty),
      "q104's rank window must stay per-anchor partitioned")
    // the rank<=k filter must be pushed into a map-side (Partial)
    // WindowGroupLimit: only ~k rows per anchor per task reach the
    // exchange, so a corpus-sized anchor partition never funnels through
    // one sort task — the property that makes the brute top-k family
    // (q42/q43/q104) scale past the sampled-anchor-set framing
    assert(exec.contains("WindowGroupLimit") && exec.contains("Partial"),
      s"rank filter not pushed to a map-side group limit:\n${exec.take(1500)}")
  }

  test("q109 semantic contamination: eval side broadcast, corpus scanned once, no window") {
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val q = SimilarityOps.semanticContamination(emb)
    val exec = q.queryExecution.executedPlan.toString
    // the q42/q104 shape: the bounded eval split broadcasts into a
    // nested-loop probe of the train corpus — never an un-broadcast
    // cartesian, and the argmax is a struct MAX aggregate, not a window
    assert(exec.contains("BroadcastNestedLoopJoin"),
      s"eval split must broadcast:\n${exec.take(1200)}")
    assert(!exec.contains("CartesianProduct"),
      s"cartesian leaked into q109:\n${exec.take(1200)}")
    assert(q.queryExecution.optimizedPlan.collect { case w: LWindow => w }.isEmpty,
      "q109 must not window: the argmax is one struct-MAX aggregate")
  }

  test("q97 soft-dedup weights reuse the cluster-key exchange; no window") {
    val clusters = Seq((1L, 1L, true), (2L, 1L, false), (3L, 3L, true))
      .toDF("doc_id", "cluster_id", "keep")
    val plan = graft.ops.GraphOps.softDedupWeights(clusters)
      .queryExecution.executedPlan.toString
    // the size table joins back on the SAME cluster_id partitioning the
    // groupBy created — a second corpus-wide exchange key would double the
    // data movement; a window would single-partition at scale
    assert(!plan.contains("Window"), s"unexpected window:\n${plan.take(1200)}")
    val exchanges = "Exchange hashpartitioning\\(cluster_id".r.findAllIn(plan).length
    assert(exchanges <= 2, // probe side + build side of the same key
      s"extra cluster_id exchanges:\n${plan.take(1200)}")
  }

  test("q106 cluster canon: aggregates + equi-joins only — no window, no all-pairs") {
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
    val clusters = Seq((1L, 1L, true), (2L, 1L, false), (3L, 3L, true))
      .toDF("doc_id", "cluster_id", "keep")
    val scores = Seq((1L, 10L), (2L, 20L), (3L, 5L)).toDF("doc_id", "score_micro")
    val q = graft.ops.GraphOps.clusterCanon(clusters, scores)
    // the per-cluster argmax must be MAX + MIN aggregates joined back on
    // cluster_id — a rank window here is the q58 single-task-stratum shape
    assert(q.queryExecution.optimizedPlan.collect { case w: LWindow => w }.isEmpty,
      "q106 must not window: the argmax is two map-combinable aggregates")
    val exec = q.queryExecution.executedPlan.toString
    assert(!exec.contains("CartesianProduct") && !exec.contains("BroadcastNestedLoopJoin"),
      s"non-equi join leaked into q106:\n${exec.take(1200)}")
  }

  test("q107 cell-balanced sample: row-local threshold, broadcast dial, no window") {
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
    val assign = (0L until 100L).map(i => (i, i % 4)).toDF("vec_id", "cell")
    val q = SimilarityOps.cellBalancedSample(assign)
    // the q58 invariant applied to learned strata: any window means the
    // per-cell rank sort crept back in
    assert(q.queryExecution.optimizedPlan.collect { case w: LWindow => w }.isEmpty,
      "q107 must not window: the keep rule is a row-local threshold filter")
    val exec = q.queryExecution.executedPlan.toString
    assert(exec.contains("BroadcastHashJoin"),
      s"per-cell cut dial must broadcast:\n${exec.take(1200)}")
  }

  test("q108 quality token curve: cumulative via bounded self-join, never a global window") {
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
    val scores = (0L until 50L).map(i => (i, i * 1000000L)).toDF("doc_id", "score_micro")
    val q = graft.ops.QualityModelOps.qualityTokenCurve(scores, docs)
    // a SUM OVER (ORDER BY bin) with no partition would single-partition;
    // the suffix sum must stay a self-join over the bounded bin aggregate
    assert(q.queryExecution.optimizedPlan.collect { case w: LWindow => w }.isEmpty,
      "q108 must not window: the cumulative is a bounded self-join aggregate")
    val exec = q.queryExecution.executedPlan.toString
    // the ≥-join must be the bounded bin table BROADCAST into a
    // nested-loop probe (the q104 anchor idiom), never a cartesian
    assert(exec.contains("BroadcastNestedLoopJoin"),
      s"bounded bin side must broadcast:\n${exec.take(1200)}")
    assert(!exec.contains("CartesianProduct"),
      s"unbounded cartesian leaked into q108:\n${exec.take(1200)}")
  }

  test("q110 cluster quality: centroid state broadcast, fold row-local, no window") {
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val assign = SimilarityOps.kmeans(emb).select("vec_id", "cell")
    val q = SimilarityOps.clusterQuality(assign, emb)
    val exec = q.queryExecution.executedPlan.toString
    assert(!exec.contains("CartesianProduct"),
      s"cartesian leaked into q110:\n${exec.take(1200)}")
    // the induced centroid state is a ONE-ROW artifact — it must reach the
    // corpus as a broadcast, and both distances must come from the
    // row-local fold (a Window would mean the N×k distance table
    // materialized, q87's exact invariant)
    assert(exec.contains("BroadcastNestedLoopJoin"),
      "induced centroid state must reach vectors as a broadcast one-row table")
    assert(q.queryExecution.optimizedPlan.collect { case w: LWindow => w }.isEmpty,
      "q110 distances must not window over an N×k distance table")
  }

  test("q112 epoch order: the only window is PARTITIONED by shard — never a global rank") {
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
    val q = graft.ops.PipelineOps.epochOrder(docs)
    val wins = q.queryExecution.optimizedPlan.collect { case w: LWindow => w }
    assert(wins.nonEmpty, "q112's per-shard rank must be a window")
    // an UNPARTITIONED rank would funnel the whole corpus through one
    // sort task — the exact global-permutation failure the shard rank avoids
    wins.foreach(w => assert(w.partitionSpec.nonEmpty,
      s"q112 rank lost its shard partitioning:\n$w"))
    assert(!q.queryExecution.executedPlan.toString.contains("CartesianProduct"))
  }

  test("q113 leak-free split: row-local deals, no window, no cartesian") {
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
    val pairs = graft.ops.DedupOps.lshPairs(docs)
    val clusters = graft.ops.GraphOps.dedupClusters(docs, pairs)
    val q = graft.ops.PipelineOps.leakFreeSplit(clusters)
    // both split deals are row-local md5 folds and the flag is a plain
    // aggregate joined back on its own key — a window would mean a
    // per-cluster sort snuck in
    assert(q.queryExecution.optimizedPlan.collect { case w: LWindow => w }.isEmpty,
      "q113 must not window: the flag is a MIN/MAX disagreement aggregate")
    val exec = q.queryExecution.executedPlan.toString
    assert(!exec.contains("CartesianProduct"),
      s"cartesian leaked into q113:\n${exec.take(1200)}")
  }

  test("q115 ivf health: one bounded aggregate, totals broadcast, no window") {
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val assign = SimilarityOps.kmeans(emb).select("vec_id", "cell")
    val q = SimilarityOps.ivfHealth(assign)
    assert(q.queryExecution.optimizedPlan.collect { case w: LWindow => w }.isEmpty,
      "q115 must not window: shares come from a one-row total broadcast")
    val exec = q.queryExecution.executedPlan.toString
    assert(exec.contains("BroadcastNestedLoopJoin"),
      s"one-row totals must broadcast:\n${exec.take(1200)}")
    assert(!exec.contains("CartesianProduct"),
      s"cartesian leaked into q115:\n${exec.take(1200)}")
  }

  test("q114 cross-source dups: no window, no cartesian — only collapsed rows self-join") {
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
    val pairs = graft.ops.DedupOps.lshPairs(docs)
    val clusters = graft.ops.GraphOps.dedupClusters(docs, pairs)
    val q = graft.ops.GraphOps.crossSourceDups(clusters, docs)
    assert(q.queryExecution.optimizedPlan.collect { case w: LWindow => w }.isEmpty,
      "q114 must not window: pair counts are plain bounded aggregates")
    val exec = q.queryExecution.executedPlan.toString
    assert(!exec.contains("CartesianProduct"),
      s"cartesian leaked into q114:\n${exec.take(1200)}")
  }

  test("q111 vocab coverage: bucket id row-local, suffix sum via bounded self-join") {
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
    val q = TextOps.vocabCoverage(docs)
    // the rank-based curve would need a global vocabulary sort (or a SUM
    // OVER (ORDER BY freq) — one task); the threshold curve must stay a
    // row-local bucket id + the q108 bounded self-join
    assert(q.queryExecution.optimizedPlan.collect { case w: LWindow => w }.isEmpty,
      "q111 must not window: the cumulative is a bounded self-join aggregate")
    val exec = q.queryExecution.executedPlan.toString
    assert(exec.contains("BroadcastNestedLoopJoin"),
      s"bounded bucket side must broadcast:\n${exec.take(1200)}")
    assert(!exec.contains("CartesianProduct"),
      s"unbounded cartesian leaked into q111:\n${exec.take(1200)}")
  }

  test("q67 BM25 takes top-N without a global sort; df and stats broadcast") {
    val plan = TextOps.bm25(docs).queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"),
      s"top-N degraded to a full sort:\n${plan.take(1200)}")
    assert(!plan.contains("Sort ") || !plan.contains("Exchange rangepartitioning"),
      s"unexpected global sort:\n${plan.take(1200)}")
    assert(plan.contains("BroadcastExchange"),
      s"df/stats sides must broadcast:\n${plan.take(1200)}")
  }

  test("q68 vocab mask rewrites row-locally: only the vocab side explodes") {
    // the pre-checkpoint mask builder: q68's materialization barrier
    // hides the transform + vocab join from the final plan (the q159 lesson)
    val plan = TextOps.vocabMaskRows(docs).queryExecution.executedPlan.toString
    // the corpus-side rewrite is a transform() projection; a second
    // Generate would mean the mask exploded the corpus and regrouped it
    val generates = "Generate explode".r.findAllIn(plan).length
    assert(generates == 1,
      s"expected exactly the vocab-side explode, got $generates:\n${plan.take(1200)}")
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastHashJoin"),
      s"single-row vocab must broadcast:\n${plan.take(1200)}")
  }

  test("q159 edit linkage: equi hash joins only — the deletion neighborhood never degrades to all-pairs") {
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
    val customer = Tables.customer(spark, "/root/testdata/sf0.001")
    // the pre-checkpoint candidates stage: the final sort's checkpoint
    // would hide the joins from the plan (the q167 lesson)
    val q = DedupOps.editLinkagePairsCandidates(customer)
    val exec = q.queryExecution.executedPlan.toString
    // a CartesianProduct or BNLJ here means the candidate rule fell back
    // to comparing every name against every name — the exact plan the
    // SymSpell join exists to avoid
    assert(!exec.contains("CartesianProduct") && !exec.contains("BroadcastNestedLoopJoin"),
      s"all-pairs plan leaked into q159:\n${exec.take(1200)}")
    assert(q.queryExecution.optimizedPlan.collect { case w: LWindow => w }.isEmpty,
      "q159 must not window")
  }

  test("q177 radius-2 linkage: equi hash joins only across all five branches") {
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
    val customer = Tables.customer(spark, "/root/testdata/sf0.001")
    val q = DedupOps.editLinkageD2Branches(customer).reduce(_.unionByName(_))
    val exec = q.queryExecution.executedPlan.toString
    assert(!exec.contains("CartesianProduct") && !exec.contains("BroadcastNestedLoopJoin"),
      s"all-pairs plan leaked into q177:\n${exec.take(1200)}")
    assert(q.queryExecution.optimizedPlan.collect { case w: LWindow => w }.isEmpty,
      "q177 must not window")
    // the structural-distance design keeps the quadratic-cost threshold
    // DP off the bulk: levenshtein may appear at most once (the small
    // delta-1 sub+indel branch), never in the hamming-2 spine
    assert("levenshtein".r.findAllIn(exec.toLowerCase).length <= 1,
      s"the edit-distance DP crept onto a bulk branch:\n${exec.take(1200)}")
  }

  test("q171 skyline: the only window is bucket-partitioned; no all-pairs dominance join") {
    val part = Tables.part(spark, "/root/testdata/sf0.001")
    val q = RelationalOps.skylineParts(part)
    val exec = q.queryExecution.executedPlan.toString
    assert(!exec.contains("CartesianProduct"),
      s"all-pairs dominance leaked into q171:\n${exec.take(1200)}")
    // the local-skyline window must be PARTITIONED (by bucket) — a
    // global window here is the single-task sort the grid exists to avoid
    val globalWindow = "Window\\s.*\\[\\]".r // empty partition spec
    assert(globalWindow.findFirstIn(exec).isEmpty,
      s"unpartitioned window in q171:\n${exec.take(1200)}")
  }

  test("q167 reshard audit: ring candidates broadcast to the keys — no per-key ring fan-out, no window") {
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
    // the owner lookup (pre-checkpoint — the checkpointed census plan
    // cannot show it): keys must equi-join the BROADCAST candidate table
    val lookup = graft.ops.ScaleOps.ringOwners(events)
    val lp = lookup.queryExecution.executedPlan.toString
    assert(lp.contains("BroadcastHashJoin"),
      s"bucketed candidates must reach the keys via broadcast:\n${lp.take(1200)}")
    assert(!lp.contains("CartesianProduct"),
      s"keys×ring cartesian leaked into the q167 lookup:\n${lp.take(1200)}")
    assert(lookup.queryExecution.optimizedPlan.collect { case w: LWindow => w }.isEmpty,
      "q167 lookup must not window")
    // the census over the checkpointed verdicts: one-row folds only
    val q = graft.ops.ScaleOps.reshardAudit(events)
    assert(!q.queryExecution.executedPlan.toString.contains("CartesianProduct"),
      "unbounded cartesian leaked into the q167 census")
    assert(q.queryExecution.optimizedPlan.collect { case w: LWindow => w }.isEmpty,
      "q167 census must not window")
  }

  test("q161 bloom prune: the filter broadcasts as one row; the probe decision never shuffles") {
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
    val q = SketchOps.bloomPruneCensus(events)
    val exec = q.queryExecution.executedPlan.toString
    // the dense word row must reach the probe via a broadcast — an
    // Exchange keyed for the filter test would mean the probe shuffled
    // to learn a 512-byte constant
    assert(exec.contains("BroadcastExchange") || exec.contains("BroadcastNestedLoopJoin"),
      s"bloom word row must broadcast:\n${exec.take(1200)}")
    assert(!exec.contains("CartesianProduct"),
      s"unbounded cartesian leaked into q161:\n${exec.take(1200)}")
    assert(q.queryExecution.optimizedPlan.collect { case w: LWindow => w }.isEmpty,
      "q161 must not window")
    // the broadcast hint sits on the side Spark can build, so it is honored
    val warnings = warningsOf(SketchOps.bloomPruneCensus(events).collect())
    assert(!warnings.exists(_.contains("Hint")), s"q161 logged an ignored hint: $warnings")
  }

  test("q157 topk cube: summaries are a map-combinable bounded-state aggregate, never a rank window") {
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
    val counts = SketchOps.userDayCounts(events)
    val stored = SketchOps.topkStored(counts)
    // the per-day selection must plan as partial_topkbycount (≤ K-entry
    // states tree-merged) — a Window here is the rank-within-day sort
    // that dies on a billion-key day
    val sp = stored.queryExecution.executedPlan.toString
    assert(sp.contains("partial_topkbycount"),
      s"typed top-K aggregate lost its map-side partial:\n${sp.take(1200)}")
    assert(stored.queryExecution.optimizedPlan.collect { case w: LWindow => w }.isEmpty,
      "q157 summaries must not window")
    // the full census: no window anywhere and no unbounded cartesian —
    // the only BNLJ is the q130-style rank self-join over ≤ range×K rows
    val q = SketchOps.topkRangeCensus(events)
    assert(q.queryExecution.optimizedPlan.collect { case w: LWindow => w }.isEmpty,
      "q157 census must not window")
    val exec = q.queryExecution.executedPlan.toString
    assert(!exec.contains("CartesianProduct"),
      s"unbounded cartesian leaked into q157:\n${exec.take(1200)}")
  }

  test("q194 theta sets: no window, no cartesian, tiny sides broadcast (sketch selection guarded via q157's aggregate class)") {
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
    val orders = Tables.orders(spark, "/root/testdata/sf0.001")
    val q = SketchOps.thetaSets(orders)
    // the ≤K sketch stages sit behind localCheckpoints (ExistingRDD in
    // this plan); their partial_topkbycount shape is pinned by the q157
    // guard on the same Aggregator
    val plan = q.queryExecution.executedPlan.toString
    assert(q.queryExecution.optimizedPlan.collect { case w: LWindow => w }.isEmpty,
      "q194 must not window — the oracle affords the rank, the engine never does")
    assert(!plan.contains("CartesianProduct"),
      s"cartesian leaked into q194:\n${plan.take(1200)}")
    assert(plan.contains("BroadcastExchange"),
      s"θ/retained sides must broadcast:\n${plan.take(1200)}")
  }

  test("q199 rank fusion: both rankers take top-N map-side; no cartesian") {
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val plan = SimilarityOps.rankFusion(docs, emb)
      .queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"),
      s"a ranker's top-N degraded to a full sort:\n${plan.take(1200)}")
    assert(!plan.contains("CartesianProduct"),
      s"cartesian leaked into q199:\n${plan.take(1200)}")
  }

  test("q202 quantile sample: corpus never range-sorted before the audit; no cartesian") {
    val q = SketchOps.quantileSample(events)
    // the bottom-K selection sits behind a localCheckpoint (its
    // partial_topkbycount shape is the q157-guarded Aggregator); what the
    // final plan must show is that the corpus-scale audit never sorts —
    // the only range exchange allowed is the 5-row presentation sort
    val plan = q.queryExecution.executedPlan.toString
    val ranges = "Exchange rangepartitioning".r.findAllIn(plan).length
    assert(ranges <= 1, s"corpus-scale sort leaked into q202:\n${plan.take(1600)}")
    assert(!plan.contains("CartesianProduct"),
      s"cartesian leaked into q202:\n${plan.take(1200)}")
  }

  test("q203 hopping windows: the overlap is a row-local explode — no window, no self-join") {
    import org.apache.spark.sql.catalyst.plans.logical.{Join => LJoin, Window => LWindow}
    val q = graft.ops.EventOps.hoppingMean(events)
    assert(q.queryExecution.optimizedPlan.collect { case w: LWindow => w }.isEmpty,
      "q203 must not window")
    assert(q.queryExecution.optimizedPlan.collect { case j: LJoin => j }.isEmpty,
      "q203 must not join — the fan-out is row-local")
    val plan = q.queryExecution.executedPlan.toString
    val gens = "Generate explode".r.findAllIn(plan).length
    assert(gens == 1, s"expected exactly one bounded explode, got $gens")
  }

  test("q201 encoding audit: the ledger stage carries the Expand distinct, no cartesian, no unpartitioned window") {
    // the run-detection lag windows live behind the base localCheckpoint
    // (ExistingRDD here); their day partitioning is pinned by the q201
    // spec's day-boundary run-reset assertion instead
    val q = graft.ops.ScaleOps.encodingAudit(events)
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("Expand"),
      s"multi-column exact distinct lost its Expand plan:\n${plan.take(1200)}")
    assert(!plan.contains("windowspecdefinition()"),
      "no window may order the whole corpus")
    assert(!plan.contains("CartesianProduct"))
  }

  test("q206 drift census: one corpus pass, bounded bin table joins broadcast, no cartesian") {
    val q = graft.ops.ProfileOps.driftCensus(events)
    val plan = q.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"),
      s"cartesian leaked into q206:\n${plan.take(1200)}")
    assert(plan.contains("BroadcastExchange"),
      s"the anchor/bin sides must broadcast:\n${plan.take(1200)}")
  }

  test("q212 diff: ONE corpus-scale full-outer equi-join, never nested-loop; no cartesian anywhere") {
    val orders = Tables.orders(spark, "/root/testdata/sf0.001")
    // the corpus-scale stage, pre-checkpoint (the shipped query
    // checkpoints the 4-row census, which truncates the visible plan)
    val (a, b) = graft.ops.ProfileOps.tableDiffSides(orders)
    val j = graft.ops.ProfileOps.tableDiffJoined(a, b)
    val jPlan = j.queryExecution.executedPlan.toString
    val fullOuter = "FullOuter".r.findAllIn(jPlan).length
    assert(fullOuter === 1,
      s"expected exactly one FullOuter join, got $fullOuter:\n${jPlan.take(1500)}")
    assert(!jPlan.contains("BroadcastNestedLoopJoin"),
      "the diff join must stay a hash/sort-merge equi-join")
    assert(!jPlan.contains("CartesianProduct"),
      s"cartesian leaked into the diff join:\n${jPlan.take(1200)}")
    // the shipped query: no cartesian; the law row broadcasts
    val plan = graft.ops.ProfileOps.tableDiff(orders)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"),
      s"cartesian leaked into q212:\n${plan.take(1200)}")
    assert(plan.contains("BroadcastExchange"),
      s"the law row must broadcast:\n${plan.take(1200)}")
  }
}
