package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.ops.{DedupOps, EventOps, PipelineOps, RelationalOps, SimilarityOps, SketchOps, TextOps}

/** Driver contract — one `queries` entry per implemented operator from
  * SURVEY.md §2 (parity surface) and §7.3-7.4 (breadth + extended surface),
  * each with a DuckDB-equivalent `oracleSql` unless the op is not
  * SQL-expressible (then the driver records a weaker rows-only check).
  *
  * Determinism rules (SURVEY.md §7.5 / FIXTURES.md §3): unique-key
  * tie-break on every ORDER BY, double aggregates rounded identically on
  * both sides, UTC everywhere, no wall-clock-relative predicates.
  */
object SparkEntry {
  private type Q = (SparkSession, String) => DataFrame

  /** q59's factored input: the q37 pair table, computed ONCE per (session,
    * corpus) and MATERIALIZED to a parquet snapshot. This is the pipeline
    * shape a real corpus build has — the dedup stage writes its pair table
    * to storage and every downstream consumer (cross-modal enrichment here)
    * reads it, rather than re-running the whole LSH pipeline per consumer.
    * A parquet snapshot, not `.persist()`, deliberately: Spark's cache
    * manager substitutes a persisted plan into ANY query with the same
    * canonical subtree, which would silently turn q37 itself into a cache
    * read and leave the LSH pipeline cost measured nowhere. (long, long,
    * double) columns round-trip parquet bit-exactly, so q59's hash is
    * unchanged. The snapshot is tiny — only pairs that survived the
    * Jaccard verify — and is deleted on JVM exit. Snapshot semantics: it
    * reflects the corpus AS OF first use in this JVM, like any
    * materialized pipeline stage (the test corpora are immutable; a
    * pipeline re-running against mutated input starts a fresh JVM). */
  // Sessions key a WeakHashMap (values never reference the session), so a
  // stopped session's snapshot paths / merge lists are collectable instead
  // of retained for the JVM lifetime in a long-lived multi-session process.
  private val snapshots = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[SparkSession,
      java.util.concurrent.ConcurrentHashMap[(String, String), String]]())
  private def materialized(s: SparkSession, d: String, stage: String)
                          (build: => DataFrame): DataFrame = {
    val perSession = snapshots.computeIfAbsent(s,
      _ => new java.util.concurrent.ConcurrentHashMap[(String, String), String]())
    val path = perSession.computeIfAbsent((d, stage), _ => {
      val out = java.nio.file.Files.createTempDirectory(s"graft_${stage}_")
      sys.addShutdownHook { // snapshots must not outlive the JVM
        def rm(f: java.io.File): Unit = {
          Option(f.listFiles()).getOrElse(Array.empty[java.io.File]).foreach(rm)
          f.delete(); ()
        }
        rm(out.toFile)
      }
      build.write.mode("overwrite").parquet(out.toString)
      out.toString
    })
    s.read.parquet(path)
  }
  /** q224's storage stage, once per (session, corpus): both q212 diff
    * sides LAND as bucketed+sorted managed tables on the natural key —
    * the write-side shuffle is the landing cost, paid once at ingest in a
    * real lake; every later reconciliation over the landed tables joins
    * with ZERO exchanges (SourceSinksSpec guards the plan). Table names
    * key on the sanitized corpus path PLUS its md5 (r15 advice: a bare
    * 31-bit String.hashCode could collide two corpus dirs in one session
    * and silently serve the wrong corpus's landed tables; the md5 suffix
    * makes the mapping injective in practice and the sanitized prefix
    * keeps the catalog readable). Same AS-OF-first-use snapshot semantics
    * as [[materialized]]: the test corpora are immutable per JVM. */
  private[graft] def bucketedDiffTables(s: SparkSession, d: String): (DataFrame, DataFrame) = {
    val md5 = java.security.MessageDigest.getInstance("MD5")
      .digest(d.getBytes("UTF-8")).take(6).map(b => f"$b%02x").mkString
    val tag = d.replaceAll("[^A-Za-z0-9]+", "_").stripPrefix("_")
      .takeRight(40).toLowerCase + "_" + md5
    val (ta, tb) = (s"graft_diff_a_$tag", s"graft_diff_b_$tag")
    this.synchronized {
      if (!s.catalog.tableExists(ta) || !s.catalog.tableExists(tb)) {
        // a PREVIOUS session's managed-table location may survive in the
        // warehouse dir while the (in-memory) catalog has forgotten the
        // table — saveAsTable then fails LOCATION_ALREADY_EXISTS. Clear
        // both: the catalog entry if present, and the stale directory.
        Seq(ta, tb).foreach { t =>
          s.sql(s"DROP TABLE IF EXISTS $t")
          val wh = s.conf.get("spark.sql.warehouse.dir")
            .stripPrefix("file:")
          def rm(f: java.io.File): Unit = {
            Option(f.listFiles).getOrElse(Array.empty[java.io.File]).foreach(rm)
            f.delete(); ()
          }
          val dir = new java.io.File(wh, t)
          if (dir.exists) rm(dir)
        }
        val (a, b) = graft.ops.ProfileOps.tableDiffSides(Tables.orders(s, d))
        writeBucketed(a, ta, "k")
        writeBucketed(b, tb, "k")
      }
    }
    (s.table(ta), s.table(tb))
  }

  /** Bucketed + sorted managed table: one shuffle at write time, zero at
    * every subsequent join/agg on `bucketCol`. */
  private[graft] def writeBucketed(df: DataFrame, table: String, bucketCol: String,
                                   buckets: Int = 8): Unit =
    df.write.mode("overwrite")
      .bucketBy(buckets, bucketCol).sortBy(bucketCol)
      .format("parquet").saveAsTable(table)

  /** private[graft]: [[Catalog.registerOpViews]] roots its pair/cluster
    * views on these parquet snapshots too — registration stays cheap on
    * re-register, and the views' lineage survives executor loss (a
    * localCheckpoint-rooted view would not: non-reliable storage). */
  private[graft] def lshPairsShared(s: SparkSession, d: String): DataFrame =
    materialized(s, d, "pairs")(DedupOps.lshPairs(Tables.documents(s, d)))
  /** The q38 exact pair table, materialized once per (session, corpus) —
    * q91's audit reads this snapshot and the q37 one instead of re-running
    * both dedup passes from raw text ((long, long, double) round-trips
    * parquet bit-exactly, like the q37 snapshot). */
  private[graft] def jaccardPairsShared(s: SparkSession, d: String): DataFrame =
    materialized(s, d, "jacpairs")(DedupOps.jaccardPairs(Tables.documents(s, d)))
  /** The q69 increment pair table, materialized once per (session,
    * corpus) — q116's admission report aggregates this snapshot (q69
    * stays the live measured probe). (long, long, double) round-trips
    * parquet bit-exactly. */
  private[graft] def incrementPairsShared(s: SparkSession, d: String): DataFrame =
    materialized(s, d, "incpairs") {
      val (corpus, inc) = DedupOps.incrementSplit(Tables.documents(s, d))
      DedupOps.incrementalLshPairs(corpus, inc)
    }
  /** The q73 packed-row table, materialized once per (session, corpus) —
    * q78/q82 aggregate over this snapshot; q73 itself stays the live
    * two-pass plan so the prefix-sum cost is measured exactly once.
    * All-BIGINT columns round-trip parquet bit-exactly. */
  private[graft] def packingShared(s: SparkSession, d: String): DataFrame =
    materialized(s, d, "packing")(PipelineOps.sequencePacking(Tables.documents(s, d)))
  /** The q66 cluster table, materialized once per (session, corpus): the
    * contraction loop is EAGER (convergence actions), so both its
    * consumers (q66, q71) read this snapshot — the iterative cost is paid
    * once, like any materialized pipeline stage. (long, long, boolean)
    * round-trips parquet bit-exactly. */
  private[graft] def clustersShared(s: SparkSession, d: String): DataFrame = {
    // resolve the pairs snapshot BEFORE entering the clusters build thunk:
    // a nested computeIfAbsent on the same map throws "Recursive update"
    val pairs = lshPairsShared(s, d)
    materialized(s, d, "clusters")(
      graft.ops.GraphOps.dedupClusters(Tables.documents(s, d), pairs))
  }

  /** The q87 per-round assignment trace, materialized once per (session,
    * corpus) — q94's convergence monitor aggregates this snapshot (the
    * q73/q78 measures-vs-reads division: q87 stays the live measured Lloyd
    * plan). (long, long, long, double) round-trips parquet bit-exactly. */
  private[graft] def kmeansRoundsShared(s: SparkSession, d: String): DataFrame =
    materialized(s, d, "kmrounds")(
      SimilarityOps.kmeansRounds(Tables.embeddings(s, d)))

  /** The synthesized media corpus (real PNG/WAV/motion-PNG payloads),
    * materialized once per (session, corpus) — q50/q81/q93 read this
    * snapshot and pay only their DECODE (the graded operator); payload
    * synthesis is fixture generation, priced once like the q37 pair
    * derivation. A real media lake starts exactly here: a parquet table
    * of opaque `binary` payloads + typed metadata, with modality filters
    * pushed to the scan. Binary/struct columns round-trip parquet
    * bit-exactly, so all three hashes are unchanged. */
  private[graft] def mediaShared(s: SparkSession, d: String): DataFrame =
    materialized(s, d, "media")(
      graft.multimodal.MediaOps.fromDocuments(Tables.documents(s, d)).toDF())

  /** The q95 weight table, materialized once per (session, corpus) —
    * q102's resample reads the STORED weights (q95 stays the live
    * measured plan; a real pipeline persists its importance weights and
    * resamples from storage). (long, long, long, double) round-trips
    * parquet bit-exactly. */
  private[graft] def dsirWeightsShared(s: SparkSession, d: String): DataFrame =
    materialized(s, d, "dsir")(TextOps.dsirWeights(Tables.documents(s, d)))

  /** The q61 verdict table, materialized once per (session, corpus) —
    * q101 trains on the STORED weak labels (the q59/q91 reads-vs-measures
    * division: q61 stays the live measured plan, and a real pipeline's
    * classifier reads the heuristic stage's persisted output). (long,
    * boolean) round-trips parquet bit-exactly. */
  private[graft] def qualityLabelsShared(s: SparkSession, d: String): DataFrame =
    materialized(s, d, "qlabels")(
      TextOps.trainingFilter(Tables.documents(s, d)).selectExpr("doc_id", "keep"))

  /** The q101 score table, materialized once per (session, corpus) —
    * q103's calibration curve aggregates the STORED scores (q101 stays
    * the live measured plan). (long, long, long, double, boolean)
    * round-trips parquet bit-exactly. */
  private[graft] def qualityScoresShared(s: SparkSession, d: String): DataFrame = {
    // resolve the labels snapshot BEFORE entering the scores build thunk:
    // a nested computeIfAbsent on the same map throws "Recursive update"
    // (the clustersShared lesson)
    val labels = qualityLabelsShared(s, d)
    materialized(s, d, "qscores")(
      graft.ops.QualityModelOps.qualityClassifier(Tables.documents(s, d),
        Some(labels)))
  }

  /** The full-corpus RENDER (dirty text → q84 span scrub → q86 PII
    * redact → final token count + fingerprint), materialized once per
    * (session, corpus) — q122's composed manifest reads this snapshot
    * (the q59/q91 measures-vs-reads division: q89 stays the live measured
    * render plan; a real pipeline persists its rendered corpus and every
    * downstream stage reads storage). (long, long, string) round-trips
    * parquet bit-exactly. */
  private[graft] def renderedShared(s: SparkSession, d: String): DataFrame =
    materialized(s, d, "rendered") {
      val dirty = Tables.documents(s, d)
        .selectExpr("doc_id", s"${TextOps.DirtyExpr} AS text")
      DedupOps.spanScrubText(dirty)
        .selectExpr("doc_id", s"${TextOps.piiRedact("clean_text")} AS final_text")
        .selectExpr("doc_id",
          "CAST(size(split(final_text, ' ')) AS BIGINT) AS n_tokens",
          "md5(final_text) AS final_fp")
    }

  /** The q76 kept set, materialized once per (session, corpus) — q129's
    * realization audit aggregates this snapshot (q76 stays the live
    * measured sampling plan; a real pipeline audits the PERSISTED sample
    * it shipped, not a re-draw). All (string, long) columns round-trip
    * parquet bit-exactly. */
  private[graft] def mixtureKeptShared(s: SparkSession, d: String): DataFrame =
    materialized(s, d, "mixkept")(PipelineOps.mixtureSample(Tables.documents(s, d)))

  /** The q77 merge list, learned once per (session, corpus) — q79 applies
    * it; q77 itself re-learns so the iterative cost stays measured there
    * (a bounded Seq on the driver: the artifact a real pipeline persists
    * next to its tokenizer vocab). */
  private val bpeMergesCache = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[SparkSession,
      java.util.concurrent.ConcurrentHashMap[String, Seq[(Long, String, String, Long)]]]())
  private[graft] def bpeMergesShared(s: SparkSession, d: String): Seq[(Long, String, String, Long)] =
    bpeMergesCache.computeIfAbsent(s,
        _ => new java.util.concurrent.ConcurrentHashMap[String, Seq[(Long, String, String, Long)]]())
      .computeIfAbsent(d,
        _ => graft.ops.BpeOps.learnMerges(Tables.documents(s, d), graft.ops.BpeOps.NumMerges))

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    EventOps.top10ByUser(Tables.events(spark, "/root/testdata/sf0.001"))

  def queries: Map[String, Q] = Map[String, Q](
    // §2.A / §2.C parity surface over `events` (the transactions analog)
    "q01_fraud_filter"     -> ((s, d) => EventOps.fraudFilter(Tables.events(s, d))),
    "q02_top10_by_user"    -> ((s, d) => EventOps.top10ByUser(Tables.events(s, d))),
    "q03_stats"            -> ((s, d) => EventOps.statsGlobal(Tables.events(s, d))),
    "q04_latest_n"         -> ((s, d) => EventOps.latestN(Tables.events(s, d))),
    "q05_windowed_mean"    -> ((s, d) => EventOps.windowedMean(Tables.events(s, d))),
    // hopping windows: q05 with overlap — bounded row-local fan-out to
    // exactly length/hop windows, never a range self-join
    "q203_hopping_mean"    -> ((s, d) => EventOps.hoppingMean(Tables.events(s, d))),
    "q06_tag_filter"       -> ((s, d) => EventOps.tagFilter(Tables.events(s, d))),
    "q07_raw_range"        -> ((s, d) => EventOps.rawRange(Tables.events(s, d))),
    "q08_parse_props"      -> ((s, d) => EventOps.parseProps(Tables.events(s, d))),
    "q09_branch_other"     -> ((s, d) => EventOps.branchOther(Tables.events(s, d))),
    "q10_json_serialize"   -> ((s, d) => EventOps.jsonSerialize(Tables.events(s, d))),
    // §7.3 breadth over the star schema
    "q11_pricing_summary"  -> ((s, d) => RelationalOps.pricingSummary(Tables.lineitem(s, d))),
    "q12_revenue_by_nation" -> ((s, d) =>
      RelationalOps.revenueByNation(Tables.orders(s, d), Tables.customer(s, d), Tables.nation(s, d))),
    "q13_top_customers"    -> ((s, d) =>
      RelationalOps.topCustomers(Tables.orders(s, d), Tables.customer(s, d))),
    "q14_rollup_returns"   -> ((s, d) => RelationalOps.rollupReturns(Tables.lineitem(s, d))),
    "q15_top_orders_per_customer" -> ((s, d) =>
      RelationalOps.topOrdersPerCustomer(Tables.orders(s, d))),
    "q16_big_spenders"     -> ((s, d) =>
      RelationalOps.bigSpenders(Tables.customer(s, d), Tables.orders(s, d))),
    "q17_not_big_spenders" -> ((s, d) =>
      RelationalOps.notBigSpenders(Tables.customer(s, d), Tables.orders(s, d))),
    "q18_users_in_both"    -> ((s, d) => RelationalOps.usersInBoth(Tables.events(s, d))),
    "q19_users_only_in"    -> ((s, d) => RelationalOps.usersOnlyIn(Tables.events(s, d))),
    "q20_distinct_users_per_type" -> ((s, d) =>
      RelationalOps.distinctUsersPerType(Tables.events(s, d))),
    "q21_approx_distinct"  -> ((s, d) =>
      RelationalOps.approxDistinctChecked(Tables.events(s, d))),
    "q22_revenue_by_brand" -> ((s, d) =>
      RelationalOps.revenueByBrand(Tables.lineitem(s, d), Tables.part(s, d), Tables.supplier(s, d))),
    "q23_running_spend"    -> ((s, d) => RelationalOps.runningSpend(Tables.orders(s, d))),
    "q24_cube_returns"     -> ((s, d) => RelationalOps.cubeReturns(Tables.lineitem(s, d))),
    "q25_monthly_orders"   -> ((s, d) => RelationalOps.monthlyOrders(Tables.orders(s, d))),
    "q26_string_funcs"     -> ((s, d) => RelationalOps.customerNameFeatures(Tables.customer(s, d))),
    "q27_value_histogram"  -> ((s, d) => RelationalOps.valueHistogram(Tables.events(s, d))),
    "q28_percentiles"      -> ((s, d) => RelationalOps.valuePercentiles(Tables.events(s, d))),
    "q53_approx_percentiles" -> ((s, d) =>
      RelationalOps.approxPercentilesChecked(Tables.events(s, d))),
    "q54_sessionize"       -> ((s, d) => RelationalOps.sessionize(Tables.events(s, d))),
    // funnel analysis: strictly-ordered view→click→purchase conversion
    // with exact time-to-advance — every stage a conditional MIN, every
    // join co-keyed on user_id, census rows from one-row aggregates
    "q136_funnel"          -> ((s, d) => RelationalOps.funnelCensus(Tables.events(s, d))),
    // SAX motif discovery: sliding per-user windows → PAA → z-normalized
    // Gaussian-breakpoint words; exact-integer window stats make every
    // symbol bit-deterministic; output bounded by the 4^m word alphabet
    "q137_sax_motifs"      -> ((s, d) => RelationalOps.saxMotifs(Tables.events(s, d))),
    // retention triangle: day-of-first-event cohorts × days-since, from
    // one distinct (user, day) collapse; cohort sizes broadcast
    "q138_retention"       -> ((s, d) => RelationalOps.retentionCohorts(Tables.events(s, d))),
    // DAU/WAU stickiness: the sliding COUNT(DISTINCT) nobody can slide,
    // re-planned as a bounded contribution-explode into one hash agg
    "q139_stickiness"      -> ((s, d) => RelationalOps.stickinessCensus(Tables.events(s, d))),
    "q29_order_sequence"   -> ((s, d) => RelationalOps.orderSequence(Tables.orders(s, d))),
    "q46_users_in_either"  -> ((s, d) => RelationalOps.usersInEither(Tables.events(s, d))),
    "q47_orders_outer"     -> ((s, d) =>
      RelationalOps.ordersPerCustomerOuter(Tables.customer(s, d), Tables.orders(s, d))),
    "q48_asof_join"        -> ((s, d) => RelationalOps.asofJoin(Tables.events(s, d))),
    // point-in-interval temporal join with NO equi key (the shape Spark
    // would nest-loop): both sides binned into window-wide time buckets →
    // equi-join on bucket + row-local range filter — the activity burst
    // after each signup
    "q126_interval_join"   -> ((s, d) => RelationalOps.intervalJoin(Tables.events(s, d))),
    "q49_shipping_priority" -> ((s, d) => RelationalOps.shippingPriority(
      Tables.customer(s, d), Tables.orders(s, d), Tables.lineitem(s, d))),
    "q51_cohort_pivot"     -> ((s, d) => RelationalOps.cohortTypePivot(Tables.events(s, d))),
    "q52_token_frequencies" -> ((s, d) => RelationalOps.tokenFrequencies(Tables.documents(s, d))),
    // heavy hitters: mergeable Misra-Gries candidates (no token shuffle) +
    // exact re-count — output is exact, so the oracle is a plain HAVING
    "q64_heavy_hitters"    -> ((s, d) => SketchOps.heavyHitters(Tables.documents(s, d))),
    // contamination: exact fingerprint overlap between the q57 corpus
    // splits (the eval-leak check), KMV set-intersection sketch gated by
    // a tolerance boolean (the 100 TB path — HLL cannot intersect)
    "q65_contamination"    -> ((s, d) => SketchOps.contamination(Tables.documents(s, d))),
    // HLL distinct census: deterministic md5 registers make the ESTIMATE
    // itself hash-gradable (vs approx_count_distinct's engine-specific
    // sketch); register path never shuffles the corpus, exact-distinct
    // branch is the grading harness
    "q134_hll_census"      -> ((s, d) => SketchOps.hllCensus(Tables.documents(s, d))),
    // §7.1 graft.ext — text analysis over `documents`
    "q30_token_stats"      -> ((s, d) => TextOps.tokenStats(Tables.documents(s, d))),
    "q31_quality_score"    -> ((s, d) => TextOps.qualityScore(Tables.documents(s, d))),
    "q32_lang_stats"       -> ((s, d) => TextOps.langStats(Tables.documents(s, d))),
    "q33_fingerprint"      -> ((s, d) => TextOps.fingerprint(Tables.documents(s, d))),
    "q34_exact_dedup"      -> ((s, d) => TextOps.exactDedup(Tables.documents(s, d))),
    "q35_lang_id"          -> ((s, d) => TextOps.langId(Tables.documents(s, d))),
    // declared-vs-detected language confusion matrix: the metadata-trust
    // artifact read before keying any stage on the lang column
    "q117_lang_confusion"  -> ((s, d) => TextOps.langConfusion(Tables.documents(s, d))),
    // one-row documents-table integrity census (dup ids, null/empty text,
    // stale n_chars, null metadata) — the q118 twin for the text side
    "q119_document_audit"  -> ((s, d) => TextOps.documentAudit(Tables.documents(s, d))),
    // cross-table referential audit: docs without embeddings / orphan
    // embeddings — the bit gating every doc_id ↔ vec_id join
    "q120_referential_audit" -> ((s, d) =>
      PipelineOps.referentialAudit(Tables.documents(s, d), Tables.embeddings(s, d))),
    "q41_regex_tokens"     -> ((s, d) => TextOps.regexTokens(Tables.documents(s, d))),
    // deterministic T5-style span corruption bookkeeping: one md5-drawn
    // span masked per 20-token block (15% at full blocks), replay-safe —
    // the denoising-objective prep; pure row-local projection
    "q130_span_corruption" -> ((s, d) => TextOps.spanCorruption(Tables.documents(s, d))),
    "q60_repetition"       -> ((s, d) => TextOps.repetitionScore(Tables.documents(s, d))),
    "q61_training_filter"  -> ((s, d) => TextOps.trainingFilter(Tables.documents(s, d))),
    "q63_term_index"       -> ((s, d) => TextOps.termIndex(Tables.documents(s, d))),
    // positional phrase search: exact adjacency over query-vocabulary
    // postings — the index query q63's frequencies cannot answer
    "q198_phrase_search"   -> ((s, d) => TextOps.phraseSearch(Tables.documents(s, d))),
    // BM25 retrieval scoring with a cross-engine-exact micro-unit sum (the
    // transcendental-score gap q63 documents, closed)
    "q67_bm25"             -> ((s, d) => TextOps.bm25(Tables.documents(s, d))),
    // tokenizer-vocabulary truncation: top-K vocab broadcast to a row-local
    // OOV rewrite
    "q68_vocab_mask"       -> ((s, d) => TextOps.vocabMask(Tables.documents(s, d))),
    // BPE vocabulary construction: the corpus collapses once (distributed)
    // to the bounded (word, freq) vocabulary table; merge learning then
    // runs driver-locally on it with incremental pair stats — the only
    // shape that scales to production merge counts
    "q77_bpe_vocab"        -> ((s, d) => graft.ops.BpeOps.bpeMerges(Tables.documents(s, d))),
    // apply the learned merges: per-doc BPE token counts — the token
    // counting a packing budget actually needs; one row-local projection.
    // Reads the memoized merge list (learning cost stays measured in q77,
    // the q37-measures/q59-reads division of labor)
    "q79_bpe_token_counts" -> ((s, d) =>
      graft.ops.BpeOps.applyMerges(Tables.documents(s, d), bpeMergesShared(s, d))),
    // near-dup clustering: the q37 pair table (same persisted snapshot q59
    // reads) contracted to components via large-star/small-star — pairwise
    // dedup verdicts become per-doc KEEP/DROP decisions
    // q66 runs the contraction DIRECTLY so the iterative cost stays
    // measured here (q71 reads the materialized snapshot instead — the
    // same division of labor as q37-measures/q59-reads)
    "q66_dedup_clusters"   -> ((s, d) =>
      graft.ops.GraphOps.dedupClusters(Tables.documents(s, d), lshPairsShared(s, d))),
    // the capstone corpus-build verdict: a train-split doc enters the
    // training corpus iff it passes quality (q61), survives near-dup
    // clustering (q66), and shares no 5-gram with the eval split (q70) —
    // each input individually hash-verified, the conjunction composed here
    "q71_corpus_decision"  -> ((s, d) => {
      val docs = Tables.documents(s, d)
      import org.apache.spark.sql.functions.col
      val quality = TextOps.trainingFilter(docs)
        .select(col("doc_id"), col("keep").as("quality_ok"))
      val dedup = clustersShared(s, d)
        .select(col("doc_id"), col("keep").as("dedup_keep"))
      PipelineOps.ngramContamination(docs).select("doc_id", "contaminated")
        .join(quality, "doc_id").join(dedup, "doc_id")
        .selectExpr("doc_id", "quality_ok", "dedup_keep", "contaminated",
          "quality_ok AND dedup_keep AND NOT contaminated AS keep")
        .orderBy("doc_id")
    }),
    // §7.1 graft.ext — corpus-build pipeline stages over `documents`
    "q56_normalize"        -> ((s, d) => PipelineOps.normalizeDocs(Tables.documents(s, d))),
    // the release-publishing manifest: md5-bucket shard assignment +
    // per-shard volume/range bookkeeping (one bounded aggregate)
    "q100_shard_manifest"  -> ((s, d) => PipelineOps.shardManifest(Tables.documents(s, d))),
    // reproducible per-epoch shuffle: row-local (epoch, doc_id) md5 draw,
    // shard-partitioned rank — the order ledger a dataloader replays
    "q112_epoch_order"     -> ((s, d) => PipelineOps.epochOrder(Tables.documents(s, d))),
    "q57_split"            -> ((s, d) => PipelineOps.splitAssign(Tables.documents(s, d))),
    // near-dup-atomic train/val/test deal over the MATERIALIZED q66
    // clusters — the q57 rule keyed on cluster_id, with the per-cluster
    // leak-prevented audit flag
    "q113_leakfree_split"  -> ((s, d) => PipelineOps.leakFreeSplit(clustersShared(s, d))),
    // which sources copy from which: per source pair, true near-dup
    // clusters containing both — dedup-priority / provenance matrix over
    // the MATERIALIZED q66 clusters
    "q114_cross_source_dups" -> ((s, d) =>
      graft.ops.GraphOps.crossSourceDups(clustersShared(s, d), Tables.documents(s, d))),
    "q58_stratified_sample" -> ((s, d) => PipelineOps.stratifiedSample(Tables.documents(s, d))),
    // GPT-3-style n-gram eval decontamination over the q57 split: broadcast
    // test-split grams, row-local train-side shingles
    "q70_ngram_contamination" -> ((s, d) =>
      PipelineOps.ngramContamination(Tables.documents(s, d))),
    // temperature (α=0.5) mixture reweighting per corpus stratum — sqrt is
    // IEEE-correctly-rounded, so the weight is bit-exact cross-engine
    "q72_mixture_weights"  -> ((s, d) =>
      PipelineOps.mixtureWeights(Tables.documents(s, d))),
    // the upsampling ledger q76's rate cap points at: per stratum, exact
    // demanded count decomposed into full epochs + a replay-safe partial
    // pass, with the over-repetition flag — all exact integer quotients
    "q105_mixture_epoch_plan" -> ((s, d) =>
      PipelineOps.mixtureEpochPlan(Tables.documents(s, d))),
    // the cost model that justifies packing: per length bucket, the exact
    // pad-token waste and fill rate length-bucketed batching would pay —
    // read against q78's ~1.0 packed fill
    "q125_padding_waste"   -> ((s, d) =>
      PipelineOps.paddingWaste(Tables.documents(s, d))),
    // concat-and-chunk packing bookkeeping: per-doc offset + chunk span
    // from a two-pass distributed prefix sum (no global window)
    "q73_sequence_packing" -> ((s, d) =>
      PipelineOps.sequencePacking(Tables.documents(s, d))),
    // the packer's waste dashboard: chunk fill rate + doc straddle rate,
    // one global aggregate over the MATERIALIZED q73 snapshot (the
    // q59/q91 measures-vs-reads division — q73 itself stays the live
    // two-pass plan, so the prefix-sum cost is measured exactly once)
    "q78_packing_stats"    -> ((s, d) =>
      PipelineOps.packingStatsOf(packingShared(s, d))),
    // the packer's inverse map: chunk_id → ordered doc spans (the manifest
    // a trainer loads chunks by) — the q73 snapshot + one row-local explode
    "q82_chunk_composition" -> ((s, d) =>
      PipelineOps.chunkCompositionOf(packingShared(s, d))),
    // C4-style URL/domain dedup: row-local host extraction, canonical-per-
    // URL min agg, per-domain quality priors joined back broadcast
    "q83_url_dedup"        -> ((s, d) =>
      PipelineOps.urlDedup(Tables.documents(s, d))),
    // apply the q72 mixture: row-local hash-threshold downsample toward the
    // temperature-weighted target corpus (skew-proof; no per-stratum sort)
    "q76_mixture_sample"   -> ((s, d) =>
      PipelineOps.mixtureSample(Tables.documents(s, d))),
    // did the sample LAND the mixture? per stratum: demanded vs achieved
    // counts from the MATERIALIZED q76 snapshot, exact deviation, binomial
    // sigma, 3σ ok bit — closes the q72 → q76 loop
    "q129_mixture_realization" -> ((s, d) =>
      PipelineOps.mixtureRealization(mixtureKeptShared(s, d), Tables.documents(s, d))),
    // Hamilton largest-remainder apportionment of a global token budget
    // across sources: integer allocs summing EXACTLY to the budget —
    // floor + remainder-ranked top-up, all DECIMAL(38,0)/HUGEINT math
    "q131_token_allocation" -> ((s, d) =>
      PipelineOps.tokenAllocation(Tables.documents(s, d))),
    // §7.1 graft.ext — near-dup detection over `documents`
    "q36_minhash_signature" -> ((s, d) => DedupOps.minhashSignature(Tables.documents(s, d))),
    "q37_lsh_pairs"        -> ((s, d) => DedupOps.lshPairs(Tables.documents(s, d))),
    "q38_jaccard_pairs"    -> ((s, d) => DedupOps.jaccardPairs(Tables.documents(s, d))),
    // winnowing (MOSS): windowed-min k-gram fingerprints with the
    // ≥ K+W-1 shared-substring detection guarantee; doc-partitioned
    // window, df-capped pair join — the position-robust overlap detector
    "q135_winnow_pairs"    -> ((s, d) => DedupOps.winnowPairs(Tables.documents(s, d))),
    "q39_simhash"          -> ((s, d) => DedupOps.simhash(Tables.documents(s, d))),
    "q40_simhash_pairs"    -> ((s, d) => DedupOps.simhashPairs(Tables.documents(s, d))),
    "q62_simhash_lsh"      -> ((s, d) => DedupOps.simhashLshPairs(Tables.documents(s, d))),
    // exact substring-span dedup: maximal cross-doc repeated token spans
    // via k-gram fingerprints + per-doc gap-merge — the span-granular pass
    // doc-level fingerprints and minhash/simhash cannot express
    "q80_dup_spans"        -> ((s, d) => DedupOps.duplicateSpans(Tables.documents(s, d))),
    // the transformation half of q80: cut every duplicated span occurrence
    // except the globally first, emit the cleaned corpus (fingerprinted)
    "q84_span_scrub"       -> ((s, d) => DedupOps.spanScrub(Tables.documents(s, d))),
    // PII redaction over computed dirty text (q50/q81 pattern): counts AND
    // the scrubbed-text fingerprint are oracle-graded
    "q86_pii_scrub"        -> ((s, d) => TextOps.piiScrub(Tables.documents(s, d))),
    // Gopher repetition family: top-2-gram share + positional coverage of
    // within-doc duplicated 5-grams
    "q88_gopher_repetition" -> ((s, d) => TextOps.gopherRepetition(Tables.documents(s, d))),
    // per-(lang, source) quality rollup: doc counts, q61 keep rate, exact
    // corpus-level stop ratio — the dashboard a collapsing source trips
    "q90_source_quality"   -> ((s, d) => TextOps.sourceQuality(Tables.documents(s, d))),
    // cross-audit: LSH dedup recall vs the df-capped exact pass — a band
    // retune that craters candidate recall fails CORRECTNESS here. Reads
    // the MATERIALIZED q37/q38 pair snapshots (the q59 pattern): the
    // audit is a pipeline stage over persisted dedup outputs, so its
    // measured cost is three pair-table aggregates, not two re-derived
    // dedup passes over raw text
    "q91_dedup_audit"      -> ((s, d) =>
      DedupOps.dedupAudit(jaccardPairsShared(s, d), lshPairsShared(s, d))),
    // CCNet-style perplexity filter: per-doc avg bigram surprisal under a
    // corpus-trained add-one LM, exact micro-unit sums (q67's recipe)
    "q92_bigram_surprisal" -> ((s, d) => TextOps.bigramSurprisal(Tables.documents(s, d))),
    // vocabulary coverage curve: per frequency-threshold rung, vocab size
    // + token volume covered — the tokenizer-vocab sizing artifact
    "q111_vocab_coverage"  -> ((s, d) => TextOps.vocabCoverage(Tables.documents(s, d))),
    // DSIR importance weights: per-train-doc log-likelihood ratio between
    // bigram models fit on the q57 test split (target) and train split
    // (raw) — the data-SELECTION counterpart to q92's outlier filter
    "q95_dsir_weights"     -> ((s, d) => TextOps.dsirWeights(Tables.documents(s, d))),
    // the APPLY step of q95: Poisson importance resampling toward an
    // expected target size — reads the MATERIALIZED weight table (q59/q91
    // pattern), one guarded exp rounding, exact-integer normalizer,
    // replay-safe md5 draw
    "q102_dsir_resample"   -> ((s, d) => TextOps.dsirResample(
      Tables.documents(s, d), weights = Some(dsirWeightsShared(s, d)))),
    // model-based quality filtering (CCNet setup): NB log-odds linear
    // classifier over hashed token buckets, weak-supervised by the q61
    // heuristic on the q57 train split, scored corpus-wide — closed-form
    // integer-count weights so the score is hash-exact cross-engine
    "q101_quality_classifier" -> ((s, d) =>
      graft.ops.QualityModelOps.qualityClassifier(Tables.documents(s, d),
        Some(qualityLabelsShared(s, d)))),
    // the classifier's reliability curve vs the heuristic that supervised
    // it (the q99 calibration pattern) — reads the MATERIALIZED q101
    // score and q61 label snapshots; one bounded aggregate
    "q103_score_calibration" -> ((s, d) =>
      graft.ops.QualityModelOps.scoreCalibration(
        qualityScoresShared(s, d), qualityLabelsShared(s, d))),
    // exact binned ROC/AUC of the classifier vs its supervising heuristic
    // — the ranking-separation verdict q103's calibration doesn't give;
    // Mann-Whitney pairs counted exactly from the bounded bin histogram,
    // never a corpus-wide rank
    "q141_roc_auc"         -> ((s, d) =>
      graft.ops.QualityModelOps.rocAuc(
        qualityScoresShared(s, d), qualityLabelsShared(s, d))),
    // Cohen's kappa between the learned filter and its supervising
    // heuristic — chance-corrected label agreement, the third face of
    // label QA beside q103 calibration and q141 ranking
    "q226_label_agreement" -> ((s, d) =>
      graft.ops.QualityModelOps.labelAgreement(
        qualityScoresShared(s, d), qualityLabelsShared(s, d))),
    // PageRank over the symmetrized customer–supplier purchase graph:
    // exact integer micro-mass power iterations, checkpointed per round —
    // the canonical iterative message-passing workload
    // multi-source BFS: hop distance from at-risk suppliers over the
    // small-lot trading graph — frontier expansion, one exchange/round
    "q197_bfs_radius"      -> ((s, d) =>
      graft.ops.GraphOps.bfsBlastRadius(Tables.customer(s, d),
        Tables.supplier(s, d), Tables.orders(s, d), Tables.lineitem(s, d))),
    // k-core: the robust trading core via the cascading peel — degree
    // alone overcounts; survivors need K partners among THEMSELVES
    "q208_kcore"           -> ((s, d) =>
      graft.ops.GraphOps.kCore(Tables.customer(s, d),
        Tables.supplier(s, d), Tables.orders(s, d), Tables.lineitem(s, d))),
    "q140_pagerank"        -> ((s, d) =>
      graft.ops.GraphOps.pageRank(Tables.orders(s, d), Tables.lineitem(s, d))),
    // triangle/clustering-coefficient census of the near-dup pair graph
    // (degree-ordered counting): the transitivity evidence q66's
    // one-survivor-per-component policy rests on — reads the MATERIALIZED
    // q37 pair snapshot
    "q142_triangle_census" -> ((s, d) =>
      graft.ops.GraphOps.triangleCensus(lshPairsShared(s, d))),
    // collocation mining by exact lift: PMI-style phrase discovery with
    // the logarithm replaced by an exact integer cross-multiplication
    "q143_collocations"    -> ((s, d) =>
      TextOps.collocations(Tables.documents(s, d))),
    // first-order Markov transition census over event types: one
    // user-partitioned lead window into a bounded |types|² aggregate
    "q144_markov_transitions" -> ((s, d) =>
      RelationalOps.markovTransitions(Tables.events(s, d))),
    // Benford first-digit audit: the forensic-accounting population
    // screen over exact integer cents; χ² from micro-rounded terms
    "q146_benford_audit"   -> ((s, d) =>
      EventOps.benfordAudit(Tables.events(s, d))),
    // autocorrelation census: Pearson r of the hourly count series at
    // lags 1..24 — seasonality evidence from one bounded-table pass
    "q148_autocorrelation" -> ((s, d) =>
      RelationalOps.autocorrelation(Tables.events(s, d))),
    // RFM segmentation: binned quartile codes for recency/frequency/
    // monetary — never a corpus-wide user rank (the q128 pattern)
    "q149_rfm_segments"    -> ((s, d) =>
      RelationalOps.rfmSegments(Tables.events(s, d))),
    // co-purchase nearest neighbor (item-item collaborative filtering):
    // bipartite projection of the purchase graph, hot-customer capped
    "q150_copurchase_nn"   -> ((s, d) =>
      graft.ops.GraphOps.coPurchaseNeighbors(
        Tables.orders(s, d), Tables.lineitem(s, d))),
    // market-basket association rules: Apriori-at-2 with the exact
    // rational lift cut — basket cousin of q143's sequence collocations
    "q151_basket_rules"    -> ((s, d) =>
      RelationalOps.basketRules(Tables.lineitem(s, d))),
    // last-touch revenue attribution: purchases credited to the most
    // recent strictly-prior touch via the q48 as-of window, rolled to
    // the per-channel census
    "q152_attribution"     -> ((s, d) =>
      RelationalOps.lastTouchAttribution(Tables.events(s, d))),
    // mergeable distinct-user cube: one hash-exact HLL per day plus a
    // total row built by MERGING the daily registers — COUNT(DISTINCT)
    // over arbitrary ranges without re-scanning, the 100 TB way
    "q154_hll_daily_cube"  -> ((s, d) =>
      SketchOps.hllDailyCube(Tables.events(s, d))),
    // the question the cube answers: a 14-day range's distinct users by
    // MERGING stored daily sketches, graded against the exact distinct
    "q155_hll_range"       -> ((s, d) =>
      SketchOps.hllRangeEstimate(Tables.events(s, d))),
    // the q154/q155 pattern applied to percentiles: range p50/p95/p99 by
    // SUMMING stored per-day histograms, graded against the exact range
    // quantile via two-pass bin refinement — all integer math
    "q156_hist_range_quantiles" -> ((s, d) =>
      SketchOps.histRangeQuantiles(Tables.events(s, d))),
    // the cube trilogy's third leg: range TOP-K by merging stored per-day
    // top-K summaries, with SpaceSaving-style lower/upper bounds graded
    // against the exact range counts — never a rank-within-day window
    "q157_topk_range"      -> ((s, d) =>
      SketchOps.topkRangeCensus(Tables.events(s, d))),
    // SUM-mergeable Count-Min grid, hash-exact: point-frequency probes
    // with the never-underestimate guarantee graded, ghost keys exposing
    // pure collision mass
    "q158_countmin_census" -> ((s, d) =>
      SketchOps.countMinCensus(Tables.events(s, d))),
    // SymSpell deletion-neighborhood record linkage: every lev-1 name
    // pair via bounded-fan-out equi-joins — never an all-pairs compare;
    // the brute-definition oracle grades candidate COMPLETENESS
    "q159_edit_linkage"    -> ((s, d) =>
      DedupOps.editLinkagePairs(Tables.customer(s, d))),
    // radius-2 generalization: the full d<=2 op taxonomy (double-sub,
    // sub+indel, double-indel, equal-length ins+del) via five deletion-
    // neighborhood equi-join branches; brute oracle proves completeness
    "q177_edit_linkage_d2" -> ((s, d) =>
      DedupOps.editLinkageD2Pairs(Tables.customer(s, d))),
    // Z-ORDER layout audit: the q160 experiment under a Morton-coded
    // multi-dimensional layout — BOTH predicates become prunable, the
    // lesson Z-ORDER exists for; soundness graded per shard
    // file compaction plan (lakehouse OPTIMIZE): day-ordered roll of the
    // ingest files into contiguous target-size bins, cap/contiguity laws
    // per bin, conservation + bin-count laws on the sentinel row
    // columnar encoding choice: plain vs dictionary vs RLE per
    // (day-file, column) with exact byte ledgers — the writer's decision
    "q201_encoding_audit"  -> ((s, d) =>
      graft.ops.ScaleOps.encodingAudit(Tables.events(s, d))),
    "q179_compaction_plan" -> ((s, d) =>
      graft.ops.ScaleOps.compactionPlan(Tables.events(s, d))),
    // GDPR delete propagation: q173's tombstones priced against the q179
    // file layer — full rewrite vs deletion vector per file, the
    // write-amplification fact erasure planning exists for
    "q182_delete_amplification" -> ((s, d) =>
      graft.ops.ScaleOps.deleteAmplification(Tables.events(s, d))),
    // post-compaction zone audit: q179's clustering claim graded — the
    // q160 skip protocol re-run at bin granularity, with the day-range
    // disjointness that makes pruning survive OPTIMIZE
    "q185_compaction_zones" -> ((s, d) =>
      graft.ops.ScaleOps.compactionZoneAudit(Tables.events(s, d))),
    // join-order choice: the System-R uniformity estimate vs the exact
    // intermediates (count-collapse, plans never executed) and the one
    // bit the planner consumes — does the estimator rank them right
    "q186_join_order"      -> ((s, d) =>
      SketchOps.joinOrderAudit(Tables.customer(s, d), Tables.orders(s, d),
        Tables.lineitem(s, d))),
    // Hilbert layout: q175's bake-off re-run under the unit-locality
    // curve — same grid, shards, predicates; only the curve differs
    "q204_hilbert_audit"   -> ((s, d) =>
      graft.ops.ScaleOps.hilbertAudit(Tables.events(s, d))),
    "q175_zorder_audit"    -> ((s, d) =>
      graft.ops.ScaleOps.zOrderAudit(Tables.events(s, d))),
    // partition-key advisor: 3 candidate keys scored on balance + a
    // 3-predicate pruning workload in ONE stacked corpus pass
    "q216_partition_advisor" -> ((s, d) =>
      graft.ops.ScaleOps.partitionKeyAdvisor(Tables.events(s, d))),
    // cardinality-estimation q-error audit: the q169 stats estimating
    // probe selectivities off the 8-row histogram, graded beside exact
    // counts — the loop a database team runs to evaluate statistics
    "q174_selectivity_qerror" -> ((s, d) =>
      SketchOps.selectivityAudit(Tables.events(s, d))),
    // MERGE INTO / CDC apply: last-writer-wins upsert+delete against a
    // base snapshot — the Delta/Iceberg core op; winner per key is one
    // lexicographic struct MAX, never a rank window
    // robust outlier census: the reference's fixed fraud threshold
    // upgraded to exact per-day median/MAD flags, graded side by side
    "q187_robust_outliers" -> ((s, d) =>
      RelationalOps.robustOutliers(Tables.events(s, d))),
    // dollar-weighted vs count median per day — the tail-heaviness pair,
    // both exact selections over the shared bounded value-count table
    "q209_weighted_median" -> ((s, d) =>
      RelationalOps.weightedMedian(Tables.events(s, d))),
    // growth accounting: active/new/returning per day + cumulative
    // uniques as Σ new — never a running COUNT(DISTINCT) window
    "q213_growth_accounting" -> ((s, d) =>
      RelationalOps.growthAccounting(Tables.events(s, d))),
    // seasonal (dow × hour) traffic profile + per-cell deseasonalized
    // anomaly census — q187's posture with the calendar structure
    "q214_seasonal_census" -> ((s, d) =>
      RelationalOps.seasonalCensus(Tables.events(s, d))),
    // recency-decayed vs all-time leaderboard — exact dyadic half-life,
    // both top-Ns TakeOrdered, flips surfaced
    "q217_decayed_leaderboard" -> ((s, d) =>
      RelationalOps.decayedLeaderboard(Tables.events(s, d))),
    // Theil–Sen median-of-slopes daily trend beside its OLS twin —
    // exact milli slopes, sign outside the floor, bounded pair table
    "q218_robust_trend" -> ((s, d) =>
      RelationalOps.robustTrend(Tables.events(s, d))),
    // native PIVOT crosstab (status × priority) with margins, the
    // conservation law, unseen-value safety, and exact independence devs
    "q220_pivot_census" -> ((s, d) =>
      RelationalOps.pivotCensus(Tables.orders(s, d))),
    // cohort LTV curve: cumulative revenue per cohort member by age —
    // the revenue twin of the q138 retention triangle, laws graded
    "q222_cohort_ltv" -> ((s, d) =>
      RelationalOps.cohortLtv(Tables.events(s, d))),
    // per-nation supplier concentration: exact HHI / Gini / top-share
    "q210_concentration"   -> ((s, d) =>
      RelationalOps.concentrationCensus(Tables.supplier(s, d), Tables.lineitem(s, d))),
    // top walked event-type trigrams — counted paths, not a Markov
    // reconstruction; two lags, one bounded count, TakeOrdered top-N
    "q211_journeys"        -> ((s, d) =>
      RelationalOps.journeyCensus(Tables.events(s, d))),
    // Deequ-class profiling: per-column completeness/distinctness/
    // uniqueness in ONE Expand-planned pass, and the candidate-key/FD/
    // denial-constraint audit with exact violation counts
    "q188_data_profile"    -> ((s, d) =>
      graft.ops.ProfileOps.columnProfile(Tables.orders(s, d))),
    // migration reconciliation: row-fingerprint diff census of orders vs
    // its rule-derived "migrated copy" — one co-keyed full-outer join,
    // conservation laws graded
    "q212_table_diff"      -> ((s, d) =>
      graft.ops.ProfileOps.tableDiff(Tables.orders(s, d))),
    // the q212 census over BUCKETED landed sides: same rows (same oracle
    // SQL verbatim), but the corpus-scale full-outer runs with ZERO
    // exchanges — the storage-layout claim, oracle-graded (plan guard in
    // SourceSinksSpec)
    "q224_bucketed_diff"   -> ((s, d) => {
      val (a, b) = bucketedDiffTables(s, d)
      graft.ops.ProfileOps.tableDiffFromSides(a, b)
    }),
    // GROUP BY time(1h) fill(previous): the Grafana panel series, exact
    "q190_resample_ffill"  -> ((s, d) =>
      RelationalOps.resampleFill(Tables.events(s, d))),
    // PromQL rate(): per-pair increase under counter-reset handling
    "q191_counter_rate"    -> ((s, d) =>
      RelationalOps.counterRate(Tables.events(s, d))),
    // alert rules with for: duration — pending until held 12h, then
    // fires AT the transition instant; the reference's alert, production-shaped
    "q192_alert_firing"    -> ((s, d) =>
      RelationalOps.alertFiring(Tables.events(s, d))),
    // Page's CUSUM: persistent upward drift no single observation
    // reveals — prefix-sum-minus-running-min closed form, exact cents
    "q193_cusum_drift"     -> ((s, d) =>
      RelationalOps.cusumDrift(Tables.events(s, d))),
    "q189_constraint_audit" -> ((s, d) =>
      graft.ops.ProfileOps.constraintAudit(Tables.lineitem(s, d))),
    // tabular drift census: drop-over-drop TVD per monitored feature —
    // the table monitor; null-effect on this stationary corpus, graded
    "q206_drift_census"    -> ((s, d) =>
      graft.ops.ProfileOps.driftCensus(Tables.events(s, d))),
    // time travel: AS OF snapshots = base + LWW collapse of the log
    // PREFIX per cutoff — no stored snapshots; v4 IS q173's table
    "q183_time_travel"     -> ((s, d) =>
      RelationalOps.cdcTimeTravel(Tables.customer(s, d), Tables.events(s, d))),
    "q173_cdc_merge"       -> ((s, d) =>
      RelationalOps.cdcMerge(Tables.customer(s, d), Tables.events(s, d))),
    // CMS inner-product join-cardinality estimate: the planner's number
    // — self-join size bounded from two 1 KB sketches, the overestimate
    // theorem graded against the exact Σc²
    "q172_join_cardinality" -> ((s, d) =>
      SketchOps.cmsJoinCardinality(Tables.events(s, d))),
    // theta-sketch set algebra: union/intersection/difference estimates
    // from two bounded sketches at the common θ — what HLL cannot do
    "q194_theta_sets" -> ((s, d) =>
      SketchOps.thetaSets(Tables.orders(s, d))),
    // mergeable quantile estimation: bottom-K sample with payload,
    // ceil-rank selection, exact rank audit + the err <= N/10 law
    "q202_quantile_sample" -> ((s, d) =>
      SketchOps.quantileSample(Tables.events(s, d))),
    // 2-D skyline (Pareto frontier): the cheapest-for-its-size staircase
    // via grid decomposition — bucket-partitioned window + bounded
    // prefix pruning, never an all-pairs join; graded vs the definition
    "q171_skyline"         -> ((s, d) =>
      RelationalOps.skylineParts(Tables.part(s, d))),
    // TWAP per user: interval-weighted mean — the aggregate plain AVG
    // gets wrong under irregular sampling; exact HUGEINT weights
    "q170_twap"            -> ((s, d) =>
      RelationalOps.twapPerUser(Tables.events(s, d))),
    // ANALYZE-statistics build: exact NDV/nulls/min-max + equi-depth
    // boundaries via the q156 two-pass bin refinement — optimizer stats
    // without a corpus sort
    "q169_equidepth_stats" -> ((s, d) =>
      SketchOps.equiDepthStats(Tables.events(s, d))),
    // consistent-hashing reshard audit: exact moved-key counts under
    // mod vs ring when 16 shards grow to 20 — the artifact that prices
    // a reshard; successor lookup via the bucketed-candidate trick
    "q167_reshard_audit"   -> ((s, d) =>
      graft.ops.ScaleOps.reshardAudit(Tables.events(s, d))),
    // A/B experiment census: md5 arm assignment (never rand()), exact
    // per-arm conversion counts, pooled two-proportion z — the
    // experimentation-platform query, with a deterministic verdict
    // Wald's SPRT: the sequential sibling of q168 — per (rule, arm) the
    // exact-integer LLR walk, first boundary crossing, decision sample size
    "q196_sprt"            -> ((s, d) =>
      RelationalOps.sprtCensus(Tables.events(s, d))),
    "q168_ab_test"         -> ((s, d) =>
      RelationalOps.abTestCensus(Tables.events(s, d))),
    // exact bitmap distinct cube: the dense-key EXACT counterpart of
    // q154 — OR-mergeable per-day user bitmaps whose popcount equals the
    // direct distinct, total row built by merging the daily word tables
    "q166_bitmap_cube"     -> ((s, d) =>
      SketchOps.bitmapDailyCube(Tables.events(s, d))),
    // Roaring container choice: q166's production refinement — per
    // (day, 1024-wide block) the cheaper exact representation (sorted
    // array vs bit block) at the true 2n-vs-width/8 crossover, with the
    // popcount law per kind and the policy ledger per day
    "q178_roaring_cube"    -> ((s, d) =>
      SketchOps.roaringCube(Tables.events(s, d))),
    // run containers, graded where each kind wins: sequential event_ids
    // (one run per day) collapse under run containers, value-shaped
    // cents stay array/bitmap — one container algebra, three kinds
    "q181_roaring_runs"    -> ((s, d) =>
      SketchOps.roaringRunsCube(Tables.events(s, d))),
    // SCD2 state history via gaps-and-islands: value-change runs per
    // user as [from, to) intervals with the open current row — the
    // warehouse dimension build from a raw change log
    "q165_scd2_intervals"  -> ((s, d) =>
      RelationalOps.scd2Intervals(Tables.events(s, d))),
    // bottom-k uniform sample: fixed-size mergeable sampling (KMV with
    // payloads) through the q157 bounded-state selection — plus the
    // sample-vs-exact estimator qualification it exists for
    "q164_bottomk_sample"  -> ((s, d) =>
      PipelineOps.bottomkSample(Tables.documents(s, d))),
    // weighted bottom-k sample (Efraimidis–Spirakis A-Res): q164's
    // machinery with exact-integer u^(1/w) keys via the max-of-w-replicas
    // identity — inclusion biased by clipped token mass, still
    // deterministic, replay-safe, and shard-mergeable
    "q176_weighted_bottomk" -> ((s, d) =>
      PipelineOps.weightedBottomkSample(Tables.documents(s, d))),
    // k-anonymity audit: re-identification risk through quasi-identifier
    // classes up a generalization ladder — k and the at-risk set are
    // provably monotone level-over-level, both graded
    // l-diversity: the attribute-disclosure audit — distinct-ℓ and
    // recursive (c,2)-diversity per QI class up the region ladder
    "q195_l_diversity"     -> ((s, d) =>
      PipelineOps.lDiversityAudit(Tables.customer(s, d), Tables.nation(s, d))),
    // t-closeness: the trilogy's distributional law — exact integer TVD
    // per class (absent-value mass included) up the same ladder
    "q205_t_closeness"     -> ((s, d) =>
      PipelineOps.tClosenessAudit(Tables.customer(s, d), Tables.nation(s, d))),
    "q180_k_anonymity"     -> ((s, d) =>
      PipelineOps.kAnonymityAudit(Tables.customer(s, d))),
    // weighted stratified sample: the cell completing the sampling
    // matrix — exactly min(K, n) docs PER LANGUAGE, token-mass-biased
    // via the q176 exact-integer A-Res keys, per-stratum mergeable
    "q184_weighted_stratified" -> ((s, d) =>
      PipelineOps.weightedStratifiedSample(Tables.documents(s, d))),
    // HLL grouping-sets rollup: registers built ONCE at (day, type)
    // grain; every coarser level MAX-merged from that store and graded
    // against its own exact distinct — one sketch build, every rollup
    "q163_hll_rollup"      -> ((s, d) =>
      SketchOps.hllRollupCube(Tables.events(s, d))),
    // hourly burst detector: truncated dyadic EWMA baseline with the
    // cross-multiplied integer burst rule — anomaly detection without
    // an IEEE division deciding the flag
    "q162_burst_detector"  -> ((s, d) =>
      RelationalOps.burstDetector(Tables.events(s, d))),
    // bloom-filter semi-join pruning: the constant-size broadcast that
    // replaces shipping a too-big build side; per-day survivor/fp census
    // with the no-false-negative guarantee graded
    "q161_bloom_prune"     -> ((s, d) =>
      SketchOps.bloomPruneCensus(Tables.events(s, d))),
    // zone-map / data-skipping audit: per day-shard min/max stats, two
    // predicates' prune decisions, and the skip⇒zero-matches soundness
    // law — the storage-layout evidence, graded
    "q160_zonemap_audit"   -> ((s, d) =>
      graft.ops.ScaleOps.zoneMapAudit(Tables.events(s, d))),
    // join-key skew audit: per (table, key), the distribution evidence
    // (max/top-1% shares, CV) that picks salting vs plain hashing —
    // exact metrics off the bounded count-of-counts table
    "q153_key_skew"        -> ((s, d) =>
      graft.ops.ScaleOps.keySkewAudit(Seq(
        ("events", "user_id", Tables.events(s, d)),
        ("orders", "o_custkey", Tables.orders(s, d)),
        ("lineitem", "l_suppkey", Tables.lineitem(s, d)),
        ("lineitem", "l_partkey", Tables.lineitem(s, d))))),
    // per-user round-number affinity: whole-dollar share vs the corpus
    // base rate as a binomial z — the per-entity forensic screen
    "q147_round_affinity"  -> ((s, d) =>
      EventOps.roundNumberAffinity(Tables.events(s, d))),
    // Johnson–Lindenstrauss projection + distortion census: exact int64
    // coordinates against deterministic integer planes, one row-local pass
    "q145_jl_projection"   -> ((s, d) =>
      SimilarityOps.jlProjection(Tables.embeddings(s, d))),
    // soft dedup: every doc kept, downweighted by near-dup cluster
    // multiplicity — reads the MATERIALIZED q66 cluster table (q59 pattern)
    "q97_softdedup_weights" -> ((s, d) =>
      graft.ops.GraphOps.softDedupWeights(clustersShared(s, d))),
    // quality-aware canonical selection: per near-dup cluster, keep the
    // member the q101 model scores highest (tie-break min doc_id) — the
    // "keep the best copy" upgrade of q66's min-id rule; reads the
    // MATERIALIZED q66 cluster and q101 score tables
    "q106_cluster_canon"   -> ((s, d) =>
      graft.ops.GraphOps.clusterCanon(clustersShared(s, d),
        qualityScoresShared(s, d))),
    // the threshold-picking curve: per descending q101 score bin, the
    // cumulative doc/token volume a "keep at least this bin" cut retains —
    // reads the MATERIALIZED q101 score snapshot (q103 pattern)
    "q108_quality_token_curve" -> ((s, d) =>
      graft.ops.QualityModelOps.qualityTokenCurve(
        qualityScoresShared(s, d), Tables.documents(s, d))),
    // apply the q108 operating threshold: the highest score bin covering
    // the fixed token budget becomes the cut; emits the kept doc set —
    // the decision the q101→q103→q108 chain drives. Reads the
    // MATERIALIZED q101 score snapshot (q103/q108 pattern)
    "q123_quality_budget_cut" -> ((s, d) =>
      graft.ops.QualityModelOps.qualityBudgetCut(
        qualityScoresShared(s, d), Tables.documents(s, d))),
    // per-language quality-score distribution census: exact binned
    // median/p95 per lang over the bounded q103 bin table — the fairness
    // artifact read before applying the ONE corpus-wide q123 cut; never
    // a per-language rank (the q58 lesson)
    "q128_lang_score_census" -> ((s, d) =>
      graft.ops.QualityModelOps.langScoreCensus(
        qualityScoresShared(s, d), Tables.documents(s, d))),
    // per-language tokenizer fertility/compression over the persisted q77
    // merge artifact — tokenization fused into one scan, no join back
    "q96_tokenizer_fertility" -> ((s, d) =>
      graft.ops.BpeOps.tokenizerFertility(Tables.documents(s, d), bpeMergesShared(s, d))),
    // the capstone RENDER: what q71 decides, this emits — the computed
    // dirty text (raw-web stand-in) span-scrubbed (q84), PII-redacted
    // (q86), fingerprinted, with the q71 keep verdict attached. The
    // artifact a training run actually reads.
    "q89_corpus_render"    -> ((s, d) => {
      val docs = Tables.documents(s, d)
      import org.apache.spark.sql.functions.col
      val dirty = docs.selectExpr("doc_id", s"${TextOps.DirtyExpr} AS text")
      val rendered = DedupOps.spanScrubText(dirty)
        .selectExpr("doc_id", s"${TextOps.piiRedact("clean_text")} AS final_text")
        .selectExpr("doc_id",
          "CAST(size(split(final_text, ' ')) AS BIGINT) AS final_tokens",
          "md5(final_text) AS final_fp")
      val quality = TextOps.trainingFilter(docs)
        .select(col("doc_id"), col("keep").as("quality_ok"))
      val dedup = clustersShared(s, d)
        .select(col("doc_id"), col("keep").as("dedup_keep"))
      val verdict = PipelineOps.ngramContamination(docs).select("doc_id", "contaminated")
        .join(quality, "doc_id").join(dedup, "doc_id")
        .selectExpr("doc_id", "quality_ok AND dedup_keep AND NOT contaminated AS keep")
      rendered.join(verdict, "doc_id")
        .select("doc_id", "keep", "final_tokens", "final_fp")
        // r16: materialize before the presentation sort — the range
        // sampler re-executes everything above the last shuffle, here
        // the PII redact + render fingerprint projections
        .localCheckpoint()
        .orderBy("doc_id")
    }),
    // the corpus CARD: the one-row datasheet a corpus release publishes —
    // size, language/source spread, near-dup rate (from the MATERIALIZED
    // q66 snapshot), q61 quality keep rate, q70 eval-contamination rate,
    // PII volume. Everything is an exact integer aggregate composed from
    // individually hash-verified components; the three rates are single
    // IEEE divisions. All five inputs reduce to one-row aggregates
    // broadcast into a single output row — at 100 TB this costs the
    // component scans, never a wide join.
    "q98_corpus_card"      -> ((s, d) => {
      val docs = Tables.documents(s, d)
      import org.apache.spark.sql.functions._
      val base = docs.agg(
        count(lit(1)).as("n_docs"),
        sum(expr("CAST(size(split(text, ' ')) AS BIGINT)")).as("total_tokens"),
        countDistinct(col("lang")).as("n_langs"),
        countDistinct(col("source")).as("n_sources"))
      val clusters = clustersShared(s, d).agg(
        sum(when(col("keep"), 1L).otherwise(0L)).as("n_clusters"))
      val quality = TextOps.trainingFilter(docs).agg(
        sum(when(col("keep"), 1L).otherwise(0L)).as("n_quality_keep"))
      val contam = PipelineOps.ngramContamination(docs).agg(
        count(lit(1)).as("n_train_docs"),
        sum(when(col("contaminated"), 1L).otherwise(0L)).as("n_contaminated"))
      val pii = TextOps.piiScrub(docs).agg(
        sum(expr("n_emails + n_phones + n_ips")).as("n_pii"))
      base.crossJoin(broadcast(clusters)).crossJoin(broadcast(quality))
        .crossJoin(broadcast(contam)).crossJoin(broadcast(pii))
        .selectExpr("n_docs", "total_tokens", "n_langs", "n_sources",
          "n_clusters",
          "CAST(n_docs - n_clusters AS DOUBLE) / CAST(n_docs AS DOUBLE) AS dup_rate",
          "n_quality_keep",
          "CAST(n_quality_keep AS DOUBLE) / CAST(n_docs AS DOUBLE) AS quality_keep_rate",
          "n_train_docs", "n_contaminated",
          "CAST(n_contaminated AS DOUBLE) / CAST(n_train_docs AS DOUBLE) AS contamination_rate",
          "n_pii")
    }),
    // the END-TO-END curation manifest: the full batch DAG — q89's render
    // chain (dirty text → q84 span scrub → q86 PII redact) supplying final
    // token counts + fingerprints, q106 canon survivorship, the q123
    // corpus-wide budget cut, the q113 cluster-atomic leak-free split, and
    // the q100 shard rule — composed into the per-(split, shard) release
    // manifest with an order-independent bit_xor content fingerprint.
    // Every stage is individually hash-verified; this grades that they
    // COMPOSE (stage order + survivor semantics pinned end-to-end). Reads
    // the MATERIALIZED render snapshot (q89 stays the live measured
    // render plan — the q59/q91 division).
    "q122_curation_manifest" -> ((s, d) =>
      PipelineOps.curationManifest(
        renderedShared(s, d),
        graft.ops.GraphOps.clusterCanon(clustersShared(s, d),
          qualityScoresShared(s, d)),
        graft.ops.QualityModelOps.qualityBudgetCut(
          qualityScoresShared(s, d), Tables.documents(s, d)),
        PipelineOps.leakFreeSplit(clustersShared(s, d)))),
    // the curation FUNNEL: one row of stage-by-stage survivor counts
    // through the q122 DAG (corpus → canon → budget cut → both → per
    // leak-free split) — the release dashboard that makes q122's
    // survivor semantics legible; every figure one bounded aggregate
    // over the same materialized snapshots, folded broadcast
    "q132_curation_funnel" -> ((s, d) => {
      import org.apache.spark.sql.functions._
      val docs = Tables.documents(s, d)
      val canonIds = graft.ops.GraphOps.clusterCanon(clustersShared(s, d),
        qualityScoresShared(s, d)).filter(col("canon")).select("doc_id")
      val keptIds = graft.ops.QualityModelOps.qualityBudgetCut(
        qualityScoresShared(s, d), docs).select("doc_id")
      val surv = canonIds.join(keptIds, "doc_id")
        .join(PipelineOps.leakFreeSplit(clustersShared(s, d))
          .select("doc_id", "split"), "doc_id")
      docs.agg(count(lit(1)).as("n_docs"))
        .crossJoin(broadcast(canonIds.agg(count(lit(1)).as("n_canon"))))
        .crossJoin(broadcast(keptIds.agg(count(lit(1)).as("n_budget_kept"))))
        .crossJoin(broadcast(surv.agg(
          count(lit(1)).as("n_survivors"),
          sum(when(col("split") === "train", 1L).otherwise(0L)).as("n_train"),
          sum(when(col("split") === "val", 1L).otherwise(0L)).as("n_val"),
          sum(when(col("split") === "test", 1L).otherwise(0L)).as("n_test"))))
        .selectExpr("n_docs", "n_canon", "n_budget_kept", "n_survivors",
          "n_train", "n_val", "n_test",
          "CAST(n_survivors AS DOUBLE) / CAST(n_docs AS DOUBLE) AS survival_rate")
    }),
    // incremental ingest dedup: the arriving batch (one source partition)
    // vs the standing corpus — broadcast increment bands, corpus probed
    // in place
    "q69_incremental_dedup" -> ((s, d) => {
      val (corpus, inc) = DedupOps.incrementSplit(Tables.documents(s, d))
      DedupOps.incrementalLshPairs(corpus, inc)
    }),
    // the per-arriving-doc admission verdict (dup-of/novel + best match)
    // over the MATERIALIZED q69 pair snapshot — the ingest changelog
    "q116_increment_report" -> ((s, d) =>
      DedupOps.incrementReport(Tables.documents(s, d), incrementPairsShared(s, d))),
    // §7.1 graft.ext — similarity search over `embeddings`
    "q42_knn_brute"        -> ((s, d) => SimilarityOps.knnBruteForce(Tables.embeddings(s, d))),
    // hybrid search: BM25 + vector rankers fused on ranks alone (RRF,
    // exact integer contributions) — incommensurable scores never meet
    // per-language characteristic keyterms by exact cross-multiplied
    // lift (the c-TF-IDF ask without the logarithm) — vocab-bounded
    "q219_class_keyterms"  -> ((s, d) =>
      TextOps.classKeyterms(Tables.documents(s, d))),
    // Fisher class-separability of the embedding clouds — exact
    // rational on the (label, d) collapse, DECIMAL/HUGEINT carried
    "q221_fisher_separability" -> ((s, d) =>
      SimilarityOps.fisherSeparability(Tables.embeddings(s, d))),
    // ranking agreement: overlap / Kendall pairs / footrule between the
    // same two rankers q199 fuses — bounded-list integer census
    "q215_rank_agreement"  -> ((s, d) =>
      SimilarityOps.rankAgreement(Tables.documents(s, d), Tables.embeddings(s, d))),
    "q199_rank_fusion"     -> ((s, d) =>
      SimilarityOps.rankFusion(Tables.documents(s, d), Tables.embeddings(s, d))),
    // filtered vector search: pre-filter exact vs post-filter IVF on a
    // shared index — the measured recall loss IS the artifact
    "q200_filtered_ann"    -> ((s, d) =>
      SimilarityOps.filteredAnn(Tables.embeddings(s, d))),
    // contrastive-training mining: per anchor, the top-k closest vectors
    // with a DIFFERENT label (the closest impostors) — q42's broadcast
    // scan shape with label disagreement in the join condition
    "q104_hard_negatives"  -> ((s, d) => SimilarityOps.hardNegatives(Tables.embeddings(s, d))),
    "q43_ann_lsh"          -> ((s, d) => SimilarityOps.annLsh(Tables.embeddings(s, d))),
    // semantic decontamination: per train-split vector, max cosine vs the
    // test split (the embedding-space analog of q70's n-gram check) —
    // eval side broadcast, corpus scanned once, struct-max argmax
    "q109_semantic_contamination" -> ((s, d) =>
      SimilarityOps.semanticContamination(Tables.embeddings(s, d))),
    "q44_label_centroids"  -> ((s, d) => SimilarityOps.labelCentroids(Tables.embeddings(s, d))),
    "q45_embedding_dups"   -> ((s, d) => SimilarityOps.embeddingDups(Tables.embeddings(s, d))),
    "q55_ivf_ann"          -> ((s, d) => SimilarityOps.ivfAnn(Tables.embeddings(s, d))),
    // SemDeDup: paraphrase-level dedup in embedding space — cluster-bucketed
    // cosine, keep the lowest-id representative per duplicate set
    "q85_semantic_dedup"   -> ((s, d) => SimilarityOps.semanticDedup(Tables.embeddings(s, d))),
    // distributed Lloyd k-means: the centroid-training half the IVF /
    // SemDeDup cell consumers assume; broadcast centroids, row-local argmin
    "q87_kmeans"           -> ((s, d) => SimilarityOps.kmeans(Tables.embeddings(s, d))),
    // k-means convergence trace: per-round member count + exact micro-unit
    // inertia (Lloyd ⇒ non-increasing total) — the monitoring rows a real
    // clustering job watches to pick its round budget. Aggregates the
    // MATERIALIZED per-round trace (q59/q91 pattern) instead of re-running
    // Lloyd; q87 stays the live measured plan
    "q94_kmeans_inertia"   -> ((s, d) =>
      SimilarityOps.kmeansInertiaOf(kmeansRoundsShared(s, d))),
    // convergence-terminated Lloyd: the q87 recipe run to the q94 stopping
    // signal — per paid round the full assignment + exact inertia, with
    // `stopped` marking an eps-rule stop (vs cap exhaustion); the oracle
    // unrolls the shared round budget and re-derives the same stop round
    "q121_kmeans_converged" -> ((s, d) =>
      SimilarityOps.kmeansConvergedTrace(Tables.embeddings(s, d))),
    // cluster-balanced (topic-balancing) sample: equal per-cell allocation
    // over the k-means cells via the q58/q76 hash-threshold keep rule —
    // reads the MATERIALIZED q87 round trace's final assignment
    "q107_cell_balanced_sample" -> ((s, d) => {
      import org.apache.spark.sql.functions.col
      SimilarityOps.cellBalancedSample(
        kmeansRoundsShared(s, d)
          .filter(col("round_no") === SimilarityOps.KmeansRounds.toLong)
          .select("vec_id", "cell"))
    }),
    // IVF index health: per-cell posting-list size / share / balance
    // factor over the MATERIALIZED q87 trace (the load-balance twin of
    // q110's quality report)
    "q115_ivf_health" -> ((s, d) => {
      import org.apache.spark.sql.functions.col
      SimilarityOps.ivfHealth(
        kmeansRoundsShared(s, d)
          .filter(col("round_no") === SimilarityOps.KmeansRounds.toLong)
          .select("vec_id", "cell"))
    }),
    // cluster-quality report: per-cell cohesion / separation / simplified
    // silhouette under the final partition's own induced centroids — reads
    // the MATERIALIZED q87 round trace (q94/q107 pattern)
    "q110_cluster_quality" -> ((s, d) => {
      import org.apache.spark.sql.functions.col
      SimilarityOps.clusterQuality(
        kmeansRoundsShared(s, d)
          .filter(col("round_no") === SimilarityOps.KmeansRounds.toLong)
          .select("vec_id", "cell"),
        Tables.embeddings(s, d))
    }),
    // int8 symmetric storage quantization with per-vector error reporting
    "q74_embedding_quantize" -> ((s, d) =>
      SimilarityOps.quantizeInt8(Tables.embeddings(s, d))),
    // exact mean/covariance moment table over the embedding column — the
    // PCA/whitening/OPQ prep artifact and the drift census between
    // embedding-model versions; upper-triangle products explode straight
    // into a map-combinable aggregate (no self-join, D² states shuffle)
    "q124_embedding_moments" -> ((s, d) =>
      SimilarityOps.embeddingMoments(Tables.embeddings(s, d))),
    // corpus-trained per-dimension affine SQ8 dial (FAISS ScalarQuantizer
    // form) + per-dimension error census — the accept/reject evidence for
    // shipping the 4x-compressed serving corpus; one bounded dial aggregate
    // broadcast back, everything else row-local
    "q133_scalar_quant_census" -> ((s, d) =>
      SimilarityOps.scalarQuantCensus(Tables.embeddings(s, d))),
    // per-label centroid cosine between two md5-dealt corpus halves — the
    // drift census an index rebuild or model-version bump reads first;
    // count factors cancel, so cosine runs on exact integer sum vectors
    "q127_embedding_drift" -> ((s, d) =>
      SimilarityOps.embeddingDrift(Tables.embeddings(s, d))),
    // one-row embedding integrity census (null/ragged/zero-norm counts +
    // exact quantized-norm² stats) — run before trusting the column
    "q118_embedding_audit"  -> ((s, d) =>
      SimilarityOps.embeddingAudit(Tables.embeddings(s, d))),
    // search over the compressed corpus: full-precision query vs int8 codes
    "q75_adc_ann"          -> ((s, d) =>
      SimilarityOps.adcAnn(Tables.embeddings(s, d))),
    // cross-modal: text near-dup pairs (LSH) enriched with embedding cosine.
    // Reads the persisted q37 pair table (lshPairsShared) — measured cost is
    // the two co-keyed vector gathers, not a second LSH run.
    "q59_crossmodal_dups"  -> ((s, d) => SimilarityOps
      .pairCosine(lshPairsShared(s, d), Tables.embeddings(s, d))
      .select("a_id", "b_id", "jac", "cos").orderBy("a_id", "b_id")),
    // the SemDeDup-threshold calibration curve over the same enriched
    // pair table: cosine-bin histogram vs text-dup agreement
    "q99_cosine_calibration" -> ((s, d) => SimilarityOps.cosineCalibration(
      SimilarityOps.pairCosine(lshPairsShared(s, d), Tables.embeddings(s, d)))),
    // §7.1 graft.ext — multimodal plumbing, all three decodes REAL and
    // graded against decoder-free computed oracles. Each reads the
    // MATERIALIZED media corpus snapshot (the q37/q73 reads-vs-measures
    // division): synthesis is fixture generation priced once; the decode
    // is the measured operator.
    "q50_media_features"   -> ((s, d) =>
      graft.multimodal.MediaOps.mediaFeatureStatsOf(mediaShared(s, d))),
    // the resize leg graded: real decode -> nearest-neighbor 4x4
    // thumbnail, checksummed — the oracle resamples decoder-free
    "q207_thumbnail"       -> ((s, d) =>
      graft.multimodal.MediaOps.thumbnailCensus(Tables.documents(s, d))),
    // image perceptual near-dup: 64-bit dHash over the real decoded
    // rasters, 4x16 bands (pigeonhole-complete at Hamming<=3), planted
    // brightness twins, exact popcount verify
    "q223_image_dhash"     -> ((s, d) =>
      graft.multimodal.MediaOps.dhashNearDup(Tables.documents(s, d))),
    // image dedup end-to-end: q223 pairs -> transitive clusters -> the
    // per-image KEEP/DROP decision (the q66 stage for the image modality)
    "q225_image_dhash_clusters" -> ((s, d) =>
      graft.multimodal.MediaOps.dhashClusters(Tables.documents(s, d))),
    // incremental image dedup: the arriving re-crawl batch (perturbed
    // twins) probes the STANDING band index via broadcast — the q69
    // ingest shape for the image modality, no corpus-side pair recompute
    "q227_image_increment_dedup" -> ((s, d) =>
      graft.multimodal.MediaOps.incrementalDhashPairs(Tables.documents(s, d))),
    // audio near-dup: 64-bit energy-contour fingerprint over the REAL
    // decoded PCM, planted amplitude twins, then the q223 band/cap/
    // popcount stage verbatim — the modality matrix's audio row
    "q228_audio_fingerprint_dup" -> ((s, d) =>
      graft.multimodal.MediaOps.audioNearDup(Tables.documents(s, d))),
    // video near-dup: container parse + REAL frame-0 decode -> keyframe
    // dHash -> the same shared band/cap/popcount stage — the modality
    // matrix's last row, one banded primitive across all three media
    "q229_video_keyframe_dup" -> ((s, d) =>
      graft.multimodal.MediaOps.videoKeyframeDup(Tables.documents(s, d))),
    // audio modality: RIFF/PCM16 payloads parsed by the JDK's WAVE reader
    // — format fields + an order-stable PCM sample checksum; the kind
    // predicate is pushed to the snapshot's parquet scan
    "q81_audio_features"   -> ((s, d) =>
      graft.multimodal.MediaOps.audioFeatureStatsOf(mediaShared(s, d))),
    // video modality: motion-PNG containers parsed and every frame
    // rasterized by ImageIO — frame count, dims, ordered checksum
    "q93_video_features"   -> ((s, d) =>
      graft.multimodal.MediaOps.videoFeatureStatsOf(mediaShared(s, d))),
  )

  def oracleSql: Map[String, String] = Map(
    "q01_fraud_filter" ->
      "SELECT event_id, user_id, value, ts FROM events WHERE value > 100.0 ORDER BY event_id",
    "q02_top10_by_user" ->
      """SELECT user_id, SUM(CAST(ROUND(value * 100) AS BIGINT)) / 100.0 AS total_value,
                COUNT(*) AS n_txn
         FROM events WHERE value > 100.0
         GROUP BY user_id ORDER BY total_value DESC, user_id LIMIT 10""",
    "q03_stats" ->
      """SELECT MIN(value) AS min_value, MAX(value) AS max_value,
                SUM(CAST(ROUND(value * 100) AS BIGINT)) / 100.0 AS total_value,
                COUNT(*) AS n_txn
         FROM events WHERE value > 100.0""",
    "q04_latest_n" ->
      """SELECT ts, user_id, value, event_id FROM events WHERE value > 100.0
         ORDER BY ts DESC, event_id DESC LIMIT 20""",
    // q203: the same row-local window fan-out (range() unnest = explode
    // sequence), the same integer-DIV hop cells and exact micro mean
    "q203_hopping_mean" -> {
      val hop = graft.ops.EventOps.HopUs
      val w = graft.ops.EventOps.HopWindows
      s"""WITH o AS (SELECT user_id, epoch_us(ts) AS us,
                            CAST(ROUND(value * 100) AS BIGINT) AS cents
                     FROM events WHERE value IS NOT NULL),
              f AS (SELECT user_id, cents,
                           (us // $hop - t.i) * $hop AS win_start_us
                    FROM o, range(0, $w) t(i))
         SELECT user_id, win_start_us,
                CAST(win_start_us + ${w * hop} AS BIGINT) AS win_end_us,
                CAST(COUNT(*) AS BIGINT) AS n_obs,
                CAST(SUM(cents) AS BIGINT) AS sum_cents,
                CAST(1000000 * SUM(cents) // COUNT(*) AS BIGINT) AS mean_micro
         FROM f GROUP BY user_id, win_start_us
         ORDER BY user_id, win_start_us"""
    },
    "q05_windowed_mean" ->
      """SELECT date_trunc('hour', ts) AS w_start,
                date_trunc('hour', ts) + INTERVAL 1 HOUR AS w_end,
                user_id, SUM(CAST(ROUND(value * 100) AS BIGINT)) / (100.0 * COUNT(value)) AS mean_value,
                COUNT(*) AS n
         FROM events GROUP BY 1, 2, 3 ORDER BY w_start, user_id""",
    "q06_tag_filter" ->
      """SELECT event_id, user_id, value, ts FROM events
         WHERE value > 100.0 AND user_id IN (1, 3, 5, 7) ORDER BY event_id""",
    "q07_raw_range" ->
      """SELECT event_id, ts, user_id, event_type, value, props FROM events
         WHERE ts >= TIMESTAMP '2024-01-25 00:00:00' ORDER BY event_id""",
    "q08_parse_props" ->
      """SELECT event_id,
                CASE WHEN json_valid(props)
                     THEN TRY_CAST(json_extract_string(props, '$.k') AS INTEGER) END AS k
         FROM events ORDER BY event_id""",
    "q09_branch_other" ->
      """SELECT event_id, user_id, value FROM events
         WHERE NOT (value > 100.0) ORDER BY event_id""",
    "q10_json_serialize" ->
      """SELECT event_id,
                '{"event_id":' || event_id || ',"user_id":' || user_id || '}' AS json
         FROM events ORDER BY event_id""",
    "q11_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus,
                CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
                SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)) / 100.0 AS sum_base_price,
                SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)
                    * (100 - CAST(ROUND(l_discount * 100) AS BIGINT))) / 10000.0 AS sum_disc_price,
                CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) / CAST(COUNT(*) AS DOUBLE) AS avg_qty,
                SUM(CAST(ROUND(l_discount * 100) AS BIGINT)) / (100.0 * COUNT(l_discount)) AS avg_disc,
                COUNT(*) AS count_order
         FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
         GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus""",
    "q12_revenue_by_nation" ->
      """SELECT n_name, SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) / 100.0 AS revenue,
                COUNT(*) AS n_orders
         FROM orders JOIN customer ON o_custkey = c_custkey
                     JOIN nation ON c_nationkey = n_nationkey
         GROUP BY n_name ORDER BY revenue DESC, n_name""",
    "q13_top_customers" ->
      """WITH spend AS (
           SELECT o_custkey,
                  SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) / 100.0 AS total_spend,
                  COUNT(*) AS n_orders
           FROM orders GROUP BY o_custkey)
         SELECT c_custkey, c_name, total_spend, n_orders
         FROM spend JOIN customer ON o_custkey = c_custkey
         ORDER BY total_spend DESC, c_custkey LIMIT 10""",
    "q14_rollup_returns" ->
      """SELECT COALESCE(l_returnflag, 'ALL') AS rf,
                COALESCE(l_linestatus, 'ALL') AS ls,
                COUNT(*) AS n, CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty
         FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)
         ORDER BY rf, ls""",
    "q15_top_orders_per_customer" ->
      """SELECT o_custkey, o_orderkey, o_totalprice, rn FROM (
           SELECT o_custkey, o_orderkey, o_totalprice,
                  ROW_NUMBER() OVER (PARTITION BY o_custkey
                                     ORDER BY o_totalprice DESC, o_orderkey) AS rn
           FROM orders)
         WHERE rn <= 2 ORDER BY o_custkey, rn""",
    "q16_big_spenders" ->
      """SELECT c_custkey, c_name, c_mktsegment FROM customer
         WHERE EXISTS (SELECT 1 FROM orders
                       WHERE o_custkey = c_custkey AND o_totalprice > 450000.0)
         ORDER BY c_custkey""",
    "q17_not_big_spenders" ->
      """SELECT c_custkey, c_name FROM customer
         WHERE NOT EXISTS (SELECT 1 FROM orders
                           WHERE o_custkey = c_custkey AND o_totalprice > 450000.0)
         ORDER BY c_custkey""",
    "q18_users_in_both" ->
      """SELECT user_id FROM events WHERE event_type = 'purchase'
         INTERSECT
         SELECT user_id FROM events WHERE event_type = 'error'
         ORDER BY user_id""",
    "q19_users_only_in" ->
      """SELECT user_id FROM events WHERE event_type = 'purchase'
         EXCEPT
         SELECT user_id FROM events WHERE event_type = 'error'
         ORDER BY user_id""",
    "q20_distinct_users_per_type" ->
      """SELECT event_type, COUNT(DISTINCT user_id) AS n_users, COUNT(*) AS n_events
         FROM events GROUP BY event_type ORDER BY event_type""",
    // q21: the HLL++ estimate is not DuckDB-reproducible; the query emits the
    // exact count plus a sketch-within-tolerance boolean instead (the q50
    // computed-vs-oracle pattern), so a degraded sketch fails the hash.
    "q21_approx_distinct" ->
      """SELECT event_type, COUNT(DISTINCT user_id) AS n_users, TRUE AS hll_ok
         FROM events GROUP BY event_type ORDER BY event_type""",
    "q22_revenue_by_brand" ->
      """SELECT p_brand,
                SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)
                    * (100 - CAST(ROUND(l_discount * 100) AS BIGINT))) / 10000.0 AS revenue,
                COUNT(*) AS n_items
         FROM lineitem JOIN part ON l_partkey = p_partkey
                       JOIN supplier ON l_suppkey = s_suppkey
         GROUP BY p_brand ORDER BY p_brand""",
    "q23_running_spend" ->
      """SELECT o_custkey, o_orderkey, o_orderdate,
                SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) OVER (
                  PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) / 100.0 AS running_spend
         FROM orders WHERE o_custkey < 100
         ORDER BY o_custkey, o_orderdate, o_orderkey""",
    "q24_cube_returns" ->
      """SELECT COALESCE(l_returnflag, 'ALL') AS rf,
                COALESCE(l_linestatus, 'ALL') AS ls,
                COUNT(*) AS n, CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty
         FROM lineitem GROUP BY CUBE(l_returnflag, l_linestatus)
         ORDER BY rf, ls""",
    "q25_monthly_orders" ->
      """SELECT date_trunc('month', o_orderdate) AS month, COUNT(*) AS n_orders,
                SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) / 100.0 AS revenue
         FROM orders GROUP BY 1 ORDER BY month""",
    "q26_string_funcs" ->
      """SELECT c_custkey, upper(c_name) AS name_upper,
                substring(c_name, 1, 8) AS name_prefix,
                length(c_name) AS name_len,
                concat(c_mktsegment, '/', c_name) AS segment_name,
                replace(c_name, '#', '-') AS name_dashed
         FROM customer ORDER BY c_custkey""",
    "q27_value_histogram" ->
      """SELECT CAST(FLOOR(value / 50.0) AS BIGINT) AS bucket, COUNT(*) AS n,
                MIN(value) AS min_value, MAX(value) AS max_value
         FROM events GROUP BY 1 ORDER BY bucket""",
    // q28: percentile fractions must be IEEE DOUBLE on both sides — DuckDB
    // parses bare 0.95 as DECIMAL and computes the fraction exactly, which
    // differs from Spark's double arithmetic in low bits; the explicit
    // CAST(0.x AS DOUBLE) forces the identical IEEE sequence.
    "q28_percentiles" ->
      """WITH c AS (SELECT event_type, CAST(ROUND(value * 100) AS BIGINT) AS c
                    FROM events WHERE value IS NOT NULL),
         r AS (SELECT event_type, c,
                      ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY c) AS rn
               FROM c),
         n AS (SELECT event_type, COUNT(*) AS n FROM c GROUP BY event_type),
         a AS (SELECT r.event_type, MAX(n.n) AS nn,
                      CAST(SUM(CASE WHEN r.rn - 1 = CAST(FLOOR((n.n - 1) * CAST(0.5 AS DOUBLE)) AS BIGINT)
                               THEN r.c END) AS DOUBLE) AS cl_p50,
                      CAST(SUM(CASE WHEN r.rn - 1 = CAST(CEIL((n.n - 1) * CAST(0.5 AS DOUBLE)) AS BIGINT)
                               THEN r.c END) AS DOUBLE) AS ch_p50,
                      CAST(SUM(CASE WHEN r.rn - 1 = CAST(FLOOR((n.n - 1) * CAST(0.95 AS DOUBLE)) AS BIGINT)
                               THEN r.c END) AS DOUBLE) AS cl_p95,
                      CAST(SUM(CASE WHEN r.rn - 1 = CAST(CEIL((n.n - 1) * CAST(0.95 AS DOUBLE)) AS BIGINT)
                               THEN r.c END) AS DOUBLE) AS ch_p95
               FROM r JOIN n ON r.event_type = n.event_type
               GROUP BY r.event_type)
         SELECT event_type,
                (cl_p50 + ((nn - 1) * CAST(0.5 AS DOUBLE) - FLOOR((nn - 1) * CAST(0.5 AS DOUBLE)))
                   * (ch_p50 - cl_p50)) / 100.0 AS p50,
                (cl_p95 + ((nn - 1) * CAST(0.95 AS DOUBLE) - FLOOR((nn - 1) * CAST(0.95 AS DOUBLE)))
                   * (ch_p95 - cl_p95)) / 100.0 AS p95
         FROM a ORDER BY event_type""",
    // q53: the percentile sketch values are not DuckDB-reproducible; the
    // query emits the non-null count plus one rank-containment boolean per
    // percentile (q50 pattern) — a drifting sketch flips a boolean and
    // fails the hash. Exact-value accuracy additionally asserted vs q28 in
    // RelationalOpsSpec.
    "q53_approx_percentiles" ->
      """SELECT event_type, COUNT(value) AS n_values,
                TRUE AS ok_p50, TRUE AS ok_p95, TRUE AS ok_p99
         FROM events GROUP BY event_type ORDER BY event_type""",
    "q54_sessionize" ->
      """WITH e AS (SELECT event_id, user_id, epoch_us(ts) AS us FROM events),
         f AS (SELECT user_id, event_id, us,
                      CASE WHEN LAG(us) OVER w IS NULL
                             OR us - LAG(us) OVER w > 1800000000 THEN 1 ELSE 0 END AS new_s
               FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)),
         s AS (SELECT user_id, us,
                      CAST(SUM(new_s) OVER (PARTITION BY user_id ORDER BY us, event_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_idx
               FROM f)
         SELECT user_id, session_idx, COUNT(*) AS n_events,
                MIN(us) AS start_us, MAX(us) AS end_us,
                MAX(us) - MIN(us) AS duration_us
         FROM s GROUP BY 1, 2 ORDER BY user_id, session_idx""",
    // q137: same window/PAA/symbol recipe; the symbol CASEs come from the
    // SAME generator as the Spark side (only the element accessor differs)
    "q137_sax_motifs" -> {
      val L = RelationalOps.SaxWindow
      val sym = RelationalOps.saxSymbolExprs(i => s"win[$i]").mkString(", ")
      s"""WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS us,
                            CAST(ROUND(value * 100) AS BIGINT) AS c
                     FROM events WHERE value IS NOT NULL),
          w AS (SELECT user_id, list(c) OVER (PARTITION BY user_id ORDER BY us, event_id
                       ROWS BETWEEN CURRENT ROW AND ${L - 1} FOLLOWING) AS win
                FROM e),
          f AS (SELECT user_id, win,
                       CAST(list_sum(win) AS BIGINT) AS s,
                       CAST(list_sum(list_transform(win, x -> x * x)) AS BIGINT) AS ss
                FROM w WHERE len(win) = $L),
          g AS (SELECT user_id, win, s, $L * ss - s * s AS d FROM f),
          y AS (SELECT user_id, concat_ws('', $sym) AS word FROM g)
          SELECT word, COUNT(*) AS n_windows,
                 CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
          FROM y GROUP BY word HAVING COUNT(*) >= ${RelationalOps.SaxMinSupport}
          ORDER BY n_windows DESC, word"""
    },
    // q136: identical stage CTE chain; DuckDB SUMs cast back to BIGINT
    // (HUGEINT default); strictly-after `>` on epoch-µs integers both sides
    "q136_funnel" -> {
      val st = RelationalOps.FunnelStages
      s"""WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS us FROM events),
          s1 AS (SELECT user_id, MIN(us) AS t1 FROM e
                 WHERE event_type = '${st(0)}' GROUP BY user_id),
          s2 AS (SELECT e.user_id, MIN(us) AS t2, MIN(t1) AS t1
                 FROM e JOIN s1 ON e.user_id = s1.user_id
                 WHERE event_type = '${st(1)}' AND us > t1 GROUP BY e.user_id),
          s3 AS (SELECT e.user_id, MIN(us) AS t3, MIN(t2) AS t2
                 FROM e JOIN s2 ON e.user_id = s2.user_id
                 WHERE event_type = '${st(2)}' AND us > t2 GROUP BY e.user_id),
          r AS (SELECT 1 AS stage, '${st(0)}' AS event_type,
                       COUNT(*) AS n_users, CAST(NULL AS BIGINT) AS sum_advance_us
                FROM s1
                UNION ALL
                SELECT 2, '${st(1)}', COUNT(*), CAST(SUM(t2 - t1) AS BIGINT) FROM s2
                UNION ALL
                SELECT 3, '${st(2)}', COUNT(*), CAST(SUM(t3 - t2) AS BIGINT) FROM s3)
          SELECT r.stage AS stage, r.event_type AS event_type, r.n_users AS n_users,
                 CASE WHEN p.n_users IS NULL OR p.n_users = 0 THEN CAST(NULL AS DOUBLE)
                      ELSE CAST(r.n_users AS DOUBLE) / CAST(p.n_users AS DOUBLE) END AS conv_from_prev,
                 r.sum_advance_us AS sum_advance_us,
                 CASE WHEN r.stage = 1 OR r.n_users = 0 THEN CAST(NULL AS DOUBLE)
                      ELSE CAST(r.sum_advance_us AS DOUBLE) / CAST(r.n_users AS DOUBLE) END AS avg_advance_us
          FROM r LEFT JOIN r p ON r.stage = p.stage + 1
          ORDER BY stage"""
    },
    // q146: the Benford column is the exact m/2⁶⁰ integer ratio on both
    // engines (decimal-text literals land one ulp apart — see
    // EventOps.exactDoubleLit); identical χ²-term expression shape,
    // micro-rounded before the order-free SUM
    "q146_benford_audit" -> {
      val vals = EventOps.BenfordP
        .map { case (d, p) => s"($d, ${EventOps.benfordLitSql(p)})" }.mkString(", ")
      s"""WITH b(digit, p_benford) AS (VALUES $vals),
          c AS (SELECT CAST(ROUND(value * 100) AS BIGINT) AS cents FROM events),
          o AS (SELECT CAST(substring(CAST(cents AS VARCHAR), 1, 1) AS INT) AS digit,
                       CAST(COUNT(*) AS BIGINT) AS n
                FROM c WHERE cents > 0 GROUP BY 1),
          j AS (SELECT b.digit AS digit, COALESCE(o.n, 0) AS n,
                       b.p_benford AS p_benford
                FROM b LEFT JOIN o ON b.digit = o.digit),
          t AS (SELECT CAST(SUM(n) AS BIGINT) AS n_total FROM j),
          m AS (SELECT digit, n, n_total, p_benford,
                 CASE WHEN n_total = 0 THEN CAST(NULL AS DOUBLE)
                      ELSE CAST(n AS DOUBLE) / CAST(n_total AS DOUBLE) END AS p_observed,
                 CASE WHEN n_total = 0 THEN CAST(NULL AS BIGINT)
                      ELSE CAST(ROUND((CAST(n AS DOUBLE) - p_benford * CAST(n_total AS DOUBLE))
                           * (CAST(n AS DOUBLE) - p_benford * CAST(n_total AS DOUBLE))
                           / (p_benford * CAST(n_total AS DOUBLE)) * 1e6) AS BIGINT)
                 END AS term
                FROM j CROSS JOIN t),
          x AS (SELECT CAST(SUM(term) AS BIGINT) AS chi2_micro FROM m)
          SELECT digit, n, n_total, p_observed, p_benford,
                 p_observed - p_benford AS deviation,
                 CAST(chi2_micro AS DOUBLE) / 1e6 AS chi2
          FROM m CROSS JOIN x ORDER BY digit"""
    },
    // q147: exact integer round-ness modulus, identical z expression
    // shape (IEEE sqrt is correctly rounded in both engines)
    "q147_round_affinity" ->
      s"""WITH c AS (SELECT user_id, CAST(ROUND(value * 100) AS BIGINT) AS cents
                     FROM events),
          p AS (SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_tx,
                       CAST(SUM(CASE WHEN cents % ${EventOps.RoundUnitCents} = 0
                                     THEN 1 ELSE 0 END) AS BIGINT) AS n_round
                FROM c WHERE cents > 0 GROUP BY user_id),
          t AS (SELECT CAST(SUM(n_tx) AS BIGINT) AS t_tx,
                       CAST(SUM(n_round) AS BIGINT) AS t_round FROM p),
          m AS (SELECT user_id, n_tx, n_round,
                       CAST(n_round AS DOUBLE) / CAST(n_tx AS DOUBLE) AS share,
                       CAST(t_round AS DOUBLE) / CAST(t_tx AS DOUBLE) AS base_rate
                FROM p CROSS JOIN t WHERE n_tx >= ${EventOps.RoundMinTx}),
          z AS (SELECT user_id, n_tx, n_round, share, base_rate,
                       CASE WHEN base_rate = 0e0 OR base_rate = 1e0 THEN CAST(NULL AS DOUBLE)
                            ELSE (CAST(n_round AS DOUBLE) - base_rate * CAST(n_tx AS DOUBLE))
                                 / sqrt(base_rate * (1e0 - base_rate) * CAST(n_tx AS DOUBLE))
                       END AS z
                FROM m)
          SELECT user_id, n_tx, n_round, share, base_rate, z,
                 abs(z) > 3e0 AS flagged
          FROM z ORDER BY user_id""",
    // q148: identical hour grain, HUGEINT moments mirroring DECIMAL(38,0),
    // identical num/√(d1·d2) shape (IEEE sqrt correctly rounded both sides)
    "q148_autocorrelation" ->
      s"""WITH hrs AS (SELECT epoch_us(ts) // ${RelationalOps.HourUs} AS h,
                              CAST(COUNT(*) AS BIGINT) AS c
                       FROM events GROUP BY 1),
          l AS (SELECT h + r.range AS h2, CAST(r.range AS INT) AS lag, c AS x
                FROM hrs, range(1, ${RelationalOps.AcfMaxLag + 1}) r),
          p AS (SELECT l.lag AS lag, l.x AS x, hrs.c AS y
                FROM l JOIN hrs ON l.h2 = hrs.h),
          s AS (SELECT lag, CAST(COUNT(*) AS BIGINT) AS n_pairs,
                       SUM(CAST(x AS HUGEINT)) AS sx, SUM(CAST(y AS HUGEINT)) AS sy,
                       SUM(CAST(x AS HUGEINT) * y) AS sxy,
                       SUM(CAST(x AS HUGEINT) * x) AS sxx,
                       SUM(CAST(y AS HUGEINT) * y) AS syy
                FROM p GROUP BY lag)
          SELECT lag, n_pairs,
                 CASE WHEN n_pairs * sxx - sx * sx = 0 OR n_pairs * syy - sy * sy = 0
                      THEN CAST(NULL AS DOUBLE)
                      ELSE CAST(n_pairs * sxy - sx * sy AS DOUBLE)
                           / sqrt(CAST(n_pairs * sxx - sx * sx AS DOUBLE)
                                  * CAST(n_pairs * syy - sy * sy AS DOUBLE))
                 END AS r
          FROM s ORDER BY lag""",
    // q173: same LWW total order via the same lexicographic struct MAX,
    // same merge matrix (upsert/delete × base/cdc)
    // q187: identical value-count collapse, lower-median selection
    // (cum >= (n+1)//2 over the day-ordered values), MAD from the
    // deviation multiset, and the same exact-integer flag rules
    "q187_robust_outliers" -> {
      val thr = (graft.ops.EventOps.FraudThreshold * 100).toLong
      val k = graft.ops.RelationalOps.MadK
      s"""WITH vc AS (SELECT epoch_us(ts) // ${graft.ops.RelationalOps.DayUs} AS day,
                             CAST(ROUND(value * 100) AS BIGINT) AS cents,
                             CAST(COUNT(*) AS BIGINT) AS n
                      FROM events WHERE value IS NOT NULL GROUP BY 1, 2),
              m AS (SELECT day, MIN(cents) AS med_cents, MAX(n_day) AS n_day
                    FROM (SELECT day, cents, n,
                                 SUM(n) OVER (PARTITION BY day ORDER BY cents
                                   ROWS UNBOUNDED PRECEDING) AS cum,
                                 CAST(SUM(n) OVER (PARTITION BY day) AS BIGINT)
                                   AS n_day
                          FROM vc)
                    WHERE cum >= (n_day + 1) // 2 GROUP BY day),
              dv AS (SELECT vc.day AS day, abs(cents - med_cents) AS dev,
                            CAST(SUM(n) AS BIGINT) AS n
                     FROM vc JOIN m ON vc.day = m.day GROUP BY 1, 2),
              md AS (SELECT day, MIN(dev) AS mad_cents
                     FROM (SELECT day, dev, n,
                                  SUM(n) OVER (PARTITION BY day ORDER BY dev
                                    ROWS UNBOUNDED PRECEDING) AS cum,
                                  SUM(n) OVER (PARTITION BY day) AS n_day
                           FROM dv)
                     WHERE cum >= (n_day + 1) // 2 GROUP BY day),
              f AS (SELECT vc.day AS day, MAX(m.n_day) AS n_rows,
                           MAX(med_cents) AS med_cents, MAX(mad_cents) AS mad_cents,
                           CAST(COALESCE(SUM(CASE WHEN abs(cents - med_cents)
                                                       > $k * mad_cents
                                                  THEN n END), 0) AS BIGINT)
                             AS n_robust_flag,
                           CAST(COALESCE(SUM(CASE WHEN cents > $thr THEN n END), 0)
                                AS BIGINT) AS n_fixed_flag
                    FROM vc JOIN m ON vc.day = m.day JOIN md ON vc.day = md.day
                    GROUP BY vc.day)
         SELECT day, n_rows, med_cents, mad_cents, n_robust_flag, n_fixed_flag,
                CAST(1000000 AS BIGINT) * n_robust_flag // n_rows AS robust_micro,
                CAST(1000000 AS BIGINT) * n_fixed_flag // n_rows AS fixed_micro
         FROM f ORDER BY day"""
    },
    // q190: identical per-(user, hour) struct-MAX collapse, the same
    // users × [h0, h1] dial grid, and an IGNORE NULLS running last
    "q190_resample_ffill" -> {
      val hourUs = graft.ops.RelationalOps.HourUs
      s"""WITH obs AS (SELECT user_id, epoch_us(ts) // $hourUs AS hour,
                              CAST(COUNT(*) AS BIGINT) AS n_obs,
                              max({'u': epoch_us(ts), 'e': event_id,
                                   'c': CAST(ROUND(value * 100) AS BIGINT)}) AS w
                       FROM events WHERE value IS NOT NULL GROUP BY 1, 2),
            span AS (SELECT MIN(hour) AS h0, MAX(hour) AS h1 FROM obs),
            grid AS (SELECT user_id, unnest(range(h0, h1 + 1)) AS hour
                     FROM (SELECT DISTINCT user_id FROM obs), span)
         SELECT g.user_id AS user_id, g.hour AS hour,
                CAST(COALESCE(o.n_obs, 0) AS BIGINT) AS n_obs,
                last_value(o.w.c IGNORE NULLS)
                  OVER (PARTITION BY g.user_id ORDER BY g.hour
                        ROWS UNBOUNDED PRECEDING) AS cents_ffill
         FROM grid g LEFT JOIN obs o
           ON g.user_id = o.user_id AND g.hour = o.hour
         ORDER BY user_id, hour"""
    },
    // q213: identical per-(day, user) distinct collapse, first-touch
    // min, and the same bounded running sum (cast from HUGEINT)
    "q213_growth_accounting" ->
      s"""WITH du AS (SELECT DISTINCT epoch_us(ts) // ${graft.ops.RelationalOps.DayUs}
                               AS day, user_id
                      FROM events WHERE user_id IS NOT NULL),
              act AS (SELECT day, CAST(COUNT(*) AS BIGINT) AS n_active
                      FROM du GROUP BY day),
              ft AS (SELECT user_id, MIN(day) AS day FROM du GROUP BY user_id),
              nw AS (SELECT day, CAST(COUNT(*) AS BIGINT) AS n_new
                     FROM ft GROUP BY day),
              j AS (SELECT act.day AS day, n_active,
                           CAST(COALESCE(n_new, 0) AS BIGINT) AS n_new
                    FROM act LEFT JOIN nw ON act.day = nw.day)
         SELECT day, n_active, n_new, n_active - n_new AS n_returning,
                CAST(SUM(n_new) OVER (ORDER BY day ROWS UNBOUNDED PRECEDING)
                     AS BIGINT) AS cum_users
         FROM j ORDER BY day""",
    // q214: identical integer dow/hod binning, the same value-count
    // collapse, floor'd micro moments, and the same K·MAD anomaly rule
    "q214_seasonal_census" -> {
      val k = graft.ops.RelationalOps.SeasonalMadK
      s"""WITH vc AS (SELECT (epoch_us(ts) // ${graft.ops.RelationalOps.DayUs} + 4) % 7 AS dow,
                             (epoch_us(ts) // ${graft.ops.RelationalOps.HourUs}) % 24 AS hod,
                             CAST(ROUND(value * 100) AS BIGINT) AS cents,
                             CAST(COUNT(*) AS BIGINT) AS n
                      FROM events WHERE value IS NOT NULL GROUP BY 1, 2, 3),
              mom AS (SELECT dow, hod,
                             CAST(CASE WHEN SUM(cents * n) >= 0
                                       THEN 1000000 * SUM(cents * n) // SUM(n)
                                       ELSE -((1000000 * -SUM(cents * n)) // SUM(n))
                                  END AS BIGINT) AS mean_micro
                      FROM vc GROUP BY 1, 2),
              mad AS (SELECT vc.dow AS dow, vc.hod AS hod,
                             CAST(CASE WHEN SUM(abs(cents * 1000000 - mean_micro) * n) >= 0
                                       THEN SUM(abs(cents * 1000000 - mean_micro) * n)
                                            // SUM(n)
                                       ELSE -((-SUM(abs(cents * 1000000 - mean_micro) * n))
                                              // SUM(n))
                                  END AS BIGINT) AS mad_micro
                      FROM vc JOIN mom ON vc.dow = mom.dow AND vc.hod = mom.hod
                      GROUP BY 1, 2),
              f AS (SELECT vc.dow AS dow, vc.hod AS hod,
                           CAST(SUM(n) AS BIGINT) AS n_obs,
                           MAX(mean_micro) AS mean_micro,
                           MAX(mad_micro) AS mad_micro,
                           CAST(COALESCE(SUM(CASE WHEN abs(cents * 1000000 - mean_micro)
                                                       > $k * mad_micro
                                                  THEN n END), 0) AS BIGINT) AS n_anom
                    FROM vc JOIN mom ON vc.dow = mom.dow AND vc.hod = mom.hod
                         JOIN mad ON vc.dow = mad.dow AND vc.hod = mad.hod
                    GROUP BY 1, 2)
         SELECT dow, hod, n_obs, mean_micro, mad_micro, n_anom,
                CAST(1000000 AS BIGINT) * n_anom // n_obs AS anom_micro
         FROM f ORDER BY dow, hod"""
    },
    // q220: the pivot as conditional aggregation (the relational
    // identity of PIVOT), same margins, unseen census, HUGEINT
    // cross-multiplied deviations shipped BIGINT
    "q220_pivot_census" -> {
      val sts = graft.ops.RelationalOps.PivotStatuses
      val cells = sts.map(s =>
        s"""CAST(COALESCE(SUM(CASE WHEN st = '$s' THEN 1 END), 0) AS BIGINT)
            AS n_${s.toLowerCase}""").mkString(", ")
      val inList = sts.map(s => s"'$s'").mkString(", ")
      val colSums = sts.map(s =>
        s"""CAST(COALESCE(SUM(CASE WHEN st = '$s' THEN 1 END), 0) AS BIGINT)
            AS c_${s.toLowerCase}""").mkString(", ")
      val rowTotal = sts.map(s => s"n_${s.toLowerCase}").mkString(" + ")
      val devs = sts.map { s =>
        val (n, c) = (s"n_${s.toLowerCase}", s"c_${s.toLowerCase}")
        s"""CASE WHEN row_total = 0 OR $c = 0 THEN CAST(NULL AS BIGINT)
                ELSE CAST(CAST(1000000 AS HUGEINT)
                          * abs($n * n_all - row_total * $c)
                          // (row_total * $c) AS BIGINT) END"""
      }.mkString("greatest(", ", ", ")")
      s"""WITH i AS (SELECT o_orderpriority AS prio, o_orderstatus AS st
                     FROM orders),
              piv AS (SELECT prio, $cells FROM i WHERE st IN ($inList)
                      GROUP BY prio),
              un AS (SELECT prio, CAST(COUNT(*) AS BIGINT) AS n_unseen
                     FROM i WHERE st IS NULL OR st NOT IN ($inList)
                     GROUP BY prio),
              dial AS (SELECT $colSums,
                              CAST(COALESCE(SUM(CASE WHEN st IN ($inList)
                                                     THEN 1 END), 0) AS BIGINT)
                                AS n_all
                       FROM i),
              -- FULL join (the Spark side's full_outer twin): a priority
              -- with only out-of-dial statuses exists in un alone and must
              -- still surface with its n_unseen, pivot cells coalesced to 0
              rows0 AS (SELECT COALESCE(piv.prio, un.prio) AS prio,
                               ${sts.map(s =>
                                 s"""CAST(COALESCE(n_${s.toLowerCase}, 0) AS BIGINT)
                                     AS n_${s.toLowerCase}""").mkString(", ")},
                               CAST(COALESCE(n_unseen, 0) AS BIGINT)
                                 AS n_unseen, dial.*
                        FROM piv FULL JOIN un ON piv.prio = un.prio
                             CROSS JOIN dial),
              rows1 AS (SELECT *, $rowTotal AS row_total FROM rows0),
              rows2 AS (SELECT *, $devs AS max_dev_micro FROM rows1),
              law AS (SELECT CAST(SUM(row_total) AS BIGINT) = MAX(n_all)
                               AS conservation_ok FROM rows2)
         SELECT prio, ${sts.map(s => s"n_${s.toLowerCase}").mkString(", ")},
                n_unseen, row_total, n_all, max_dev_micro, conservation_ok
         FROM rows2 CROSS JOIN law ORDER BY prio"""
    },
    // q222: identical first-touch cohorts, (cohort, age) collapse,
    // per-cohort running sum (cast from HUGEINT), and both laws
    "q222_cohort_ltv" ->
      s"""WITH base AS (SELECT user_id, epoch_us(ts) // ${graft.ops.RelationalOps.DayUs} AS day,
                               CAST(ROUND(value * 100) AS BIGINT) AS cents
                        FROM events
                        WHERE user_id IS NOT NULL AND value IS NOT NULL),
              ft AS (SELECT user_id, MIN(day) AS cohort FROM base GROUP BY 1),
              sizes AS (SELECT cohort, CAST(COUNT(*) AS BIGINT) AS cohort_users
                        FROM ft GROUP BY 1),
              cells AS (SELECT cohort, day - cohort AS age,
                               CAST(COUNT(*) AS BIGINT) AS n_events,
                               CAST(SUM(cents) AS BIGINT) AS cents
                        FROM base JOIN ft ON base.user_id = ft.user_id
                        GROUP BY 1, 2),
              curve AS (SELECT *, CAST(SUM(cents) OVER (PARTITION BY cohort
                                    ORDER BY age ROWS UNBOUNDED PRECEDING)
                                  AS BIGINT) AS cum_cents
                        FROM cells),
              c2 AS (SELECT *, lag(cum_cents) OVER (PARTITION BY cohort
                                ORDER BY age) AS prev_cum
                     FROM curve),
              law AS (SELECT CAST(SUM(final_cum) AS BIGINT) =
                               (SELECT CAST(SUM(cents) AS BIGINT) FROM base)
                               AS conservation_ok
                      FROM (SELECT cohort, MAX(cum_cents) AS final_cum
                            FROM curve GROUP BY 1))
         SELECT c2.cohort AS cohort, age, cohort_users, n_events, cents,
                cum_cents,
                CAST(1000000 AS BIGINT) * cum_cents // cohort_users AS ltv_micro,
                COALESCE(cum_cents >= prev_cum, true) AS monotone_ok,
                conservation_ok
         FROM c2 JOIN sizes ON c2.cohort = sizes.cohort CROSS JOIN law
         ORDER BY cohort, age""",
    // q217: identical (user, day) collapse, the same truncated dyadic
    // decay (integer shift), the same two top-Ns and fill join
    "q217_decayed_leaderboard" -> {
      val w = graft.ops.RelationalOps.DecayWindowDays
      val n = graft.ops.RelationalOps.LeaderTopN
      s"""WITH ud AS (SELECT user_id, epoch_us(ts) // ${graft.ops.RelationalOps.DayUs} AS day,
                             CAST(COUNT(*) AS BIGINT) AS n
                      FROM events WHERE user_id IS NOT NULL GROUP BY 1, 2),
              d1 AS (SELECT MAX(day) AS d1 FROM ud),
              sc AS (SELECT user_id, CAST(SUM(n) AS BIGINT) AS n_total,
                            CAST(SUM(CASE WHEN d1 - day < $w
                                          THEN n * (CAST(1 AS BIGINT)
                                                    << CAST(${w - 1} - (d1 - day) AS INT))
                                          ELSE 0 END) AS BIGINT) AS decayed_score
                     FROM ud CROSS JOIN d1 GROUP BY user_id),
              td AS (SELECT user_id, CAST(row_number() OVER (
                              ORDER BY decayed_score DESC, user_id) AS BIGINT)
                              AS rank_decayed
                     FROM (SELECT * FROM sc
                           ORDER BY decayed_score DESC, user_id LIMIT $n)),
              tr AS (SELECT user_id, CAST(row_number() OVER (
                              ORDER BY n_total DESC, user_id) AS BIGINT) AS rank_raw
                     FROM (SELECT * FROM sc
                           ORDER BY n_total DESC, user_id LIMIT $n)),
              m AS (SELECT COALESCE(td.user_id, tr.user_id) AS user_id,
                           rank_decayed, rank_raw
                    FROM td FULL OUTER JOIN tr ON td.user_id = tr.user_id)
         SELECT m.user_id AS user_id, rank_decayed, rank_raw,
                decayed_score, n_total,
                rank_decayed IS NOT NULL AND rank_raw IS NOT NULL AS in_both
         FROM m JOIN sc ON m.user_id = sc.user_id
         ORDER BY COALESCE(rank_decayed, ${n + 1}),
                  COALESCE(rank_raw, ${n + 1}), user_id"""
    },
    // q218: identical daily collapse, the same sign-outside milli
    // slopes, the q187 value-count median, the same centered OLS moments
    "q218_robust_trend" ->
      s"""WITH daily AS (SELECT epoch_us(ts) // ${graft.ops.RelationalOps.DayUs} AS day,
                                CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS t
                         FROM events WHERE value IS NOT NULL GROUP BY 1),
              sl AS (SELECT CASE WHEN b.t - a.t >= 0
                                 THEN 1000 * (b.t - a.t) // (b.day - a.day)
                                 ELSE -((1000 * (a.t - b.t)) // (b.day - a.day))
                            END AS slope_milli
                     FROM daily a JOIN daily b ON a.day < b.day),
              vc AS (SELECT slope_milli, CAST(COUNT(*) AS BIGINT) AS n
                     FROM sl GROUP BY 1),
              -- GROUPED median (mirrors the Spark side's groupBy(n_pairs)):
              -- an ungrouped aggregate here would return one all-NULL row
              -- on a degenerate single-day corpus (zero slope pairs) while
              -- Spark's grouped path returns 0 rows — both now return 0
              m AS (SELECT n_pairs,
                           MIN(CASE WHEN cum >= (n_pairs + 1) // 2
                                    THEN slope_milli END) AS theilsen_milli
                    FROM (SELECT slope_milli,
                                 CAST(SUM(n) OVER (ORDER BY slope_milli
                                   ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum,
                                 CAST(SUM(n) OVER () AS BIGINT) AS n_pairs
                          FROM vc)
                    GROUP BY n_pairs),
              d0 AS (SELECT MIN(day) AS d0 FROM daily),
              o AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_days,
                           CAST(SUM(day - d0) AS BIGINT) AS sx,
                           CAST(SUM(t) AS BIGINT) AS sy,
                           CAST(SUM((day - d0) * (day - d0)) AS BIGINT) AS sxx,
                           CAST(SUM((day - d0) * t) AS BIGINT) AS sxy
                    FROM daily CROSS JOIN d0),
              o2 AS (SELECT n_days, n_days * sxy - sx * sy AS onum,
                            n_days * sxx - sx * sx AS oden FROM o),
              f AS (SELECT n_days, n_pairs, theilsen_milli,
                           CASE WHEN oden = 0 THEN CAST(NULL AS BIGINT)
                                WHEN onum >= 0
                                THEN CAST(1000 * onum // oden AS BIGINT)
                                ELSE -CAST((1000 * -onum) // oden AS BIGINT)
                           END AS ols_milli
                    FROM o2 CROSS JOIN m)
         SELECT n_days, n_pairs, CAST(theilsen_milli AS BIGINT) AS theilsen_milli,
                ols_milli,
                abs(theilsen_milli - ols_milli) AS disagreement_milli
         FROM f""",
    // q211: identical per-user double lag under the same total order,
    // the same count-then-top-N with the (n DESC, path ASC) tie rule
    "q211_journeys" -> {
      val n = graft.ops.RelationalOps.JourneyTopN
      s"""WITH o AS (SELECT user_id, epoch_us(ts) AS us, event_id, event_type
                     FROM events),
              l AS (SELECT user_id, event_type,
                           lag(event_type, 1) OVER w AS p1,
                           lag(event_type, 2) OVER w AS p2
                    FROM o WINDOW w AS (PARTITION BY user_id
                                        ORDER BY us, event_id)),
              c AS (SELECT p2 || ' > ' || p1 || ' > ' || event_type AS path,
                           CAST(COUNT(*) AS BIGINT) AS n_walks,
                           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
                    FROM l WHERE p2 IS NOT NULL GROUP BY 1)
         SELECT CAST(row_number() OVER (ORDER BY n_walks DESC, path)
                     AS BIGINT) AS rank,
                path, n_walks, n_users
         FROM (SELECT * FROM c ORDER BY n_walks DESC, path LIMIT $n)
         ORDER BY rank"""
    },
    // q209: identical value-count collapse and the same two cumulative
    // lower-median selections; windowed SUMs cast from HUGEINT
    "q209_weighted_median" ->
      s"""WITH vc AS (SELECT epoch_us(ts) // 86400000000 AS day,
                             CAST(ROUND(value * 100) AS BIGINT) AS cents,
                             CAST(COUNT(*) AS BIGINT) AS n
                      FROM events WHERE value IS NOT NULL GROUP BY 1, 2),
              cum AS (SELECT day, cents, n,
                             CAST(SUM(cents * n) OVER w AS BIGINT) AS cm,
                             CAST(SUM(n) OVER w AS BIGINT) AS cn,
                             CAST(SUM(cents * n) OVER d AS BIGINT) AS tm,
                             CAST(SUM(n) OVER d AS BIGINT) AS tn
                      FROM vc
                      WINDOW w AS (PARTITION BY day ORDER BY cents
                                   ROWS UNBOUNDED PRECEDING),
                             d AS (PARTITION BY day)),
              sel AS (SELECT day, MAX(tn) AS n_obs, MAX(tm) AS total_cents,
                             MIN(CASE WHEN 2 * cm >= tm THEN cents END) AS wmedian_cents,
                             MIN(CASE WHEN 2 * cn >= tn THEN cents END) AS cmedian_cents
                      FROM cum GROUP BY day)
         SELECT day, n_obs, total_cents, wmedian_cents, cmedian_cents,
                1000000 * wmedian_cents // cmedian_cents AS wm_over_cm_micro,
                wmedian_cents >= cmedian_cents AS tail_heavy
         FROM sel ORDER BY day""",
    // q210: identical per-supplier collapse and ascending rank; HHI and
    // Gini cross-multiplied in HUGEINT, shipped BIGINT
    "q210_concentration" -> {
      val t = graft.ops.RelationalOps.HhiConcentratedMicro
      s"""WITH rev AS (SELECT CAST(s_nationkey AS BIGINT) AS nat, l_suppkey,
                              CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT))
                                   AS BIGINT) AS r
                       FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
                       GROUP BY 1, 2),
              rk AS (SELECT nat, r,
                            CAST(row_number() OVER (PARTITION BY nat
                                 ORDER BY r, l_suppkey) AS BIGINT) AS i
                     FROM rev),
              g AS (SELECT nat, CAST(COUNT(*) AS BIGINT) AS n,
                           CAST(SUM(r) AS BIGINT) AS rr,
                           SUM(CAST(r AS HUGEINT) * r) AS sum_r2,
                           SUM(CAST(i AS HUGEINT) * r) AS sum_ir,
                           MAX(r) AS max_r
                    FROM rk GROUP BY nat)
         SELECT nat, n, rr AS total_cents,
                CAST(1000000 * sum_r2 // (CAST(rr AS HUGEINT) * rr) AS BIGINT)
                  AS hhi_micro,
                CAST((2 * sum_ir - CAST(n + 1 AS HUGEINT) * rr) * 1000000
                     // (CAST(n AS HUGEINT) * rr) AS BIGINT) AS gini_micro,
                1000000 * max_r // rr AS top1_micro,
                CAST(1000000 * sum_r2 // (CAST(rr AS HUGEINT) * rr) AS BIGINT)
                  > $t AS concentrated
         FROM g ORDER BY nat"""
    },
    // q191: identical (us, event_id)-ordered lag per user, the same
    // reset rule and exact integer micro-rate
    "q191_counter_rate" ->
      """WITH o AS (SELECT user_id, epoch_us(ts) AS us, event_id,
                           CAST(ROUND(value * 100) AS BIGINT) AS cents
                    FROM events WHERE value IS NOT NULL),
             p AS (SELECT user_id, us, event_id, cents,
                          lag(us) OVER w AS prev_us,
                          lag(cents) OVER w AS prev_cents
                   FROM o WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id))
         SELECT user_id, us, event_id,
                us - prev_us AS dt_us,
                cents < prev_cents AS reset,
                CASE WHEN cents < prev_cents THEN cents
                     ELSE cents - prev_cents END AS increase_cents,
                CASE WHEN us - prev_us = 0 THEN CAST(NULL AS BIGINT)
                     ELSE CAST((CASE WHEN cents < prev_cents THEN cents
                                     ELSE cents - prev_cents END)
                               * CAST(1000000000000 AS BIGINT)
                               // (us - prev_us) AS BIGINT)
                END AS rate_micro
         FROM p WHERE prev_us IS NOT NULL
         ORDER BY user_id, us, event_id""",
    // q192: identical run grouping (running count of run starts under
    // the same total order) and the same holding-time selection
    "q192_alert_firing" -> {
      val thr = (graft.ops.EventOps.FraudThreshold * 100).toLong
      val d = graft.ops.RelationalOps.AlertForUs
      s"""WITH o AS (SELECT user_id, epoch_us(ts) AS us, event_id,
                            CAST(ROUND(value * 100) AS BIGINT) > $thr AS ov
                     FROM events WHERE value IS NOT NULL),
              m AS (SELECT user_id, us, event_id, ov,
                           lag(ov) OVER w AS pov
                    FROM o WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)),
              s AS (SELECT user_id, us, ov,
                           -- ship-type: DuckDB's windowed SUM is HUGEINT
                           CAST(SUM(CASE WHEN ov AND (pov IS NULL OR NOT pov)
                                         THEN 1 ELSE 0 END)
                             OVER (PARTITION BY user_id ORDER BY us, event_id
                                   ROWS UNBOUNDED PRECEDING) AS BIGINT) AS island
                    FROM m),
              i AS (SELECT user_id, us, island,
                           MIN(us) OVER (PARTITION BY user_id, island) AS start_us
                    FROM s WHERE ov)
         SELECT user_id, island,
                CAST(MIN(us) AS BIGINT) AS start_us,
                CAST(MAX(us) AS BIGINT) AS end_us,
                CAST(COUNT(*) AS BIGINT) AS n_obs,
                CAST(MAX(us) - MIN(us) AS BIGINT) AS duration_us,
                MIN(CASE WHEN us >= start_us + $d THEN us END) IS NOT NULL AS fired,
                CAST(MIN(CASE WHEN us >= start_us + $d THEN us END) AS BIGINT)
                  AS fire_us
         FROM i GROUP BY user_id, island ORDER BY user_id, island"""
    },
    // q193: identical prefix-sum / running-min closed form of the CUSUM
    // clamp recursion under the same total order; windowed SUM/MIN are
    // HUGEINT on DuckDB — cast at ship time
    "q193_cusum_drift" -> {
      val k = graft.ops.RelationalOps.CusumSlackCents
      val h = graft.ops.RelationalOps.CusumAlarmCents
      s"""WITH o AS (SELECT user_id, epoch_us(ts) AS us, event_id,
                            CAST(ROUND(value * 100) AS BIGINT) AS cents
                     FROM events WHERE value IS NOT NULL),
              p AS (SELECT user_id, us, event_id, cents,
                           CAST(SUM(cents - $k) OVER w AS BIGINT) AS pre
                    FROM o WINDOW w AS (PARTITION BY user_id
                                        ORDER BY us, event_id
                                        ROWS UNBOUNDED PRECEDING)),
              s AS (SELECT user_id, us, event_id, cents,
                           pre - LEAST(CAST(0 AS BIGINT),
                                       CAST(MIN(pre) OVER w AS BIGINT)) AS cusum
                    FROM p WINDOW w AS (PARTITION BY user_id
                                        ORDER BY us, event_id
                                        ROWS UNBOUNDED PRECEDING))
         SELECT user_id, us, event_id, cents, cusum, cusum >= $h AS alarm
         FROM s ORDER BY user_id, us, event_id"""
    },
    // q183: per version the SAME q173 merge over the log prefix; the
    // cutoff arithmetic is exact integer (floor on positive spans)
    "q183_time_travel" -> {
      val perVersion = (1 to graft.ops.RelationalOps.TimeTravelVersions).map { v =>
        s"""SELECT CAST($v AS BIGINT) AS version, key,
                   CASE WHEN last_op = 'upsert' THEN last_cents
                        ELSE base_cents END AS balance_cents,
                   COALESCE(n_changes, CAST(0 AS BIGINT)) AS n_changes,
                   COALESCE(last_op, 'base') AS last_op,
                   CASE WHEN base_cents IS NULL THEN 'cdc' ELSE 'base' END AS src
            FROM base FULL OUTER JOIN
                 (SELECT key, CAST(COUNT(*) AS BIGINT) AS n_changes,
                         max({'u': us, 'e': event_id, 'o': op, 'c': cents}) AS w
                  FROM ch CROSS JOIN bounds
                  WHERE us <= t0 + ((t1 - t0) * $v) // ${graft.ops.RelationalOps.TimeTravelVersions}
                  GROUP BY key)
                 unnested_$v USING (key)
            CROSS JOIN LATERAL (SELECT w.o AS last_op, w.c AS last_cents) lw_$v
            WHERE COALESCE(w.o, 'upsert') <> 'delete'"""
      }.mkString("\n UNION ALL \n")
      s"""WITH ch AS (SELECT user_id AS key, epoch_us(ts) AS us, event_id,
                             CASE WHEN event_type = 'error' THEN 'delete'
                                  ELSE 'upsert' END AS op,
                             CASE WHEN value IS NULL THEN CAST(NULL AS BIGINT)
                                  ELSE CAST(ROUND(value * 100) AS BIGINT) END AS cents
                      FROM events),
              bounds AS (SELECT MIN(us) AS t0, MAX(us) AS t1 FROM ch),
              base AS (SELECT c_custkey AS key,
                              CAST(ROUND(c_acctbal * 100) AS BIGINT) AS base_cents
                       FROM customer)
         $perVersion
         ORDER BY version, key"""
    },
    "q173_cdc_merge" ->
      """WITH ch AS (SELECT user_id AS key, epoch_us(ts) AS us, event_id,
                            CASE WHEN event_type = 'error' THEN 'delete'
                                 ELSE 'upsert' END AS op,
                            CASE WHEN value IS NULL THEN CAST(NULL AS BIGINT)
                                 ELSE CAST(ROUND(value * 100) AS BIGINT) END AS cents
                     FROM events),
             lastw AS (SELECT key, CAST(COUNT(*) AS BIGINT) AS n_changes,
                              max({'u': us, 'e': event_id, 'o': op, 'c': cents}) AS w
                       FROM ch GROUP BY key),
             l2 AS (SELECT key, n_changes, w.o AS last_op, w.c AS last_cents
                    FROM lastw),
             base AS (SELECT c_custkey AS key,
                             CAST(ROUND(c_acctbal * 100) AS BIGINT) AS base_cents
                      FROM customer)
         SELECT key,
                CASE WHEN last_op = 'upsert' THEN last_cents
                     ELSE base_cents END AS balance_cents,
                COALESCE(n_changes, CAST(0 AS BIGINT)) AS n_changes,
                COALESCE(last_op, 'base') AS last_op,
                CASE WHEN base_cents IS NULL THEN 'cdc' ELSE 'base' END AS src
         FROM base FULL OUTER JOIN l2 USING (key)
         WHERE COALESCE(last_op, 'upsert') <> 'delete'
         ORDER BY key""",
    // q171: the bare definition — all-pairs NOT EXISTS dominance — so
    // the hash match proves the grid decomposition exact, not heuristic
    "q171_skyline" ->
      """WITH pts AS (SELECT CAST(ROUND(p_retailprice * 100) AS BIGINT) AS price_cents,
                             CAST(p_size AS BIGINT) AS part_size,
                             CAST(COUNT(*) AS BIGINT) AS n_parts
                      FROM part
                      WHERE p_retailprice IS NOT NULL AND p_size IS NOT NULL
                      GROUP BY 1, 2)
         SELECT price_cents, part_size, n_parts
         FROM pts p
         WHERE NOT EXISTS (SELECT 1 FROM pts q
                           WHERE q.price_cents <= p.price_cents
                             AND q.part_size >= p.part_size
                             AND (q.price_cents < p.price_cents
                                  OR q.part_size > p.part_size))
         ORDER BY price_cents""",
    // q170: identical total order, LOCF interval weights, HUGEINT
    // numerator, exact floor-divided milli result
    "q170_twap" ->
      """WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS us,
                           CAST(ROUND(value * 100) AS BIGINT) AS cents
                    FROM events WHERE value IS NOT NULL),
             l AS (SELECT e.*,
                          lead(us, 1) OVER (PARTITION BY user_id
                            ORDER BY us, event_id) - us AS dur_us
                   FROM e),
             g AS (SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_priced,
                          MAX(us) - MIN(us) AS span_us,
                          SUM(CAST(cents AS HUGEINT) * dur_us) AS num,
                          CAST(SUM(dur_us) AS BIGINT) AS den_us
                   FROM l GROUP BY user_id)
         SELECT user_id, n_priced, span_us,
                CAST(num AS BIGINT) AS twap_num, den_us AS twap_den_us,
                CASE WHEN den_us IS NULL OR den_us = 0 THEN CAST(NULL AS BIGINT)
                     ELSE CAST(CAST(1000 AS HUGEINT) * num // den_us AS BIGINT)
                END AS twap_milli
         FROM g ORDER BY user_id""",
    // q165: identical (us, event_id) total order, change-flag lag,
    // running island sum, and close-over lead on the collapsed islands
    "q165_scd2_intervals" ->
      """WITH e AS (SELECT user_id, event_id, event_type, epoch_us(ts) AS us
                    FROM events),
             f AS (SELECT e.*,
                          CASE WHEN lag(event_type, 1) OVER w IS NULL
                                 OR lag(event_type, 1) OVER w <> event_type
                               THEN 1 ELSE 0 END AS chg
                   FROM e
                   WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)),
             g AS (SELECT f.*,
                          CAST(SUM(chg) OVER (PARTITION BY user_id
                            ORDER BY us, event_id
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                            AS BIGINT) AS island_idx
                   FROM f),
             i AS (SELECT user_id, island_idx, MAX(event_type) AS state,
                          MIN(us) AS valid_from_us,
                          CAST(COUNT(*) AS BIGINT) AS n_events
                   FROM g GROUP BY user_id, island_idx)
         SELECT user_id, island_idx, state, valid_from_us,
                lead(valid_from_us, 1) OVER (PARTITION BY user_id
                  ORDER BY island_idx) AS valid_to_us_excl,
                n_events,
                lead(valid_from_us, 1) OVER (PARTITION BY user_id
                  ORDER BY island_idx) IS NULL AS is_current
         FROM i ORDER BY user_id, island_idx""",
    // q167: the oracle can afford the naive keys×ring probe — same ring
    // salts, same wrapped order (min over a struct), same mod rule; the
    // bucket trick is the ENGINE's scale plan, not part of the answer
    "q167_reshard_audit" -> {
      import graft.ops.ScaleOps._
      s"""WITH keys AS (SELECT DISTINCT CAST(user_id AS VARCHAR) AS uk FROM events),
              kh AS (SELECT uk, ('0x' || substr(md5(uk), 1, 12))::BIGINT AS h FROM keys),
              ring AS (SELECT CAST(s.range AS INT) AS shard,
                              ('0x' || substr(md5('ring:' || s.range || ':' || v.range), 1, 12))::BIGINT AS pos
                       FROM range($ReshardTo) s, range($RingVnodes) v),
              own AS (SELECT uk, h,
                             (min({'e': CASE WHEN pos >= h THEN pos
                                             ELSE pos + $RingSpace END,
                                   's': shard})).s AS ch_shard
                      FROM kh CROSS JOIN ring GROUP BY uk, h),
              o2 AS (SELECT uk, ch_shard,
                            h % $ReshardFrom AS mod_from, h % $ReshardTo AS mod_to
                     FROM own),
              c AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_keys,
                           CAST(COUNT(CASE WHEN mod_from <> mod_to THEN 1 END) AS BIGINT) AS mod_moved,
                           CAST(COUNT(CASE WHEN ch_shard >= $ReshardFrom THEN 1 END) AS BIGINT) AS ch_moved
                    FROM o2),
              ms AS (SELECT CAST(MAX(cc) AS BIGINT) AS mod_max
                     FROM (SELECT COUNT(*) AS cc FROM o2 GROUP BY mod_to)),
              cs AS (SELECT CAST(MAX(cc) AS BIGINT) AS ch_max
                     FROM (SELECT COUNT(*) AS cc FROM o2 GROUP BY ch_shard))
         SELECT n_keys, mod_moved, ch_moved,
                CAST(mod_moved AS DOUBLE) / CAST(n_keys AS DOUBLE) AS mod_moved_frac,
                CAST(ch_moved AS DOUBLE) / CAST(n_keys AS DOUBLE) AS ch_moved_frac,
                ch_moved < mod_moved AS ch_beats_mod,
                CAST(mod_max AS DOUBLE) / CAST(n_keys AS DOUBLE) AS mod_max_share,
                CAST(ch_max AS DOUBLE) / CAST(n_keys AS DOUBLE) AS ch_max_share
         FROM c CROSS JOIN ms CROSS JOIN cs"""
    },
    // q168: identical md5 arm deal, exact counts, and the literal same
    // pooled-z expression text — the verdict is a stable graded fact
    // q196: identical user collapse + md5 deal as q168, the same fixed
    // integer step dials, the same cumulative walk under (first_us,
    // first_eid) and the same first-crossing selection
    "q196_sprt" -> {
      val rules = graft.ops.RelationalOps.SprtRules.map { case (n, u, d) =>
        s"('$n', CAST($u AS BIGINT), CAST($d AS BIGINT))" }.mkString(", ")
      val b = graft.ops.RelationalOps.SprtBoundMicro
      val cc = graft.ops.RelationalOps.AbConvCents
      val eid = graft.ops.RelationalOps.AbExperimentId
      s"""WITH u AS (SELECT CAST(user_id AS VARCHAR) AS uk,
                            MIN(epoch_us(ts)) AS first_us,
                            MIN(event_id) AS first_eid,
                            MAX(CASE WHEN event_type = 'purchase' AND value IS NOT NULL
                                     AND CAST(ROUND(value * 100) AS BIGINT) >= $cc
                                     THEN 1 ELSE 0 END) AS conv
                     FROM events GROUP BY 1),
              a AS (SELECT *, ('0x' || substr(md5('$eid:' || uk), 1, 12))::BIGINT % 2
                             AS arm FROM u),
              r(rule, up, down) AS (VALUES $rules),
              w AS (SELECT rule, arm, conv,
                           CAST(SUM(CASE WHEN conv = 1 THEN up ELSE down END)
                             OVER (PARTITION BY rule, arm
                                   ORDER BY first_us, first_eid
                                   ROWS UNBOUNDED PRECEDING) AS BIGINT) AS llr,
                           CAST(row_number() OVER (PARTITION BY rule, arm
                                   ORDER BY first_us, first_eid) AS BIGINT) AS i,
                           CAST(COUNT(*) OVER (PARTITION BY rule, arm) AS BIGINT) AS n_tot
                    FROM a CROSS JOIN r),
              cen AS (SELECT rule, arm,
                             CAST(COUNT(*) AS BIGINT) AS n_users,
                             CAST(SUM(conv) AS BIGINT) AS n_conv,
                             MAX(CASE WHEN i = n_tot THEN llr END) AS llr_final,
                             MIN(CASE WHEN llr >= $b THEN i END) AS n_h1,
                             MIN(CASE WHEN llr <= -$b THEN i END) AS n_h0
                      FROM w GROUP BY 1, 2),
              d AS (SELECT rule, arm, n_users, n_conv, llr_final,
                           CASE WHEN n_h1 IS NOT NULL AND (n_h0 IS NULL OR n_h1 <= n_h0)
                                  THEN 'accept_h1'
                                WHEN n_h0 IS NOT NULL THEN 'accept_h0'
                                ELSE 'continue' END AS decision,
                           CASE WHEN n_h1 IS NULL THEN n_h0
                                WHEN n_h0 IS NULL THEN n_h1
                                ELSE least(n_h1, n_h0) END AS n_at_decision
                    FROM cen)
         SELECT d.rule AS rule, d.arm AS arm, d.n_users AS n_users,
                d.n_conv AS n_conv, d.llr_final AS llr_final,
                d.decision AS decision, d.n_at_decision AS n_at_decision,
                w.llr AS llr_at_decision
         FROM d LEFT JOIN w ON w.rule = d.rule AND w.arm = d.arm
                            AND w.i = d.n_at_decision
         ORDER BY d.rule, d.arm"""
    },
    "q168_ab_test" -> {
      val (eid, crit) = (RelationalOps.AbExperimentId, RelationalOps.AbZCrit)
      s"""WITH u AS (SELECT CAST(user_id AS VARCHAR) AS uk,
                            MAX(CASE WHEN event_type = 'purchase' AND value IS NOT NULL
                                      AND CAST(ROUND(value * 100) AS BIGINT) >= ${RelationalOps.AbConvCents}
                                     THEN 1 ELSE 0 END) AS converted
                     FROM events GROUP BY 1),
              ar AS (SELECT uk, converted,
                            ('0x' || substr(md5('$eid:' || uk), 1, 12))::BIGINT % 2 AS arm
                     FROM u),
              c AS (SELECT CAST(COUNT(CASE WHEN arm = 0 THEN 1 END) AS BIGINT) AS n_a,
                           CAST(SUM(CASE WHEN arm = 0 THEN converted ELSE 0 END) AS BIGINT) AS conv_a,
                           CAST(COUNT(CASE WHEN arm = 1 THEN 1 END) AS BIGINT) AS n_b,
                           CAST(SUM(CASE WHEN arm = 1 THEN converted ELSE 0 END) AS BIGINT) AS conv_b
                    FROM ar),
              zc AS (SELECT c.*,
                            CAST(conv_a AS DOUBLE) / CAST(n_a AS DOUBLE) AS p_a,
                            CAST(conv_b AS DOUBLE) / CAST(n_b AS DOUBLE) AS p_b,
                            CASE WHEN n_a = 0 OR n_b = 0
                                   OR conv_a + conv_b = 0 OR conv_a + conv_b = n_a + n_b
                                 THEN CAST(NULL AS DOUBLE)
                                 ELSE (CAST(conv_a AS DOUBLE) / CAST(n_a AS DOUBLE)
                                       - CAST(conv_b AS DOUBLE) / CAST(n_b AS DOUBLE))
                                      / sqrt((CAST(conv_a + conv_b AS DOUBLE) / CAST(n_a + n_b AS DOUBLE))
                                             * (1e0 - CAST(conv_a + conv_b AS DOUBLE) / CAST(n_a + n_b AS DOUBLE))
                                             * (1e0 / CAST(n_a AS DOUBLE) + 1e0 / CAST(n_b AS DOUBLE)))
                            END AS z
                     FROM c)
         SELECT n_a, conv_a, n_b, conv_b, p_a, p_b, z,
                CASE WHEN z IS NULL THEN false ELSE abs(z) > $crit END AS significant
         FROM zc"""
    },
    // q162: identical hourly grain, dyadic weights, and cross-multiplied
    // integer burst rule; baseline is the one fixed-shape IEEE division
    "q162_burst_detector" -> {
      val w = RelationalOps.EwmaWindowHours
      val den = (1L << w) - 1
      s"""WITH hrs AS (SELECT epoch_us(ts) // ${RelationalOps.HourUs} AS h,
                              CAST(COUNT(*) AS BIGINT) AS n
                       FROM events GROUP BY 1),
              a AS (SELECT MIN(h) AS h0 FROM hrs),
              base AS (SELECT x.h AS h, x.n AS n,
                              CAST(COALESCE(SUM(y.n * (CAST(1 AS BIGINT)
                                     << CAST($w - (x.h - y.h) AS INT))), 0)
                                   AS BIGINT) AS ewma_num
                       FROM hrs x LEFT JOIN hrs y
                         ON y.h >= x.h - $w AND y.h < x.h
                       GROUP BY x.h, x.n)
         SELECT h, n, ewma_num,
                CAST($den AS BIGINT) AS ewma_den,
                h >= h0 + $w AS warm,
                CAST(ewma_num AS DOUBLE) / CAST($den AS DOUBLE) AS baseline,
                CASE WHEN h >= h0 + $w
                     THEN n * CAST($den AS BIGINT) > ${RelationalOps.BurstFactor} * ewma_num
                     ELSE CAST(NULL AS BOOLEAN) END AS burst
         FROM base CROSS JOIN a ORDER BY h"""
    },
    // q149: identical integer metrics, bin widths, minimal-cover quartile
    // dials, and CASE-comparison codes
    "q149_rfm_segments" -> {
      def dialSql(tbl: String, bin: String, p: String) =
        s"""${p}b AS (SELECT $bin AS b, CAST(COUNT(*) AS BIGINT) AS n FROM $tbl GROUP BY 1),
            ${p}c AS (SELECT x.b AS b, CAST(SUM(y.n) AS BIGINT) AS cum
                      FROM ${p}b x JOIN ${p}b y ON y.b <= x.b GROUP BY x.b),
            ${p}q AS (SELECT MIN(CASE WHEN cum * 4 >= nu THEN b END) AS ${bin}_q1,
                             MIN(CASE WHEN cum * 4 >= nu * 2 THEN b END) AS ${bin}_q2,
                             MIN(CASE WHEN cum * 4 >= nu * 3 THEN b END) AS ${bin}_q3
                      FROM ${p}c CROSS JOIN nu)"""
      def codeSql(bin: String) =
        s"""CAST(1 + (CASE WHEN $bin > ${bin}_q1 THEN 1 ELSE 0 END)
                   + (CASE WHEN $bin > ${bin}_q2 THEN 1 ELSE 0 END)
                   + (CASE WHEN $bin > ${bin}_q3 THEN 1 ELSE 0 END) AS INT)"""
      s"""WITH per AS (SELECT user_id,
                        MAX(epoch_us(ts) // ${RelationalOps.DayUs}) AS last_day,
                        CAST(COUNT(*) AS BIGINT) AS frequency,
                        CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS monetary_cents
                 FROM events GROUP BY user_id),
          a AS (SELECT MAX(last_day) AS corpus_day FROM per),
          u AS (SELECT user_id, corpus_day - last_day AS r_bin,
                       frequency, monetary_cents,
                       frequency // ${RelationalOps.RfmFreqBin} AS f_bin,
                       monetary_cents // ${RelationalOps.RfmMonetaryBinCents} AS m_bin
                FROM per CROSS JOIN a),
          nu AS (SELECT CAST(COUNT(*) AS BIGINT) AS nu FROM u),
          ${dialSql("u", "r_bin", "r")},
          ${dialSql("u", "f_bin", "f")},
          ${dialSql("u", "m_bin", "m")}
          SELECT user_id, r_bin AS recency_days, frequency,
                 CAST(monetary_cents AS DOUBLE) / 100.0 AS monetary,
                 ${codeSql("r_bin")} AS r_code,
                 ${codeSql("f_bin")} AS f_code,
                 ${codeSql("m_bin")} AS m_code,
                 concat('R', ${codeSql("r_bin")}, 'F', ${codeSql("f_bin")},
                        'M', ${codeSql("m_bin")}) AS segment
          FROM u CROSS JOIN rq CROSS JOIN fq CROSS JOIN mq
          ORDER BY user_id"""
    },
    // q151: identical basket collapse, co-keyed pair join, and exact
    // HUGEINT lift cut mirroring Spark's DECIMAL(38,0)
    "q151_basket_rules" ->
      s"""WITH b AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
          np AS (SELECT pk, CAST(COUNT(*) AS BIGINT) AS n_p FROM b GROUP BY pk),
          ntx AS (SELECT CAST(COUNT(DISTINCT ok) AS BIGINT) AS n_tx FROM b),
          pr AS (SELECT a.pk AS p1, b2.pk AS p2, CAST(COUNT(*) AS BIGINT) AS n_ab
                 FROM b a JOIN b b2 ON a.ok = b2.ok AND a.pk < b2.pk
                 GROUP BY 1, 2)
          SELECT p1, p2, n_ab, na.n_p AS n_a, nb.n_p AS n_b, n_tx,
                 CAST(n_ab AS DOUBLE) / CAST(na.n_p AS DOUBLE) AS conf_ab,
                 CAST(n_ab AS DOUBLE) / CAST(nb.n_p AS DOUBLE) AS conf_ba,
                 CAST(CAST(n_ab AS HUGEINT) * n_tx AS DOUBLE) /
                 CAST(CAST(na.n_p AS HUGEINT) * nb.n_p AS DOUBLE) AS lift
          FROM pr JOIN np na ON pr.p1 = na.pk JOIN np nb ON pr.p2 = nb.pk
               CROSS JOIN ntx
          WHERE n_ab >= ${RelationalOps.BasketMinSupport}
            AND ${RelationalOps.BasketLiftDen} * CAST(n_ab AS HUGEINT) * n_tx >=
                ${RelationalOps.BasketLiftNum} * CAST(na.n_p AS HUGEINT) * nb.n_p
          ORDER BY n_ab DESC, p1, p2""",
    // q152: identical strictly-prior IGNORE-NULLS window (the q48 as-of
    // syntax), exact cents, single-division shares
    "q152_attribution" ->
      s"""WITH t AS (SELECT user_id, event_type, epoch_us(ts) AS us, event_id,
                            CAST(ROUND(value * 100) AS BIGINT) AS cents
                     FROM events),
          w AS (SELECT event_type, cents,
                       last_value(CASE WHEN event_type <> '${RelationalOps.AttributionTarget}'
                                       THEN event_type END IGNORE NULLS)
                         OVER (PARTITION BY user_id ORDER BY us, event_id
                               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS touch
                FROM t),
          c AS (SELECT COALESCE(touch, '${RelationalOps.AttributionDirect}') AS channel,
                       CAST(COUNT(*) AS BIGINT) AS n_purchases,
                       CAST(SUM(cents) AS BIGINT) AS revenue_cents
                FROM w WHERE event_type = '${RelationalOps.AttributionTarget}'
                GROUP BY 1),
          tot AS (SELECT CAST(SUM(revenue_cents) AS BIGINT) AS t_cents,
                         CAST(SUM(n_purchases) AS BIGINT) AS t_n FROM c)
          SELECT channel, n_purchases,
                 CAST(revenue_cents AS DOUBLE) / 100.0 AS revenue,
                 CASE WHEN t_cents = 0 THEN CAST(NULL AS DOUBLE)
                      ELSE CAST(revenue_cents AS DOUBLE) / CAST(t_cents AS DOUBLE)
                 END AS revenue_share,
                 CAST(n_purchases AS DOUBLE) / CAST(t_n AS DOUBLE) AS purchase_share
          FROM c CROSS JOIN tot ORDER BY channel""",
    // q153: identical count-of-counts collapse, descending-cumulative
    // top-1% walk with exact boundary-class inclusion, HUGEINT moments
    "q153_key_skew" -> {
      val specs = Seq(("events", "user_id", "e"), ("orders", "o_custkey", "o"),
        ("lineitem", "l_suppkey", "s"), ("lineitem", "l_partkey", "p"))
      val ctes = specs.map { case (tbl, key, p) =>
        s"""${p}cnt AS (SELECT CAST($key AS VARCHAR) AS k, CAST(COUNT(*) AS BIGINT) AS c
                        FROM $tbl GROUP BY 1),
            ${p}coc AS (SELECT c, CAST(COUNT(*) AS BIGINT) AS m FROM ${p}cnt GROUP BY c),
            ${p}tot AS (SELECT CAST(SUM(c * m) AS BIGINT) AS n_rows,
                               CAST(SUM(m) AS BIGINT) AS n_keys,
                               MAX(c) AS max_count,
                               SUM(CAST(c AS HUGEINT) * c * m) AS sum_c2
                        FROM ${p}coc),
            ${p}cum AS (SELECT x.c AS c, x.m AS m,
                               CAST(COALESCE(SUM(y.m), 0) AS BIGINT) AS keys_above,
                               CAST(COALESCE(SUM(y.c * y.m), 0) AS BIGINT) AS rows_above
                        FROM ${p}coc x LEFT JOIN ${p}coc y ON y.c > x.c
                        GROUP BY x.c, x.m),
            ${p}top AS (SELECT MAX(rows_above + least(m, target - keys_above) * c)
                                 AS top1pct_rows
                        FROM (SELECT ${p}cum.*, (n_keys + 99) // 100 AS target
                              FROM ${p}cum CROSS JOIN ${p}tot)
                        WHERE keys_above < target),
            ${p}fin AS (SELECT '$tbl' AS tbl, '$key' AS key, n_rows, n_keys, max_count,
                               CAST(max_count AS DOUBLE) / CAST(n_rows AS DOUBLE) AS max_share,
                               top1pct_rows,
                               CAST(top1pct_rows AS DOUBLE) / CAST(n_rows AS DOUBLE) AS top1pct_share,
                               CASE WHEN n_keys <= 1 THEN CAST(NULL AS DOUBLE)
                                    ELSE sqrt(CAST(n_keys AS HUGEINT) * sum_c2
                                              - CAST(n_rows AS HUGEINT) * n_rows + 0e0)
                                         / CAST(n_rows AS DOUBLE)
                               END AS cv
                        FROM ${p}tot CROSS JOIN ${p}top)"""
      }.mkString(",\n          ")
      s"""WITH $ctes
          SELECT * FROM (${specs.map(x => s"SELECT * FROM ${x._3}fin")
            .mkString(" UNION ALL ")})
          ORDER BY tbl, key"""
    },
    // q160: the zone map rebuilt from the definition — one per-day
    // aggregate, the same NULL-bounds skip rule, soundness re-derived
    "q160_zonemap_audit" -> {
      val dayUs = graft.ops.RelationalOps.DayUs
      val off = SketchOps.HllRangeStartOff
      val offEnd = SketchOps.HllRangeStartOff + SketchOps.HllRangeLen
      val (lo, hi) = (graft.ops.ScaleOps.ZoneCentsLo, graft.ops.ScaleOps.ZoneCentsHi)
      s"""WITH base AS (SELECT epoch_us(ts) // $dayUs AS day,
                               epoch_us(ts) AS ts_us,
                               CASE WHEN value IS NULL THEN CAST(NULL AS BIGINT)
                                    ELSE CAST(ROUND(value * 100) AS BIGINT) END AS cents
                        FROM events),
              a AS (SELECT MIN(day) AS d0 FROM base),
              z AS (SELECT day, CAST(COUNT(*) AS BIGINT) AS n_rows,
                           MIN(ts_us) AS ts_us_min, MAX(ts_us) AS ts_us_max,
                           MIN(cents) AS cents_min, MAX(cents) AS cents_max,
                           MAX((d0 + $off) * $dayUs) AS ts_lo_us,
                           MAX((d0 + $offEnd) * $dayUs) AS ts_hi_us_excl,
                           CAST(COUNT(CASE WHEN ts_us >= (d0 + $off) * $dayUs
                                            AND ts_us < (d0 + $offEnd) * $dayUs
                                           THEN 1 END) AS BIGINT) AS n_match_ts,
                           CAST(COUNT(CASE WHEN cents >= $lo AND cents <= $hi
                                           THEN 1 END) AS BIGINT) AS n_match_cents
                    FROM base CROSS JOIN a GROUP BY day),
              s AS (SELECT z.*,
                           ts_us_max < ts_lo_us OR ts_us_min >= ts_hi_us_excl AS skip_ts,
                           cents_max IS NULL OR cents_max < $lo
                             OR cents_min > $hi AS skip_cents
                    FROM z)
         SELECT day, n_rows, ts_us_min, ts_us_max, cents_min, cents_max,
                skip_ts, n_match_ts,
                NOT skip_ts OR n_match_ts = 0 AS skip_sound_ts,
                skip_cents, n_match_cents,
                NOT skip_cents OR n_match_cents = 0 AS skip_sound_cents
         FROM s ORDER BY day"""
    },
    // q182: tombstones = the q173 LWW collapse filtered to final
    // deletes; identical byte proxy, ledger arithmetic, and tie rule
    "q182_delete_amplification" -> {
      val dayUs = graft.ops.RelationalOps.DayUs
      s"""WITH ch AS (SELECT user_id AS key, epoch_us(ts) AS us, event_id,
                             CASE WHEN event_type = 'error' THEN 'delete'
                                  ELSE 'upsert' END AS op
                      FROM events),
              tw AS (SELECT key, max({'u': us, 'e': event_id, 'o': op}) AS w
                     FROM ch GROUP BY key),
              tomb AS (SELECT key FROM tw WHERE w.o = 'delete'),
              r AS (SELECT epoch_us(ts) // $dayUs AS day, user_id AS key,
                           32 + length(CAST(user_id AS VARCHAR))
                             + length(event_type) AS b
                    FROM events),
              pf AS (SELECT day, CAST(COUNT(*) AS BIGINT) AS n_rows,
                            CAST(SUM(b) AS BIGINT) AS bytes,
                            CAST(COUNT(CASE WHEN t.key IS NOT NULL THEN 1 END)
                                 AS BIGINT) AS n_del,
                            CAST(COALESCE(SUM(CASE WHEN t.key IS NOT NULL
                                                   THEN b END), 0) AS BIGINT)
                              AS del_bytes
                     FROM r LEFT JOIN tomb t USING (key) GROUP BY day),
              lg AS (SELECT day, n_rows, n_del,
                            CASE WHEN n_del = 0 THEN CAST(0 AS BIGINT)
                                 ELSE n_rows - n_del END AS n_rewrite,
                            CASE WHEN n_del = 0 THEN CAST(0 AS BIGINT)
                                 ELSE CAST(1000 AS BIGINT) * (n_rows - n_del)
                                      // n_del END AS amp_milli,
                            CASE WHEN n_del = 0 THEN CAST(0 AS BIGINT)
                                 ELSE bytes - del_bytes END AS rewrite_bytes,
                            CASE WHEN n_del = 0 THEN CAST(0 AS BIGINT)
                                 ELSE 16 + 4 * n_del END AS dv_bytes,
                            CASE WHEN n_del = 0 THEN 'none'
                                 WHEN bytes - del_bytes < 16 + 4 * n_del THEN 'rewrite'
                                 ELSE 'dv' END AS kind,
                            CASE WHEN n_del = 0 THEN CAST(0 AS BIGINT)
                                 ELSE least(bytes - del_bytes, 16 + 4 * n_del)
                            END AS chosen_bytes
                     FROM pf),
              sm AS (SELECT CAST(-1 AS BIGINT) AS day,
                            CAST(SUM(n_rows) AS BIGINT) AS n_rows,
                            CAST(SUM(n_del) AS BIGINT) AS n_del,
                            CAST(SUM(n_rewrite) AS BIGINT) AS n_rewrite,
                            CASE WHEN SUM(n_del) = 0 THEN CAST(0 AS BIGINT)
                                 ELSE CAST(1000 * SUM(n_rewrite) // SUM(n_del)
                                           AS BIGINT) END AS amp_milli,
                            CAST(SUM(rewrite_bytes) AS BIGINT) AS rewrite_bytes,
                            CAST(SUM(dv_bytes) AS BIGINT) AS dv_bytes,
                            'total' AS kind,
                            CAST(SUM(chosen_bytes) AS BIGINT) AS chosen_bytes
                     FROM lg)
         SELECT * FROM lg UNION ALL SELECT * FROM sm ORDER BY day"""
    },
    // q185: the q179 bin CTE verbatim + the q160 zone/skip arithmetic
    // at bin granularity + the prefix-max disjointness law
    "q185_compaction_zones" -> {
      val dayUs = graft.ops.RelationalOps.DayUs
      val nb = graft.ops.ScaleOps.CompactionBins
      val off = SketchOps.HllRangeStartOff
      val offEnd = SketchOps.HllRangeStartOff + SketchOps.HllRangeLen
      s"""WITH files AS (SELECT epoch_us(ts) // $dayUs AS day,
                                CAST(SUM(32 + length(CAST(user_id AS VARCHAR))
                                         + length(event_type)) AS BIGINT) AS bytes
                         FROM events GROUP BY 1),
              tot AS (SELECT CAST((SUM(bytes) + ${nb - 1}) // $nb AS BIGINT) AS target
                      FROM files),
              pre AS (SELECT a.day AS day,
                             CAST(SUM(b.bytes) - MAX(a.bytes) AS BIGINT) AS cum_excl
                      FROM files a JOIN files b ON b.day <= a.day
                      GROUP BY a.day),
              bins AS (SELECT day, cum_excl // target AS bin
                       FROM pre CROSS JOIN tot),
              a AS (SELECT MIN(day) AS d0 FROM bins),
              r AS (SELECT bin, e.day AS day, epoch_us(ts) AS ts_us,
                           (d0 + $off) * $dayUs AS ts_lo_us,
                           (d0 + $offEnd) * $dayUs AS ts_hi_us_excl
                    FROM (SELECT epoch_us(ts) // $dayUs AS day, ts FROM events) e
                    JOIN bins USING (day) CROSS JOIN a),
              pb AS (SELECT bin, CAST(COUNT(*) AS BIGINT) AS n_rows,
                            MIN(day) AS first_day, MAX(day) AS last_day,
                            MIN(ts_us) AS ts_us_min, MAX(ts_us) AS ts_us_max,
                            MAX(ts_lo_us) AS ts_lo_us,
                            MAX(ts_hi_us_excl) AS ts_hi_us_excl,
                            CAST(COUNT(CASE WHEN ts_us >= ts_lo_us
                                             AND ts_us < ts_hi_us_excl
                                            THEN 1 END) AS BIGINT) AS n_match_ts
                     FROM r GROUP BY bin),
              d AS (SELECT x.bin AS bin, MAX(p.last_day) AS prev_last_day
                    FROM pb x LEFT JOIN pb p ON p.bin < x.bin
                    GROUP BY x.bin)
         SELECT bin, n_rows, first_day, last_day, ts_us_min, ts_us_max,
                COALESCE(prev_last_day < first_day, true) AS disjoint_ok,
                ts_us_max < ts_lo_us OR ts_us_min >= ts_hi_us_excl AS skip_ts,
                n_match_ts,
                NOT (ts_us_max < ts_lo_us OR ts_us_min >= ts_hi_us_excl)
                  OR n_match_ts = 0 AS skip_sound_ts
         FROM pb JOIN d USING (bin) ORDER BY bin"""
    },
    // q201: identical ingest-order lag runs, the same exact byte
    // ledgers (shared bit-width CASE ladder — never log2), the same
    // dict < plain < rle tie rule; all operands nonnegative so // = DIV
    "q201_encoding_audit" -> {
      def bits(d: String) = graft.ops.ScaleOps.bitsCase(d)
      s"""WITH base AS (SELECT epoch_us(ts) // 86400000000 AS day,
                               epoch_us(ts) AS us, event_id, event_type,
                               CASE WHEN value IS NULL THEN -1
                                    ELSE CAST(ROUND(value * 100) AS BIGINT) END AS cents,
                               epoch_us(ts) // 3600000000 AS hour
                        FROM events),
              lagd AS (SELECT *, lag(event_type) OVER w AS p_et,
                              lag(cents) OVER w AS p_c, lag(hour) OVER w AS p_h
                       FROM base WINDOW w AS (PARTITION BY day ORDER BY us, event_id)),
              cen AS (SELECT day, CAST(COUNT(*) AS BIGINT) AS n,
                             CAST(SUM(len(event_type)) AS BIGINT) AS et_len,
                             CAST(COUNT(DISTINCT event_type) AS BIGINT) AS et_d,
                             CAST(SUM(CASE WHEN p_et IS NULL OR event_type != p_et
                                           THEN 1 ELSE 0 END) AS BIGINT) AS et_runs,
                             CAST(SUM(CASE WHEN p_et IS NULL OR event_type != p_et
                                           THEN len(event_type) ELSE 0 END) AS BIGINT)
                               AS et_head_len,
                             CAST(COUNT(DISTINCT cents) AS BIGINT) AS c_d,
                             CAST(SUM(CASE WHEN p_c IS NULL OR cents != p_c
                                           THEN 1 ELSE 0 END) AS BIGINT) AS c_runs,
                             CAST(COUNT(DISTINCT hour) AS BIGINT) AS h_d,
                             CAST(SUM(CASE WHEN p_h IS NULL OR hour != p_h
                                           THEN 1 ELSE 0 END) AS BIGINT) AS h_runs
                      FROM lagd GROUP BY day),
              ed AS (SELECT day, CAST(SUM(len(event_type)) AS BIGINT) AS et_dict_len
                     FROM (SELECT DISTINCT day, event_type FROM base) GROUP BY day),
              led AS (SELECT cen.day AS day, n,
                             et_d, et_runs,
                             et_len + 4 * n AS et_plain,
                             et_dict_len + 4 * et_d
                               + (n * (${bits("et_d")}) + 7) // 8 AS et_dict,
                             et_head_len + 8 * et_runs AS et_rle,
                             c_d, c_runs,
                             8 * n AS c_plain,
                             8 * c_d + (n * (${bits("c_d")}) + 7) // 8 AS c_dict,
                             12 * c_runs AS c_rle,
                             h_d, h_runs,
                             8 * n AS h_plain,
                             8 * h_d + (n * (${bits("h_d")}) + 7) // 8 AS h_dict,
                             12 * h_runs AS h_rle
                      FROM cen JOIN ed ON cen.day = ed.day),
              st AS (SELECT day, n, 'cents' AS col, c_d AS ndv, c_runs AS runs,
                            c_plain AS plain_bytes, c_dict AS dict_bytes,
                            c_rle AS rle_bytes FROM led
                     UNION ALL
                     SELECT day, n, 'event_type', et_d, et_runs,
                            et_plain, et_dict, et_rle FROM led
                     UNION ALL
                     SELECT day, n, 'hour', h_d, h_runs,
                            h_plain, h_dict, h_rle FROM led)
         SELECT day, col, n, ndv, runs, plain_bytes, dict_bytes, rle_bytes,
                CASE WHEN dict_bytes <= plain_bytes AND dict_bytes <= rle_bytes
                     THEN 'dict'
                     WHEN plain_bytes <= rle_bytes THEN 'plain'
                     ELSE 'rle' END AS chosen,
                least(dict_bytes, plain_bytes, rle_bytes) AS chosen_bytes,
                1000000 * (plain_bytes - least(dict_bytes, plain_bytes, rle_bytes))
                  // plain_bytes AS savings_micro
         FROM st ORDER BY day, col"""
    },
    // q179: identical byte proxy, the same bounded self-join prefix
    // arithmetic (exclusive cumsum, 1-based seq), ceil via (x+t-1)//t
    "q179_compaction_plan" -> {
      val dayUs = graft.ops.RelationalOps.DayUs
      val nb = graft.ops.ScaleOps.CompactionBins
      s"""WITH files AS (SELECT epoch_us(ts) // $dayUs AS day,
                                CAST(SUM(32 + length(CAST(user_id AS VARCHAR)) + length(event_type))
                                     AS BIGINT) AS bytes
                         FROM events GROUP BY 1),
              tot AS (SELECT CAST(SUM(bytes) AS BIGINT) AS total,
                             MAX(bytes) AS max_file,
                             CAST(COUNT(*) AS BIGINT) AS n_files_all,
                             CAST((SUM(bytes) + ${nb - 1}) // $nb AS BIGINT) AS target
                      FROM files),
              pre AS (SELECT a.day AS day, MAX(a.bytes) AS bytes,
                             CAST(SUM(b.bytes) - MAX(a.bytes) AS BIGINT) AS cum_excl,
                             CAST(COUNT(*) AS BIGINT) AS seq
                      FROM files a JOIN files b ON b.day <= a.day
                      GROUP BY a.day),
              bn AS (SELECT day, bytes, seq, cum_excl // target AS bin,
                            target, max_file, total, n_files_all
                     FROM pre CROSS JOIN tot),
              pb AS (SELECT bin, CAST(COUNT(*) AS BIGINT) AS n_files,
                            MIN(day) AS first_day, MAX(day) AS last_day,
                            CAST(SUM(bytes) AS BIGINT) AS bin_bytes,
                            CAST(SUM(bytes) AS BIGINT) < MAX(target) + MAX(max_file) AS cap_ok,
                            MAX(seq) - MIN(seq) + 1 = COUNT(*) AS contig_ok
                     FROM bn GROUP BY bin),
              sm AS (SELECT CAST(-1 AS BIGINT) AS bin,
                            CAST(SUM(n_files) AS BIGINT) AS n_files,
                            CAST(NULL AS BIGINT) AS first_day,
                            CAST(NULL AS BIGINT) AS last_day,
                            CAST(SUM(bin_bytes) AS BIGINT) AS bin_bytes,
                            CAST(SUM(bin_bytes) AS BIGINT) = MAX(tot.total)
                              AND CAST(SUM(n_files) AS BIGINT) = MAX(tot.n_files_all) AS cap_ok,
                            COUNT(*) <= (MAX(tot.total) + MAX(tot.target) - 1) // MAX(tot.target)
                              AND (MAX(tot.max_file) > MAX(tot.target)
                                   OR COUNT(*) = (MAX(tot.total) + MAX(tot.target) - 1)
                                        // MAX(tot.target)) AS contig_ok
                     FROM pb CROSS JOIN tot)
         SELECT * FROM pb UNION ALL SELECT * FROM sm ORDER BY bin"""
    },
    // q175: identical Morton recipe (shift spelling aside), same
    // predicates and skip rules as q160, null cents in the all-ones bin
    // q204: the q175 protocol under the Hilbert curve — identical base/
    // anchor/bin CTEs, the shared per-level expression strings as CTEs,
    // identical zone aggregation
    "q204_hilbert_audit" -> {
      val dayUs = graft.ops.RelationalOps.DayUs
      val off = SketchOps.HllRangeStartOff
      val offEnd = SketchOps.HllRangeStartOff + SketchOps.HllRangeLen
      val (lo, hi) = (graft.ops.ScaleOps.ZoneCentsLo, graft.ops.ScaleOps.ZoneCentsHi)
      val w = SketchOps.HistBinCents
      val zPerShard = (1 << (2 * graft.ops.ScaleOps.ZOrderBits)) /
        graft.ops.ScaleOps.ZOrderShards
      val carry = Seq("ts_us", "cents", "ts_lo_us", "ts_hi_us_excl")
      val (ctes, last) = graft.ops.ScaleOps.hilbertDuckCtes("zb", carry)
      s"""WITH base AS (SELECT epoch_us(ts) // $dayUs AS day,
                               epoch_us(ts) AS ts_us,
                               CASE WHEN value IS NULL THEN CAST(NULL AS BIGINT)
                                    ELSE CAST(ROUND(value * 100) AS BIGINT) END AS cents
                        FROM events),
              a AS (SELECT MIN(day) AS d0 FROM base),
              zb AS (SELECT ts_us, cents,
                            CAST(day - d0 AS INT) AS hx,
                            CAST(COALESCE((cents - (((cents % $w) + $w) % $w)) // $w,
                                          ${graft.ops.ScaleOps.ZOrderNullBin}) AS INT) AS hy,
                            CAST(0 AS BIGINT) AS h,
                            (d0 + $off) * $dayUs AS ts_lo_us,
                            (d0 + $offEnd) * $dayUs AS ts_hi_us_excl
                     FROM base CROSS JOIN a),
              $ctes,
              zz AS (SELECT ts_us, cents, ts_lo_us, ts_hi_us_excl,
                            h // $zPerShard AS shard
                     FROM $last),
              g AS (SELECT shard, CAST(COUNT(*) AS BIGINT) AS n_rows,
                           MIN(ts_us) AS ts_us_min, MAX(ts_us) AS ts_us_max,
                           MIN(cents) AS cents_min, MAX(cents) AS cents_max,
                           MAX(ts_lo_us) AS ts_lo_us,
                           MAX(ts_hi_us_excl) AS ts_hi_us_excl,
                           CAST(COUNT(CASE WHEN ts_us >= ts_lo_us
                                            AND ts_us < ts_hi_us_excl
                                           THEN 1 END) AS BIGINT) AS n_match_ts,
                           CAST(COUNT(CASE WHEN cents >= $lo AND cents <= $hi
                                           THEN 1 END) AS BIGINT) AS n_match_cents
                    FROM zz GROUP BY shard),
              s AS (SELECT g.*,
                           ts_us_max < ts_lo_us OR ts_us_min >= ts_hi_us_excl AS skip_ts,
                           cents_max IS NULL OR cents_max < $lo
                             OR cents_min > $hi AS skip_cents
                    FROM g)
         SELECT shard, n_rows, ts_us_min, ts_us_max, cents_min, cents_max,
                skip_ts, n_match_ts,
                NOT skip_ts OR n_match_ts = 0 AS skip_sound_ts,
                skip_cents, n_match_cents,
                NOT skip_cents OR n_match_cents = 0 AS skip_sound_cents
         FROM s ORDER BY shard"""
    },
    // q216: identical dials, the same 3-way candidate stack (UNION ALL),
    // the same bounded collapse, skew/small census, and per-predicate
    // scan sums; every SUM cast (DuckDB sums to HUGEINT)
    "q216_partition_advisor" -> {
      val dayUs = graft.ops.RelationalOps.DayUs
      val nb = graft.ops.ScaleOps.PartUserBuckets
      val po = graft.ops.ScaleOps.PartProbeDayOff
      s"""WITH dials AS (SELECT MIN(epoch_us(ts) // $dayUs) AS d0,
                                MIN(user_id) AS u0, MIN(event_type) AS t0
                         FROM events),
              -- floor-mod spelling: Spark pmod is nonnegative for a positive
              -- modulus while DuckDB % carries the dividend's sign, so a
              -- negative user_id would bucket differently; ((x % m) + m) % m
              -- equals pmod for every sign of x
              base AS (SELECT CAST(epoch_us(ts) // $dayUs AS VARCHAR) AS k_day,
                              CAST(COALESCE(((user_id % $nb) + $nb) % $nb, -1) AS VARCHAR)
                                AS k_user_bucket,
                              COALESCE(event_type, '<null>') AS k_event_type,
                              epoch_us(ts) // $dayUs = d0 + $po AS m_day,
                              COALESCE(user_id = u0, false) AS m_user,
                              COALESCE(event_type = t0, false) AS m_type
                       FROM events CROSS JOIN dials),
              st AS (SELECT 'day' AS cand, k_day AS k, m_day, m_user, m_type FROM base
                     UNION ALL
                     SELECT 'user_bucket', k_user_bucket, m_day, m_user, m_type FROM base
                     UNION ALL
                     SELECT 'event_type', k_event_type, m_day, m_user, m_type FROM base),
              sizes AS (SELECT cand, k, CAST(COUNT(*) AS BIGINT) AS n,
                               MAX(CASE WHEN m_day THEN 1 ELSE 0 END) AS t_day,
                               MAX(CASE WHEN m_user THEN 1 ELSE 0 END) AS t_user,
                               MAX(CASE WHEN m_type THEN 1 ELSE 0 END) AS t_type
                        FROM st GROUP BY 1, 2),
              cens AS (SELECT cand, CAST(COUNT(*) AS BIGINT) AS n_parts,
                              CAST(SUM(n) AS BIGINT) AS total_rows,
                              MAX(n) AS max_part_rows,
                              CAST(1000000 * MAX(n) * COUNT(*) // SUM(n) AS BIGINT)
                                AS skew_micro
                       FROM sizes GROUP BY 1),
              small AS (SELECT s.cand AS cand,
                               CAST(COALESCE(SUM(CASE WHEN n * n_parts * 10 < total_rows
                                                      THEN 1 END), 0) AS BIGINT) AS n_small
                        FROM sizes s JOIN cens c ON s.cand = c.cand GROUP BY 1),
              sc AS (SELECT cand, pred,
                            CAST(COALESCE(SUM(CASE WHEN t = 1 THEN n END), 0) AS BIGINT)
                              AS scan_rows
                     FROM (SELECT cand, n, 'one_day' AS pred, t_day AS t FROM sizes
                           UNION ALL SELECT cand, n, 'one_user', t_user FROM sizes
                           UNION ALL SELECT cand, n, 'one_type', t_type FROM sizes)
                     GROUP BY 1, 2),
              mt AS (SELECT 'one_day' AS pred,
                            CAST(COALESCE(SUM(CASE WHEN m_day THEN 1 END), 0) AS BIGINT)
                              AS match_rows FROM base
                     UNION ALL
                     SELECT 'one_user',
                            CAST(COALESCE(SUM(CASE WHEN m_user THEN 1 END), 0) AS BIGINT)
                     FROM base
                     UNION ALL
                     SELECT 'one_type',
                            CAST(COALESCE(SUM(CASE WHEN m_type THEN 1 END), 0) AS BIGINT)
                     FROM base)
         SELECT sc.cand AS cand, sc.pred AS pred, n_parts, total_rows,
                max_part_rows, skew_micro, n_small, match_rows, scan_rows,
                CAST(1000000 AS BIGINT) * scan_rows // total_rows AS scan_micro,
                scan_rows >= match_rows AS prune_sound
         FROM sc JOIN cens ON sc.cand = cens.cand
                 JOIN small ON sc.cand = small.cand
                 JOIN mt ON sc.pred = mt.pred
         ORDER BY cand, pred"""
    },
    "q175_zorder_audit" -> {
      val dayUs = graft.ops.RelationalOps.DayUs
      val off = SketchOps.HllRangeStartOff
      val offEnd = SketchOps.HllRangeStartOff + SketchOps.HllRangeLen
      val (lo, hi) = (graft.ops.ScaleOps.ZoneCentsLo, graft.ops.ScaleOps.ZoneCentsHi)
      val w = SketchOps.HistBinCents
      val zPerShard = (1 << (2 * graft.ops.ScaleOps.ZOrderBits)) /
        graft.ops.ScaleOps.ZOrderShards
      s"""WITH base AS (SELECT epoch_us(ts) // $dayUs AS day,
                               epoch_us(ts) AS ts_us,
                               CASE WHEN value IS NULL THEN CAST(NULL AS BIGINT)
                                    ELSE CAST(ROUND(value * 100) AS BIGINT) END AS cents
                        FROM events),
              a AS (SELECT MIN(day) AS d0 FROM base),
              zb AS (SELECT ts_us, cents,
                            CAST(day - d0 AS INT) AS di,
                            CAST(COALESCE((cents - (((cents % $w) + $w) % $w)) // $w,
                                          ${graft.ops.ScaleOps.ZOrderNullBin}) AS INT) AS bi,
                            (d0 + $off) * $dayUs AS ts_lo_us,
                            (d0 + $offEnd) * $dayUs AS ts_hi_us_excl
                     FROM base CROSS JOIN a),
              zz AS (SELECT ts_us, cents, ts_lo_us, ts_hi_us_excl,
                            ${graft.ops.ScaleOps.mortonDuck("di", "bi")} // $zPerShard AS shard
                     FROM zb),
              g AS (SELECT shard, CAST(COUNT(*) AS BIGINT) AS n_rows,
                           MIN(ts_us) AS ts_us_min, MAX(ts_us) AS ts_us_max,
                           MIN(cents) AS cents_min, MAX(cents) AS cents_max,
                           MAX(ts_lo_us) AS ts_lo_us,
                           MAX(ts_hi_us_excl) AS ts_hi_us_excl,
                           CAST(COUNT(CASE WHEN ts_us >= ts_lo_us
                                            AND ts_us < ts_hi_us_excl
                                           THEN 1 END) AS BIGINT) AS n_match_ts,
                           CAST(COUNT(CASE WHEN cents >= $lo AND cents <= $hi
                                           THEN 1 END) AS BIGINT) AS n_match_cents
                    FROM zz GROUP BY shard),
              s AS (SELECT g.*,
                           ts_us_max < ts_lo_us OR ts_us_min >= ts_hi_us_excl AS skip_ts,
                           cents_max IS NULL OR cents_max < $lo
                             OR cents_min > $hi AS skip_cents
                    FROM g)
         SELECT shard, n_rows, ts_us_min, ts_us_max, cents_min, cents_max,
                skip_ts, n_match_ts,
                NOT skip_ts OR n_match_ts = 0 AS skip_sound_ts,
                skip_cents, n_match_cents,
                NOT skip_cents OR n_match_cents = 0 AS skip_sound_cents
         FROM s ORDER BY shard"""
    },
    // q144: identical total ordering ((us, event_id)) under the same
    // user-partitioned lead; counts exact, p one IEEE division
    "q144_markov_transitions" ->
      """WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS us, event_id
                    FROM events),
          t AS (SELECT event_type AS from_type,
                       lead(event_type, 1) OVER (PARTITION BY user_id
                         ORDER BY us, event_id) AS to_type
                FROM e),
          c AS (SELECT from_type, to_type, CAST(COUNT(*) AS BIGINT) AS n
                FROM t WHERE to_type IS NOT NULL GROUP BY 1, 2),
          tot AS (SELECT from_type, CAST(SUM(n) AS BIGINT) AS n_from
                  FROM c GROUP BY 1)
          SELECT from_type, to_type, n, n_from,
                 CAST(n AS DOUBLE) / CAST(n_from AS DOUBLE) AS p
          FROM c JOIN tot USING (from_type)
          ORDER BY from_type, to_type""",
    // q138/q139: same day grain (floor-divided epoch-µs) and the same
    // shared window constant on both engines
    "q138_retention" ->
      s"""WITH e AS (SELECT DISTINCT user_id,
                            epoch_us(ts) // ${RelationalOps.DayUs} AS day FROM events),
          f AS (SELECT user_id, MIN(day) AS cohort_day FROM e GROUP BY user_id),
          sizes AS (SELECT cohort_day, COUNT(*) AS cohort_users FROM f GROUP BY cohort_day),
          cells AS (SELECT cohort_day, day - cohort_day AS period, COUNT(*) AS n_active
                    FROM e JOIN f USING (user_id) GROUP BY 1, 2)
          SELECT cohort_day, period, cohort_users, n_active,
                 CAST(n_active AS DOUBLE) / CAST(cohort_users AS DOUBLE) AS retention
          FROM cells JOIN sizes USING (cohort_day)
          ORDER BY cohort_day, period""",
    "q139_stickiness" ->
      s"""WITH e AS (SELECT DISTINCT user_id,
                            epoch_us(ts) // ${RelationalOps.DayUs} AS day FROM events),
          dau AS (SELECT day, COUNT(*) AS dau FROM e GROUP BY day),
          w AS (SELECT DISTINCT user_id, day + r.range AS day
                FROM e, range(${RelationalOps.StickyWindowDays}) r),
          wau AS (SELECT day, COUNT(*) AS wau FROM w GROUP BY day)
          SELECT day, dau, wau,
                 CAST(dau AS DOUBLE) / CAST(wau AS DOUBLE) AS stickiness
          FROM dau JOIN wau USING (day)
          ORDER BY day""",
    "q29_order_sequence" ->
      """SELECT o_custkey, o_orderkey,
                price_c / 100.0 AS price,
                lag(price_c, 1) OVER w / 100.0 AS prev_price,
                lead(price_c, 1) OVER w / 100.0 AS next_price,
                first_value(price_c) OVER w / 100.0 AS first_price
         FROM (SELECT o_custkey, o_orderkey, o_orderdate,
                      CAST(ROUND(o_totalprice * 100) AS BIGINT) AS price_c
               FROM orders WHERE o_custkey < 50)
         WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
         ORDER BY o_custkey, o_orderkey""",
    "q46_users_in_either" ->
      """SELECT DISTINCT user_id FROM events
         WHERE event_type IN ('purchase', 'error') ORDER BY user_id""",
    "q47_orders_outer" ->
      """SELECT c_custkey, c_name, COUNT(o_orderkey) AS n_orders,
                COALESCE(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) / 100.0, 0.0) AS spend
         FROM customer LEFT OUTER JOIN orders ON c_custkey = o_custkey
         GROUP BY c_custkey, c_name ORDER BY c_custkey""",
    "q48_asof_join" ->
      """SELECT event_id, user_id, ts, ref_id, ref_ts FROM (
           SELECT event_id, user_id, ts, event_type,
                  last_value(CASE WHEN event_type = 'signup' THEN event_id END IGNORE NULLS)
                    OVER w AS ref_id,
                  last_value(CASE WHEN event_type = 'signup' THEN ts END IGNORE NULLS)
                    OVER w AS ref_ts
           FROM events
           WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
         WHERE event_type = 'purchase' ORDER BY event_id""",
    // q126: DuckDB plans the pure range predicate natively (IEJoin); the
    // engine's bucketed form must produce the identical aggregate
    "q126_interval_join" ->
      s"""WITH a AS (SELECT event_id, epoch_us(ts) AS us_a FROM events
                     WHERE event_type = 'signup'),
          t AS (SELECT epoch_us(ts) AS us_t,
                       CAST(ROUND(value * 100) AS BIGINT) AS cents
                FROM events)
          SELECT a.event_id AS event_id,
                 CAST(COUNT(t.us_t) AS BIGINT) AS n_follow,
                 COALESCE(SUM(t.cents), 0) / 100.0 AS total_value
          FROM a LEFT JOIN t ON t.us_t > a.us_a
                            AND t.us_t <= a.us_a + ${RelationalOps.IntervalUs}
          GROUP BY a.event_id ORDER BY event_id""",
    "q49_shipping_priority" ->
      """SELECT l_orderkey,
                SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)
                    * (100 - CAST(ROUND(l_discount * 100) AS BIGINT))) / 10000.0 AS revenue,
                o_orderdate, o_orderpriority
         FROM customer
         JOIN orders ON c_custkey = o_custkey
         JOIN lineitem ON o_orderkey = l_orderkey
         WHERE c_mktsegment = 'BUILDING'
           AND o_orderdate < TIMESTAMP '1995-03-15 00:00:00'
           AND l_shipdate > TIMESTAMP '1995-03-15 00:00:00'
         GROUP BY l_orderkey, o_orderdate, o_orderpriority
         ORDER BY revenue DESC, l_orderkey LIMIT 10""",
    "q51_cohort_pivot" ->
      """SELECT user_id % 10 AS cohort,
                COUNT(CASE WHEN event_type = 'click' THEN 1 END) AS click,
                COUNT(CASE WHEN event_type = 'error' THEN 1 END) AS error,
                COUNT(CASE WHEN event_type = 'purchase' THEN 1 END) AS purchase,
                COUNT(CASE WHEN event_type = 'signup' THEN 1 END) AS signup,
                COUNT(CASE WHEN event_type = 'view' THEN 1 END) AS view
         FROM events GROUP BY 1 ORDER BY cohort""",
    "q52_token_frequencies" ->
      """SELECT token, COUNT(*) AS n
         FROM (SELECT unnest(str_split(text, ' ')) AS token FROM documents)
         GROUP BY token ORDER BY n DESC, token""",
  ) ++ TextOps.oracles ++ DedupOps.oracles ++ SimilarityOps.oracles ++
    PipelineOps.oracles ++ SketchOps.oracles ++ graft.ops.GraphOps.oracles ++
    graft.ops.BpeOps.oracles ++ graft.multimodal.MediaOps.oracles ++
    graft.ops.QualityModelOps.oracles ++ graft.ops.ProfileOps.oraclesWithBucketed +
    // q71 composes the three component oracles verbatim (q61 quality, q66
    // dedup survivorship, q70 decontamination) — the verdict's inputs
    // cannot drift from the individually-hash-verified queries
    ("q71_corpus_decision" -> q71OracleSql) +
    // q89 composes the q84 scrub chain (over the shared dirty-text
    // expression) + the q86 redact chain + the q71 verdict, all from the
    // same generated fragments the component oracles use
    ("q89_corpus_render" ->
      s"""WITH dd AS (SELECT doc_id, ${TextOps.DuckDirtyExpr} AS text FROM documents),
          ${DedupOps.duckSpanScrubCtes("dd")},
          f AS (SELECT doc_id,
                       COALESCE(string_agg(tok, ' ' ORDER BY i) FILTER (NOT cov), '')
                         AS clean
                FROM p GROUP BY doc_id),
          v AS ($q71OracleSql)
          SELECT f.doc_id AS doc_id, v.keep AS keep,
                 CAST(len(str_split(${TextOps.duckPiiRedact("clean")}, ' ')) AS BIGINT)
                   AS final_tokens,
                 md5(${TextOps.duckPiiRedact("clean")}) AS final_fp
          FROM f JOIN v ON f.doc_id = v.doc_id
          ORDER BY doc_id""") +
    // q106 composes the q66 and q101 oracles verbatim (the q71/q98
    // pattern): the canon choice is MAX exact-integer score then MIN
    // doc_id — both argmax steps are plain aggregates on both engines
    ("q106_cluster_canon" -> q106OracleSql) +
    // q113 composes the q66 oracle verbatim (the q106 pattern): both
    // deals are the shared md5-bucket rule — keyed on cluster_id for the
    // atomic split, doc_id for the naive audit column — and the flag is
    // the same MIN<>MAX disagreement aggregate
    ("q113_leakfree_split" -> q113OracleSql) +
    // q122 composes the q89 render CTEs, the q106 canon verdict, the q123
    // kept set, the q113 split, and the q100 shard rule — all VERBATIM
    // from the fragments the component oracles grade, then one bounded
    // GROUP BY; bit_xor is order-independent on both engines
    ("q122_curation_manifest" ->
      s"""WITH dd AS (SELECT doc_id, ${TextOps.DuckDirtyExpr} AS text FROM documents),
          ${DedupOps.duckSpanScrubCtes("dd")},
          f AS (SELECT doc_id,
                       COALESCE(string_agg(tok, ' ' ORDER BY i) FILTER (NOT cov), '')
                         AS clean
                FROM p GROUP BY doc_id),
          rr AS (SELECT doc_id,
                        CAST(len(str_split(${TextOps.duckPiiRedact("clean")}, ' ')) AS BIGINT)
                          AS n_tokens,
                        md5(${TextOps.duckPiiRedact("clean")}) AS final_fp
                 FROM f),
          cn AS ($q106OracleSql),
          kc AS (${graft.ops.QualityModelOps.QualityBudgetCutSql}),
          sp AS ($q113OracleSql)
          SELECT sp.split AS split,
                 ('0x' || substr(md5(CAST(rr.doc_id AS VARCHAR)), 1, 2))::BIGINT % 16
                   AS shard,
                 CAST(COUNT(*) AS BIGINT) AS n_docs,
                 CAST(SUM(rr.n_tokens) AS BIGINT) AS total_tokens,
                 MIN(rr.doc_id) AS min_doc_id, MAX(rr.doc_id) AS max_doc_id,
                 bit_xor(('0x' || substr(rr.final_fp, 1, 12))::BIGINT) AS content_fp48
          FROM rr JOIN cn ON rr.doc_id = cn.doc_id AND cn.canon
                  JOIN kc ON rr.doc_id = kc.doc_id
                  JOIN sp ON rr.doc_id = sp.doc_id
          GROUP BY 1, 2
          ORDER BY split, shard""") +
    // q114 composes the q66 oracle verbatim: the same ≥2-member filter,
    // per-(cluster, source) member counts, and the bounded self-join —
    // diagonal cells require ≥ 2 members of the SAME source; NULL source
    // coalesces to the same \\u0001-sentinel as the Spark side (a null
    // would vanish from the self-join under three-valued logic)
    ("q114_cross_source_dups" ->
      s"""WITH c AS (${graft.ops.GraphOps.oracles("q66_dedup_clusters")}),
          z AS (SELECT cluster_id FROM c GROUP BY cluster_id HAVING COUNT(*) >= 2),
          cs AS (SELECT c.cluster_id,
                        COALESCE(d.source, chr(1) || 'null') AS source,
                        COUNT(*) AS cnt
                 FROM c JOIN z ON c.cluster_id = z.cluster_id
                 JOIN documents d ON c.doc_id = d.doc_id
                 GROUP BY 1, 2)
          SELECT a.source AS source_a, b.source AS source_b,
                 CAST(COUNT(*) AS BIGINT) AS n_clusters
          FROM cs a JOIN cs b ON a.cluster_id = b.cluster_id
                             AND (a.source < b.source
                                  OR (a.source = b.source AND a.cnt >= 2))
          GROUP BY 1, 2
          ORDER BY source_a, source_b""") +
    // q132 composes the q106/q123/q113 fragments verbatim (the q122
    // pattern) into one row of stage counts
    ("q132_curation_funnel" ->
      s"""WITH cn AS ($q106OracleSql),
          kc AS (${graft.ops.QualityModelOps.QualityBudgetCutSql}),
          sp AS ($q113OracleSql),
          sv AS (SELECT cn.doc_id AS doc_id, sp.split AS split
                 FROM cn JOIN kc ON cn.doc_id = kc.doc_id
                         JOIN sp ON cn.doc_id = sp.doc_id
                 WHERE cn.canon),
          a AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents),
          b AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_canon FROM cn WHERE canon),
          c AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_budget_kept FROM kc),
          e AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_survivors,
                       CAST(SUM(CASE WHEN split = 'train' THEN 1 ELSE 0 END) AS BIGINT) AS n_train,
                       CAST(SUM(CASE WHEN split = 'val' THEN 1 ELSE 0 END) AS BIGINT) AS n_val,
                       CAST(SUM(CASE WHEN split = 'test' THEN 1 ELSE 0 END) AS BIGINT) AS n_test
                FROM sv)
          SELECT a.n_docs AS n_docs, b.n_canon AS n_canon,
                 c.n_budget_kept AS n_budget_kept, e.n_survivors AS n_survivors,
                 e.n_train AS n_train, e.n_val AS n_val, e.n_test AS n_test,
                 CAST(e.n_survivors AS DOUBLE) / CAST(a.n_docs AS DOUBLE) AS survival_rate
          FROM a, b, c, e""") +
    // q116 composes the q69 oracle verbatim: per increment doc the best
    // match is MAX jac then MIN corpus id (the q106 two-step argmax —
    // the Spark side's (jac, -a_id) struct MAX picks the same row)
    ("q116_increment_report" ->
      s"""WITH p AS (${DedupOps.oracles("q69_incremental_dedup")}),
          m AS (SELECT b_id, MAX(jac) AS jac FROM p GROUP BY b_id),
          k AS (SELECT p.b_id, m.jac, MIN(p.a_id) AS dup_of
                FROM p JOIN m ON p.b_id = m.b_id AND p.jac = m.jac
                GROUP BY p.b_id, m.jac),
          i AS (SELECT doc_id FROM documents
                WHERE source = '${DedupOps.IncrementSource}')
          SELECT i.doc_id AS doc_id, k.dup_of AS dup_of, k.jac AS jac,
                 CASE WHEN k.dup_of IS NULL THEN 'novel' ELSE 'dup' END AS status
          FROM i LEFT OUTER JOIN k ON i.doc_id = k.b_id
          ORDER BY doc_id""") +
    // q98 composes the q61/q66/q70/q86 oracles verbatim (the q71/q89
    // pattern) — every card figure's inputs are the individually
    // hash-verified component queries
    ("q98_corpus_card" ->
      s"""WITH t AS (${TextOps.oracles("q61_training_filter")}),
          d66 AS (${graft.ops.GraphOps.oracles("q66_dedup_clusters")}),
          n AS (${PipelineOps.oracles("q70_ngram_contamination")}),
          p AS (${TextOps.oracles("q86_pii_scrub")}),
          b AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
                       CAST(SUM(len(str_split(text, ' '))) AS BIGINT) AS total_tokens,
                       CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs,
                       CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources
                FROM documents),
          c AS (SELECT CAST(SUM(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT)
                         AS n_clusters FROM d66),
          qq AS (SELECT CAST(SUM(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT)
                          AS n_quality_keep FROM t),
          nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_train_docs,
                        CAST(SUM(CASE WHEN contaminated THEN 1 ELSE 0 END) AS BIGINT)
                          AS n_contaminated FROM n),
          pp AS (SELECT CAST(SUM(n_emails + n_phones + n_ips) AS BIGINT) AS n_pii FROM p)
          SELECT b.n_docs AS n_docs, b.total_tokens AS total_tokens,
                 b.n_langs AS n_langs, b.n_sources AS n_sources,
                 c.n_clusters AS n_clusters,
                 CAST(b.n_docs - c.n_clusters AS DOUBLE) / CAST(b.n_docs AS DOUBLE) AS dup_rate,
                 qq.n_quality_keep AS n_quality_keep,
                 CAST(qq.n_quality_keep AS DOUBLE) / CAST(b.n_docs AS DOUBLE) AS quality_keep_rate,
                 nn.n_train_docs AS n_train_docs, nn.n_contaminated AS n_contaminated,
                 CAST(nn.n_contaminated AS DOUBLE) / CAST(nn.n_train_docs AS DOUBLE) AS contamination_rate,
                 pp.n_pii AS n_pii
          FROM b, c, qq, nn, pp""")

  private lazy val q106OracleSql =
    s"""WITH c AS (${graft.ops.GraphOps.oracles("q66_dedup_clusters")}),
        q AS (${graft.ops.QualityModelOps.oracles("q101_quality_classifier")}),
        j AS (SELECT c.doc_id AS doc_id, c.cluster_id AS cluster_id,
                     q.score_micro AS score_micro
              FROM c JOIN q ON c.doc_id = q.doc_id),
        b AS (SELECT cluster_id, MAX(score_micro) AS best_micro
              FROM j GROUP BY cluster_id),
        k AS (SELECT j.cluster_id, MIN(j.doc_id) AS canon_id
              FROM j JOIN b ON j.cluster_id = b.cluster_id
                         AND j.score_micro = b.best_micro
              GROUP BY j.cluster_id)
        SELECT j.doc_id AS doc_id, j.cluster_id AS cluster_id,
               j.score_micro AS score_micro, k.canon_id AS canon_id,
               j.doc_id = k.canon_id AS canon
        FROM j JOIN k ON j.cluster_id = k.cluster_id
        ORDER BY doc_id"""

  private lazy val q113OracleSql =
    s"""WITH c AS (${graft.ops.GraphOps.oracles("q66_dedup_clusters")}),
        b AS (SELECT doc_id, cluster_id,
                     CASE WHEN cb < ${PipelineOps.TrainCut} THEN 'train'
                          WHEN cb < ${PipelineOps.ValCut} THEN 'val'
                          ELSE 'test' END AS split,
                     CASE WHEN nb < ${PipelineOps.TrainCut} THEN 'train'
                          WHEN nb < ${PipelineOps.ValCut} THEN 'val'
                          ELSE 'test' END AS naive_split
              FROM (SELECT doc_id, cluster_id,
                           ('0x' || substr(md5(CAST(cluster_id AS VARCHAR)), 1, 2))::BIGINT AS cb,
                           ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 2))::BIGINT AS nb
                    FROM c)),
        t AS (SELECT cluster_id, MIN(naive_split) <> MAX(naive_split) AS leak_prevented
              FROM b GROUP BY cluster_id)
        SELECT b.doc_id AS doc_id, b.cluster_id AS cluster_id,
               b.split AS split, b.naive_split AS naive_split,
               t.leak_prevented AS leak_prevented
        FROM b JOIN t ON b.cluster_id = t.cluster_id
        ORDER BY doc_id"""

  private lazy val q71OracleSql =
    s"""WITH t AS (${TextOps.oracles("q61_training_filter")}),
        d AS (${graft.ops.GraphOps.oracles("q66_dedup_clusters")}),
        n AS (${PipelineOps.oracles("q70_ngram_contamination")})
        SELECT n.doc_id AS doc_id, t.keep AS quality_ok,
               d.keep AS dedup_keep, n.contaminated AS contaminated,
               (t.keep AND d.keep AND NOT n.contaminated) AS keep
        FROM n JOIN t ON n.doc_id = t.doc_id
               JOIN d ON n.doc_id = d.doc_id
        ORDER BY doc_id"""
}
