package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Text-analysis operators over the `documents` table — the training-data
  * pipeline surface (token counting, quality scoring, language ID,
  * fingerprinting, exact dedup).
  *
  * Everything is a row-local expression (no UDFs — whole-stage codegen'd
  * Catalyst built-ins only) followed by at most one hash aggregate, so each
  * op is a single scan + at most one shuffle at any scale. Integer and
  * md5-string outputs keep the DuckDB oracle hash-exact; ratio outputs are a
  * single IEEE division of exact integers (bit-identical across engines).
  *
  * Reference scope note: the reference has no scalar function library at all
  * (SURVEY.md §2.D); these ops are the §7.1 `graft.ext` extended surface.
  */
object TextOps {
  /** Disjoint stop-word sets per language for the voting heuristic. */
  val langSets: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "is"),
    "de" -> Seq("der", "und", "das"),
    "es" -> Seq("el", "los", "y"),
    "fr" -> Seq("le", "les", "une"),
    "zh" -> Seq("de_zh", "shi_zh", "le_zh"))

  val stopwords: Seq[String] = Seq("the", "a", "of", "and", "to", "in", "is")

  private def inList(xs: Seq[String]): String = xs.map(s => s"'$s'").mkString(", ")

  /** Canonical bag-of-words fingerprint — ONE definition per engine side
    * (used by q33, q34, and `StreamDedup.dedupDocsByFingerprint`); editing
    * the canonicalization in one place keeps every consumer in agreement. */
  val BowFpExpr = "md5(concat_ws(' ', array_sort(array_distinct(split(text, ' ')))))"
  val BowFpSql = "md5(array_to_string(list_sort(list_distinct(str_split(text, ' '))), ' '))"

  /** q30 — token counting: whitespace tokenizer + distinct-token count. */
  def tokenStats(docs: DataFrame): DataFrame =
    docs.selectExpr(
      "doc_id",
      "CAST(size(split(text, ' ')) AS BIGINT) AS n_tokens",
      "CAST(size(array_distinct(split(text, ' '))) AS BIGINT) AS n_uniq_tokens",
      "CAST(length(text) AS BIGINT) AS n_chars_calc")
      .orderBy("doc_id")

  /** q31 — quality scoring: stop-word ratio + mean token length. The two
    * ratios are single divisions of exact integers → deterministic doubles. */
  def qualityScore(docs: DataFrame): DataFrame =
    docs.selectExpr(
      "doc_id",
      "CAST(size(split(text, ' ')) AS BIGINT) AS n_tokens",
      s"CAST(size(filter(split(text, ' '), t -> t IN (${inList(stopwords)}))) AS BIGINT) AS n_stop")
      .selectExpr(
        "doc_id", "n_tokens", "n_stop",
        "n_stop / CAST(n_tokens AS DOUBLE) AS stop_ratio")
      .orderBy("doc_id")

  /** q32 — corpus stats by language (exact integer sums → exact mean).
    * nulls-last ordering: Spark sorts nulls first by default, DuckDB
    * last — a null-lang group would otherwise land at opposite ends. */
  def langStats(docs: DataFrame): DataFrame =
    docs.groupBy("lang")
      .agg(
        count(lit(1)).as("n_docs"),
        sum("n_chars").as("total_chars"),
        (sum("n_chars") / count(lit(1)).cast("double")).as("avg_chars"),
        countDistinct(col("source")).as("n_sources"))
      .orderBy(col("lang").asc_nulls_last)

  /** q33 — document fingerprinting: full-text md5 + order-independent
    * bag-of-words md5 (sorted distinct tokens — canonical form). */
  def fingerprint(docs: DataFrame): DataFrame =
    docs.selectExpr(
      "doc_id",
      "md5(text) AS fp",
      s"$BowFpExpr AS bow_fp")
      .orderBy("doc_id")

  /** q34 — exact content dedup: group by canonical fingerprint, keep the
    * smallest doc_id. One hash-agg shuffle on a 32-byte key — at 100 TB this
    * is the cheapest possible exact-dedup plan (no row comparisons). */
  def exactDedup(docs: DataFrame): DataFrame =
    docs.selectExpr(
      "doc_id",
      s"$BowFpExpr AS bow_fp")
      .groupBy("bow_fp")
      .agg(min("doc_id").as("keep_id"), count(lit(1)).as("n_dups"))
      .orderBy("keep_id")

  /** (doc_id, lang, pred_lang) — the shared prediction core of [[langId]]
    * and [[langConfusion]] (one vote definition, so the per-doc verdict
    * and the matrix can't drift). */
  private def langPred(docs: DataFrame): DataFrame = {
    val hits = langSets.map { case (l, ws) =>
      s"CAST(size(filter(split(text, ' '), t -> t IN (${inList(ws)}))) AS BIGINT) AS hits_$l"
    }
    val langs = langSets.map(_._1)
    val cases = langs.init.zipWithIndex.map { case (l, i) =>
      val rest = langs.drop(i + 1).map(r => s"hits_$l >= hits_$r").mkString(" AND ")
      s"WHEN $rest THEN '$l'"
    }.mkString(" ")
    docs.selectExpr(Seq("doc_id", "lang") ++ hits: _*)
      .selectExpr(
        "doc_id",
        s"CASE $cases ELSE '${langs.last}' END AS pred_lang",
        "lang")
  }

  /** q35 — language ID via stop-word voting (n-gram-free heuristic):
    * count hits from each language's marker set, argmax with a fixed
    * priority order for ties. Row-local, codegen'd, no shuffle. */
  def langId(docs: DataFrame): DataFrame =
    langPred(docs)
      .selectExpr("doc_id", "pred_lang", "pred_lang = lang AS agrees")
      .orderBy("doc_id")

  /** q117 — LANGUAGE CONFUSION MATRIX: declared metadata vs the q35
    * detector, per (lang, pred_lang) cell with the within-declared-lang
    * rate — the metadata-trust artifact a curation team reads before
    * keying ANY stage on the `lang` column (q58's strata, q72's mixture,
    * q96's fertility all trust it): an off-diagonal hot cell means the
    * upstream tagger mislabels and every lang-keyed dial inherits the
    * error. Scale shape: one map-combinable ≤ |langs|²-cell aggregate
    * (the only corpus shuffle) and a bounded per-lang total joined back
    * co-keyed; the rate is a single IEEE division of exact int64. */
  def langConfusion(docs: DataFrame): DataFrame = {
    val cells = langPred(docs)
      .groupBy("lang", "pred_lang").agg(count(lit(1)).as("n"))
    // NULL-SAFE total join: a null declared lang is precisely the
    // untrustworthy-metadata row this audit exists to surface — a plain
    // equi-join would silently drop its cells (null keys never match) and
    // the matrix would stop partitioning the corpus (q32's null-lang
    // lesson)
    val tot = cells.groupBy("lang").agg(sum("n").as("lang_total"))
      .withColumnRenamed("lang", "lang_t")
    cells.join(tot, col("lang") <=> col("lang_t"))
      .selectExpr("lang", "pred_lang", "n", "lang_total",
        "CAST(n AS DOUBLE) / CAST(lang_total AS DOUBLE) AS rate")
      // NULLS LAST pins the cross-engine row order: Spark defaults nulls
      // FIRST ascending, DuckDB LAST — on a null-lang corpus the ordered
      // compare would false-mismatch on exactly the rows this matrix
      // keeps (the <=> join above)
      .orderBy(col("lang").asc_nulls_last, col("pred_lang"))
  }

  /** q119 — DOCUMENT TABLE INTEGRITY CENSUS: the one-row audit a pipeline
    * runs before ANY stage trusts the `documents` table — duplicate
    * doc_ids (every keyed join/dedup silently miscounts on them), null or
    * empty text, stored `n_chars` disagreeing with the actual text length
    * (a stale-metadata symptom), null lang/source metadata, and the exact
    * char-volume range. The documents twin of q118's embedding census,
    * and the batch counterpart of the stream gates' schema `require`s.
    *
    * Scale shape: ONE row-local pass collapsed to a single row; the only
    * non-trivial member is the exact distinct-id count (Spark plans it as
    * a two-stage partial distinct — no row leaves its partition twice).
    * All counts exact int64 on both engines. */
  def documentAudit(docs: DataFrame): DataFrame =
    docs.selectExpr("doc_id",
        "CAST(text IS NULL AS BIGINT) AS null_text",
        "CAST(text IS NOT NULL AND length(text) = 0 AS BIGINT) AS empty_text",
        // NULL-robust: a NULL n_chars must surface in its OWN counter, not
        // vanish from a three-valued-logic mismatch predicate — and a NULL
        // doc_id is a null-key defect, not a "duplicate" (COUNT DISTINCT
        // drops nulls, so deriving dups from it would mislabel nulls)
        "CAST(text IS NOT NULL AND n_chars IS NOT NULL AND n_chars != length(text) AS BIGINT) AS chars_mismatch",
        "CAST(n_chars IS NULL AS BIGINT) AS null_chars",
        "CAST(lang IS NULL AS BIGINT) AS null_lang",
        "CAST(source IS NULL AS BIGINT) AS null_source",
        "n_chars")
      .agg(
        count(lit(1)).as("n_docs"),
        count(col("doc_id")).as("n_nonnull_ids"),
        countDistinct("doc_id").as("n_distinct_ids"),
        sum("null_text").as("n_null_text"),
        sum("empty_text").as("n_empty_text"),
        sum("chars_mismatch").as("n_chars_mismatch"),
        sum("null_chars").as("n_null_chars"),
        sum("null_lang").as("n_null_lang"),
        sum("null_source").as("n_null_source"),
        min("n_chars").as("min_chars"),
        max("n_chars").as("max_chars"),
        sum("n_chars").as("total_chars"))
      .selectExpr("n_docs", "n_distinct_ids",
        "n_nonnull_ids - n_distinct_ids AS n_dup_ids",
        "n_docs - n_nonnull_ids AS n_null_ids",
        "n_null_text", "n_empty_text", "n_chars_mismatch", "n_null_chars",
        "n_null_lang", "n_null_source",
        "min_chars", "max_chars", "total_chars")

  /** BPE-ish tokenizer regex: letter runs, digit runs, single punctuation —
    * the GPT-2-style pre-tokenization shape, simplified to constructs with
    * identical semantics in Java regex (Spark) and RE2 (DuckDB). */
  val BpeRegex = "[a-z]+|[A-Z][a-z]*|[0-9]+|[^A-Za-z0-9 ]"

  /** q41 — regex (BPE-ish) token counting next to whitespace counting. */
  def regexTokens(docs: DataFrame): DataFrame =
    docs.selectExpr(
      "doc_id",
      s"CAST(size(regexp_extract_all(text, '$BpeRegex', 0)) AS BIGINT) AS n_bpe_tokens",
      "CAST(size(split(text, ' ')) AS BIGINT) AS n_ws_tokens")
      .orderBy("doc_id")

  /** q60 — repetition score: the most-repeated 3-gram's share of all
    * 3-grams, the C4/Gopher-style boilerplate filter (a looping or
    * template-stamped document scores near 1). Shingles WITH duplicates
    * this time — repetition IS the signal — via the linear
    * `graft_shingles` expression; one narrow shuffle on (doc_id, shingle)
    * with map-side combine, then a per-doc aggregate. Docs with fewer
    * than 3 tokens have no 3-grams and no row (same domain as q36–q38). */
  def repetitionScore(docs: DataFrame): DataFrame = {
    graft.expressions.GraftFunctions.register(docs.sparkSession)
    docs.selectExpr("doc_id",
      "explode(graft_shingles(split(text, ' '), 3)) AS shingle")
      .groupBy("doc_id", "shingle").agg(count(lit(1)).as("c"))
      .groupBy("doc_id")
      .agg(sum("c").as("n_shingles"), max("c").as("max_rep"))
      .selectExpr("doc_id", "n_shingles", "max_rep",
        "max_rep / CAST(n_shingles AS DOUBLE) AS rep_ratio")
      .orderBy("doc_id")
  }

  /** q88 — GOPHER REPETITION METRICS (Rae et al. 2021, "Scaling Language
    * Models: Gopher", table A1; the same family Dolma ships): the two
    * repetition signals q60's single max-3-gram ratio doesn't cover —
    *  - `top2_frac`: the share of tokens covered by the single most
    *    frequent 2-gram (count desc, gram asc tie-break) — catches
    *    template stamping with a short period;
    *  - `dup5_frac`: the fraction of token POSITIONS covered by some
    *    5-gram that occurs ≥2× within the SAME document — catches long
    *    internal copy-paste that any single-top-gram statistic dilutes
    *    away. Coverage is positional (the q84 machinery), not an
    *    occurrence-count product, so overlapping repeats are not double
    *    counted.
    *
    * Shape: one (doc_id, gram)-keyed shuffle per gram width with map-side
    * combine (per-doc bounded, skew-free — q60's shape); the top-gram
    * argmax is an exact `min(struct(-c, g))` (no window); dup-gram
    * coverage collapses to one bounded start-position array per doc and
    * counts row-locally. */
  def gopherRepetition(docs: DataFrame): DataFrame = {
    graft.expressions.GraftFunctions.register(docs.sparkSession)
    val base = docs.selectExpr("doc_id", "split(text, ' ') AS toks")
      .selectExpr("doc_id", "toks", "CAST(size(toks) AS BIGINT) AS n_tokens")
    val top2 = base
      .selectExpr("doc_id", "explode(graft_shingles(toks, 2)) AS g")
      .groupBy("doc_id", "g").agg(count(lit(1)).as("c"))
      .groupBy("doc_id")
      .agg(min(struct((-col("c")).as("nc"), col("g"))).as("top"))
      .selectExpr("doc_id", "-top.nc AS top2_cnt")
    val dup5 = base
      .selectExpr("doc_id",
        "posexplode(graft_shingles(toks, 5)) AS (pos, g)")
      .groupBy("doc_id", "g")
      .agg(count(lit(1)).as("c"), collect_list(col("pos").cast("long")).as("ps"))
      .filter(col("c") > 1)
      .select(col("doc_id"), explode(col("ps")).as("pos"))
      .groupBy("doc_id").agg(sort_array(collect_set("pos")).as("rs"))
    base.join(top2, Seq("doc_id"), "left").join(dup5, Seq("doc_id"), "left")
      .selectExpr("doc_id", "n_tokens",
        "CAST(coalesce(top2_cnt, 0) AS BIGINT) AS top2_cnt",
        "coalesce(rs, CAST(array() AS ARRAY<BIGINT>)) AS rs")
      .selectExpr("doc_id", "n_tokens", "top2_cnt",
        "CAST(top2_cnt * 2 AS DOUBLE) / CAST(n_tokens AS DOUBLE) AS top2_frac",
        """CAST(size(filter(sequence(0L, n_tokens - 1),
             i -> exists(rs, q -> q <= i AND i <= q + 4))) AS BIGINT) AS dup5_tokens""")
      .selectExpr("doc_id", "n_tokens", "top2_cnt", "top2_frac", "dup5_tokens",
        "CAST(dup5_tokens AS DOUBLE) / CAST(n_tokens AS DOUBLE) AS dup5_frac")
      .orderBy("doc_id")
  }

  /** q219's dials: the minimum in-class term count (kills hapax noise —
    * a term seen twice in a tiny class would otherwise post an enormous
    * lift) and the per-class keyterm depth. */
  val KeytermMinTf = 5L
  val KeytermTopN = 10

  /** q219 — CLASS KEYTERMS (c-TF-IDF family): per language, the terms
    * that CHARACTERIZE it — what BERTopic-style class-TF-IDF surfaces,
    * ranked here by the exact lift P(term | class) / P(term) so the
    * score needs no logarithm: lift = (tf_c · T_all) / (tf_all · T_c),
    * cross-multiplied in DECIMAL(38,0) and shipped as the floor'd micro
    * integer (the q170 discipline — IEEE ln/idf would drift the hash).
    * Ties break on the term, so the board is total in both engines.
    *
    * Scale shape: ONE corpus tokenize pass collapses to the
    * (lang, token, tf) table (bounded by vocab × classes, never rows);
    * the class and corpus totals are bounded aggregates; the only joins
    * are a broadcast class dial and a co-keyed vocab-sized term-total
    * join; the rank window partitions by class over the vocab-bounded
    * scored table. */
  def classKeyterms(docs: DataFrame): DataFrame = {
    val tf = docs.filter(col("lang").isNotNull)
      .selectExpr("lang", "explode(split(text, ' ')) AS token")
      .groupBy("lang", "token").agg(count(lit(1)).as("tf_c"))
      .localCheckpoint() // vocab × classes table; read three ways
    val classTot = tf.groupBy("lang").agg(sum("tf_c").as("t_c"))
    val termTot = tf.groupBy("token").agg(sum("tf_c").as("tf_all"))
    val corpusTot = tf.agg(sum("tf_c").as("t_all"))
    val scored = tf.filter(col("tf_c") >= KeytermMinTf)
      .join(broadcast(classTot), "lang")
      .join(termTot, "token")
      .crossJoin(broadcast(corpusTot))
      .selectExpr("lang", "token", "tf_c", "tf_all",
        """CAST(CAST(1000000 AS DECIMAL(38,0)) * tf_c * t_all
                DIV (tf_all * t_c) AS BIGINT) AS lift_micro""")
    val byLift = org.apache.spark.sql.expressions.Window
      .partitionBy("lang").orderBy(desc("lift_micro"), col("token"))
    scored.withColumn("rank", row_number().over(byLift).cast("long"))
      .filter(col("rank") <= KeytermTopN)
      .select("lang", "rank", "token", "tf_c", "tf_all", "lift_micro")
      .orderBy("lang", "rank")
  }

  /** The q61 quality-threshold dials, ONE definition shared by
    * [[trainingFilter]] and its streaming twin
    * [[graft.streaming.StreamQualityGate]] — retuning the batch defaults
    * retunes the gate with it (they drifted silently as duplicated
    * literals before). */
  val QualityMinTokens = 20L
  val QualityMinStop = 0.02
  val QualityMaxStop = 0.8
  val QualityMaxRep = 0.1

  /** q61 — the composite training-data filter: the corpus-build decision
    * that ties the quality surface together. A document is kept for
    * training iff it is long enough, its language ID agrees with its
    * metadata, its stop-word ratio is in the plausible-prose band, and it
    * is not boilerplate (repetition capped). Thresholds are runtime dials
    * (defaults sized to the testdata's distributions so both branches are
    * exercised); every signal is an exact-deterministic value from
    * [[qualityScore]]/[[langId]]/[[repetitionScore]], so the boolean is
    * oracle-exact too. Docs too short to shingle have null rep_ratio and
    * are dropped. */
  def trainingFilter(docs: DataFrame, minTokens: Long = QualityMinTokens,
                     minStop: Double = QualityMinStop,
                     maxStop: Double = QualityMaxStop,
                     maxRep: Double = QualityMaxRep): DataFrame =
    qualityScore(docs).select("doc_id", "n_tokens", "stop_ratio")
      .join(langId(docs).select("doc_id", "agrees"), "doc_id")
      .join(repetitionScore(docs).select("doc_id", "rep_ratio"), Seq("doc_id"), "left_outer")
      .selectExpr("doc_id", "n_tokens", "stop_ratio", "rep_ratio", "agrees",
        s"""(n_tokens >= $minTokens AND agrees
             AND stop_ratio >= $minStop AND stop_ratio <= $maxStop
             AND (rep_ratio IS NOT NULL AND rep_ratio <= $maxRep)) AS keep""")
      .orderBy("doc_id")

  /** q63 — the inverted-index term table: per-(doc, token) term frequency
    * joined with corpus document frequency — the structure tf-idf, BM25,
    * and vocabulary pruning are all built from. tf/df is exposed as an
    * exact single-division ratio; idf's logarithm is left to the caller
    * because transcendental functions are not bit-portable across engines
    * (libm implementations differ in the last ulp — the one function
    * class the oracle machinery cannot hash-compare). Two map-side-combined
    * aggregates; the join key is the token the df aggregate just shuffled
    * on, so the exchange is reused. */
  def termIndex(docs: DataFrame): DataFrame = {
    val tf = docs.select(col("doc_id"), explode(split(col("text"), " ")).as("token"))
      .groupBy("doc_id", "token").agg(count(lit(1)).as("tf"))
    val df = tf.groupBy("token").agg(count(lit(1)).as("df"))
    tf.join(df, "token")
      .selectExpr("doc_id", "token", "tf", "df", "tf / CAST(df AS DOUBLE) AS tf_over_df")
      .orderBy("doc_id", "token")
  }

  /** q198's phrase book: a present bigram, a present-elsewhere bigram,
    * and a trigram absent at small scales — exercising multi-term
    * adjacency, phrase-length variety, and the legitimate zero-match
    * case in one artifact. */
  val PhraseBook: Seq[String] = Seq("hash join", "table scan", "sort merge join")

  /** q198 — POSITIONAL PHRASE SEARCH: exact-adjacency phrase matching
    * over a positional inverted index — the search-engine query class
    * (`"hash join"` as a PHRASE, not a bag of terms) q63's term index
    * cannot answer because it stores frequencies, not positions. Per
    * (phrase, document): the match count and the first match position.
    *
    * The index is (token, doc_id, pos) postings; a length-L phrase is
    * L−1 co-keyed equi-joins on (doc_id, pos + offset) — the classic
    * positional-postings intersection. Scale shape: tokenize ONCE
    * (posexplode), then filter the postings to the query vocabulary
    * BEFORE any join — the selectivity that makes a positional index
    * work at 100 TB: only the query terms' postings ever shuffle, the
    * corpus text is touched exactly once, and each join is co-keyed on
    * doc_id. A LIKE scan would re-read every byte per phrase and
    * cannot use adjacency. */
  def phraseSearch(docs: DataFrame): DataFrame = {
    val postings = docs.select(col("doc_id"),
        posexplode(split(col("text"), " ")).as(Seq("pos", "token")))
      .filter(col("token").isin(PhraseBook.flatMap(_.split(" ")).distinct: _*))
      .localCheckpoint() // query-vocabulary postings; read per phrase
    val perPhrase = PhraseBook.map { phrase =>
      val terms = phrase.split(" ")
      val first = postings.filter(col("token") === terms.head)
        .select(col("doc_id"), col("pos"))
      val matches = terms.zipWithIndex.drop(1).foldLeft(first) {
        case (acc, (t, i)) =>
          acc.join(postings.filter(col("token") === t)
              .select(col("doc_id"), (col("pos") - i).as("pos")),
            Seq("doc_id", "pos"))
      }
      matches.groupBy("doc_id")
        .agg(count(lit(1)).as("n_matches"), min("pos").as("first_pos"))
        .selectExpr(s"'$phrase' AS phrase", "doc_id",
          "n_matches", "CAST(first_pos AS BIGINT) AS first_pos")
    }
    perPhrase.reduce(_.unionByName(_)).orderBy("phrase", "doc_id")
  }

  /** q67's fixed query: one mid-frequency term, one common term, and the
    * corpus's one rare token (high idf) so scores actually spread. */
  val Bm25Terms: Seq[String] = Seq("spark", "query", "dup")

  /** The per-(doc, term) BM25 contribution (k1 = 1.2, b = 0.75; the
    * constants are pre-folded: k1+1 = 2.2, 1-b = 0.25) — ONE formula string
    * evaluated by both engines over identically-named exact-integer columns
    * (n docs, df, tf, dl, total tokens), so the IEEE operation sequence is
    * identical on both sides. Every literal uses exponent form (`1.2e0`):
    * both SQL dialects parse bare decimals as DECIMAL, and a decimal
    * intermediate would silently change the arithmetic. */
  val Bm25ContribExpr: String =
    "ln((CAST(n - df AS DOUBLE) + 0.5e0) / (CAST(df AS DOUBLE) + 0.5e0) + 1e0)" +
      " * (CAST(tf AS DOUBLE) * 2.2e0)" +
      " / (CAST(tf AS DOUBLE) + 1.2e0 * (0.25e0 + 0.75e0" +
      " * (CAST(dl AS DOUBLE) / (CAST(total AS DOUBLE) / CAST(n AS DOUBLE)))))"

  /** q67 — BM25 ranking over the q63 term structure: the retrieval scorer a
    * training-data curriculum or search layer runs at corpus scale. The
    * interesting part is making a TRANSCENDENTAL score hash-comparable
    * across engines (the gap q63's scaladoc leaves open): libm `ln` differs
    * from DuckDB's in the last ulp on ~0.1 % of idf arguments, and float
    * addition is not associative, so a naive SUM(double) is neither
    * bit-portable nor partition-order-stable. Resolution: each per-term
    * contribution is rounded to integer MICRO-UNITS (×1e6) and the sum runs
    * in exact BIGINT arithmetic — associative, so shuffle order cannot
    * change the hash. A runtime guard `raise_error`s if any contribution
    * sits within 1e-6 of a rounding boundary (a 1-ulp engine divergence at
    * micro scale is ~1e-9, so a value clearing the guard rounds identically
    * in both engines — the boundary flip is structurally excluded, not
    * improbable).
    *
    * Scale shape: tf is filtered to the query terms BEFORE its aggregate
    * (the shuffle carries only matching tokens), df (|terms| rows) and the
    * global stats row are broadcast, and the final top-N is a
    * TakeOrderedAndProject, never a full sort. */
  def bm25(docs: DataFrame, terms: Seq[String] = Bm25Terms, topN: Int = 20): DataFrame = {
    val t = docs.select(col("doc_id"), explode(split(col("text"), " ")).as("token"))
    val len = t.groupBy("doc_id").agg(count(lit(1)).as("dl"))
    val stats = len.agg(count(lit(1)).as("n"), sum("dl").as("total"))
    val tf = t.filter(col("token").isin(terms: _*))
      .groupBy("doc_id", "token").agg(count(lit(1)).as("tf"))
    val df = tf.groupBy("token").agg(count(lit(1)).as("df"))
    val raw = s"($Bm25ContribExpr) * 1e6"
    tf.join(broadcast(df), "token")
      .join(len, "doc_id")
      .crossJoin(broadcast(stats))
      .selectExpr("doc_id",
        s"""CASE WHEN abs($raw - floor($raw) - 0.5e0) < 1e-6
                 THEN CAST(raise_error('q67 BM25: contribution at a rounding boundary') AS BIGINT)
                 ELSE CAST(round($raw) AS BIGINT) END AS micro""")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_hits"), sum("micro").as("score_micro"))
      .selectExpr("doc_id", "n_hits", "score_micro", "score_micro / 1e6 AS score")
      .orderBy(col("score_micro").desc, col("doc_id"))
      .limit(topN)
  }

  /** q68 — vocabulary pruning / OOV masking: rewrite every token outside the
    * top-K corpus vocabulary to `<unk>` — the tokenizer-vocab truncation
    * step of a training-data pipeline. The vocabulary is an aggregate the
    * size of K, broadcast to a row-local rewrite (one array-membership
    * `transform` per document — no explode/regroup round trip, which would
    * shuffle the whole corpus just to put token order back together). */
  /** The mask-row BUILDER (pre-checkpoint): exposed so `PlanShapeSpec`
    * can assert the single vocab-side explode on the plan the
    * presentation barrier below hides. */
  private[graft] def vocabMaskRows(docs: DataFrame, topK: Int = 20): DataFrame = {
    val vocab = docs.select(explode(split(col("text"), " ")).as("token"))
      .groupBy("token").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("token"))
      .limit(topK)
      .agg(collect_list("token").as("vocab")) // membership set; order unused
    docs.crossJoin(broadcast(vocab))
      .selectExpr(
        "doc_id",
        """concat_ws(' ', transform(split(text, ' '),
             t -> CASE WHEN array_contains(vocab, t) THEN t ELSE '<unk>' END)) AS masked""",
        """CAST(size(filter(split(text, ' '),
             t -> NOT array_contains(vocab, t))) AS BIGINT) AS n_masked""")
  }

  def vocabMask(docs: DataFrame, topK: Int = 20): DataFrame =
    vocabMaskRows(docs, topK)
      // r16: the presentation sort's range sampler re-executes the
      // un-shuffled child — here the whole mask transform; materialize
      // once instead (the q79 fix)
      .localCheckpoint()
      .orderBy("doc_id")

  /** q111 — VOCABULARY COVERAGE CURVE: for each frequency-threshold rung
    * f = 2^b, the vocabulary size (distinct terms with corpus frequency
    * ≥ f) and the fraction of total token volume those terms cover — the
    * curve a tokenizer designer reads to pick a vocab size ("the 2^12+
    * terms cover 99.5 % of tokens") and the q68 top-K mask's sizing
    * artifact. The rank-based form of this curve needs a global sort of
    * the vocabulary; thresholding on frequency gives the same decision
    * curve from a ROW-LOCAL bucket id — floor(log2(n)) computed as
    * length(bin(n))−1, pure integer/string ops, no transcendental to
    * drift at power-of-two boundaries.
    *
    * Scale shape: one map-combinable term-frequency aggregate (the only
    * corpus shuffle, shared shape with q63), a ≤ 64-row bucket table, the
    * q108 bounded suffix-sum self-join (broadcast BNLJ over ≤ 64×64
    * pairs — never a window), and one one-row total broadcast. All
    * cumulative counts are exact int64; the two coverage ratios are
    * single IEEE divisions over identical bits (the q98 convention). */
  def vocabCoverage(docs: DataFrame): DataFrame = {
    val tf = docs.select(explode(split(col("text"), " ")).as("token"))
      .groupBy("token").agg(count(lit(1)).as("n"))
    // materialize the ≤ 64-row bucket table ONCE (eager, the q66/BPE
    // idiom): both suffix-join branches and the total row read these rows
    // — without it each branch would re-run the full corpus scan + token
    // shuffle that produced them
    val buckets = tf.selectExpr("CAST(length(bin(n)) - 1 AS BIGINT) AS b", "n")
      .groupBy("b").agg(count(lit(1)).as("bucket_terms"), sum("n").as("bucket_tokens"))
      .localCheckpoint()
    val total = buckets.agg(sum("bucket_tokens").as("total_tokens"),
      sum("bucket_terms").as("total_terms"))
    // the ≥-join is non-equi, so the BOUNDED side must broadcast
    // explicitly (the q108 suffix-sum idiom) — without the hint Spark
    // falls back to a cartesian at scale
    buckets.as("lo")
      .join(broadcast(
          buckets.selectExpr("b AS hb", "bucket_terms AS ht", "bucket_tokens AS hn")),
        col("hb") >= col("b"))
      .groupBy("b", "bucket_terms", "bucket_tokens")
      .agg(sum("ht").as("vocab_size"), sum("hn").as("covered_tokens"))
      .crossJoin(broadcast(total))
      .selectExpr(
        "b", "shiftleft(CAST(1 AS BIGINT), CAST(b AS INT)) AS min_freq",
        "bucket_terms", "bucket_tokens", "vocab_size", "covered_tokens",
        "CAST(covered_tokens AS DOUBLE) / CAST(total_tokens AS DOUBLE) AS token_coverage",
        "CAST(vocab_size AS DOUBLE) / CAST(total_terms AS DOUBLE) AS vocab_share")
      .orderBy(col("b").desc)
  }

  /** DuckDB equivalents, kept adjacent so Spark and oracle can't drift. */
  /** PII patterns for [[piiScrub]] — deliberately backslash-free (explicit
    * classes, `[.]` instead of `\.`, no `\b`) so one literal is valid and
    * identical in Java regex (Spark) and RE2 (DuckDB), with no escaping
    * layer to desync the engines. */
  val PiiEmailRe = "[a-z0-9._%+-]+@[a-z0-9.-]+[.][a-z][a-z]+"
  val PiiPhoneRe = "555-[0-9]{4}"
  val PiiIpRe = "[0-9]{1,3}[.][0-9]{1,3}[.][0-9]{1,3}[.][0-9]{1,3}"

  /** q86 — PII REDACTION: count and mask emails / phone numbers / IPv4
    * addresses, emitting the scrubbed corpus fingerprint — the compliance
    * pass every web-corpus build runs before training (C4 and Dolma both
    * ship exactly this regex family). Row-local: three codegen'd
    * regexp_replace passes fused into the scan, no shuffle at any corpus
    * size beyond the output sort.
    *
    * The synthetic corpus contains no PII, so the pass is graded with the
    * q50/q81 computed-payload pattern: PII snippets are INJECTED as a pure
    * function of doc_id (both engines synthesize the identical dirty
    * text), then the generic patterns above scrub them — counts AND the
    * scrubbed-text md5 are hash-compared, so a pattern that under- or
    * over-matches fails CORRECTNESS, not just a local spec. Replacement
    * order (email → ip → phone) is part of the contract: earlier
    * placeholders contain no digits, so later patterns cannot match inside
    * them. */
  /** The computed dirty text (Spark form) — the q86/q89 stand-in for raw
    * web text, a pure function of (text, doc_id). ONE definition shared by
    * both queries and mirrored by [[DuckDirtyExpr]]. */
  private[graft] val DirtyExpr =
    """concat(text,
         CASE WHEN doc_id % 3 = 0
              THEN concat(' contact_', CAST(doc_id AS STRING), '@example.com')
              ELSE '' END,
         CASE WHEN doc_id % 4 = 0
              THEN concat(' 555-', lpad(CAST(doc_id % 10000 AS STRING), 4, '0'))
              ELSE '' END,
         CASE WHEN doc_id % 5 = 0
              THEN concat(' 10.', CAST(doc_id % 256 AS STRING), '.',
                          CAST((doc_id DIV 7) % 256 AS STRING), '.1')
              ELSE '' END)"""

  /** [[DirtyExpr]]'s DuckDB twin. */
  private[graft] val DuckDirtyExpr =
    """text ||
       CASE WHEN doc_id % 3 = 0
            THEN ' contact_' || CAST(doc_id AS VARCHAR) || '@example.com'
            ELSE '' END ||
       CASE WHEN doc_id % 4 = 0
            THEN ' 555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
            ELSE '' END ||
       CASE WHEN doc_id % 5 = 0
            THEN ' 10.' || CAST(doc_id % 256 AS VARCHAR) || '.'
                 || CAST((doc_id // 7) % 256 AS VARCHAR) || '.1'
            ELSE '' END"""

  /** The email → ip → phone replace chain over an arbitrary expression
    * (order is part of the contract: earlier placeholders contain no
    * digits, so later patterns cannot match inside them). */
  private[graft] def piiRedact(e: String): String =
    s"""regexp_replace(regexp_replace(regexp_replace($e,
          '$PiiEmailRe', '<EMAIL>'), '$PiiIpRe', '<IP>'), '$PiiPhoneRe', '<PHONE>')"""

  /** [[piiRedact]]'s DuckDB twin (needs explicit 'g' flags). */
  private[graft] def duckPiiRedact(e: String): String =
    s"""regexp_replace(regexp_replace(regexp_replace($e,
          '$PiiEmailRe', '<EMAIL>', 'g'), '$PiiIpRe', '<IP>', 'g'),
          '$PiiPhoneRe', '<PHONE>', 'g')"""

  def piiScrub(docs: DataFrame): DataFrame =
    docs.selectExpr("doc_id", s"$DirtyExpr AS dirty")
      .selectExpr("doc_id",
        s"CAST(size(regexp_extract_all(dirty, '$PiiEmailRe', 0)) AS BIGINT) AS n_emails",
        s"CAST(size(regexp_extract_all(dirty, '$PiiPhoneRe', 0)) AS BIGINT) AS n_phones",
        s"CAST(size(regexp_extract_all(dirty, '$PiiIpRe', 0)) AS BIGINT) AS n_ips",
        s"md5(${piiRedact("dirty")}) AS clean_fp")
      .orderBy("doc_id")

  /** q92 — BIGRAM SURPRISAL (CCNet-style perplexity filtering, Wenzek et
    * al. 2020): score every document by its average negative log
    * probability under an add-one-smoothed bigram LM trained on the corpus
    * itself — THE standard statistical quality filter (outlier docs score
    * high: wrong language, garbled decode, boilerplate scores low).
    * Reported as avg_nll (log-perplexity); exp() is left to the consumer.
    *
    * Determinism is the q67 BM25 recipe: each bigram's surprisal
    * -ln p = ln(c1 + V) - ln(c2 + 1) takes ln of INTEGERS, is scaled to
    * 1e-6 micro-units and rounded with a boundary guard (an engine pair
    * disagreeing by ulps sits ~1e-10 from the boundary — a value within
    * 1e-6 raises instead of silently diverging), then summed EXACTLY as
    * integers; the one final division is IEEE-identical.
    *
    * Scale shape: the bigram/unigram count tables are map-side-combined
    * aggregates (bounded by distinct n-grams, ≪ corpus); each doc's
    * bigram rows gather their counts via two SKEW-PROOF two-tier joins
    * ([[gatherTwoTier]] — hot stop-word keys broadcast, tail shuffled) —
    * no window, no collect, vocabulary count broadcast as one row. */
  /** Skew-proof count gather for [[bigramSurprisal]]: a plain hash join
    * on the n-gram key funnels EVERY occurrence of a stop-word head
    * ("of the", "the") to one reducer at crawl scale. Two tiers instead:
    * the top-`headK` keys' stats — a BOUNDED table — broadcast, so the
    * hot rows join map-side with no shuffle at all; only the long flat
    * tail shuffle-joins. Every row matches exactly one tier (left_anti
    * carves the tail), so the union is the same multiset as the single
    * join — hash-identical output, no hot partition. */
  private def gatherTwoTier(rows: DataFrame, stats: DataFrame, key: String,
                            engage: Boolean, headK: Int = 1024): DataFrame =
    if (!engage) rows.join(stats, key)
    else {
      val cnt = stats.columns.filter(_ != key).head
      val head = stats.orderBy(desc(cnt), col(key)).limit(headK)
      val tail = stats.join(broadcast(head.select(key)), Seq(key), "left_anti")
      rows.join(broadcast(head), key).unionByName(rows.join(tail, key))
    }

  /** Engage [[gatherTwoTier]]'s head/tail split only past this input
    * size: below it every stats table is bounded enough that AQE
    * broadcasts the single join outright, and the split's extra plan
    * (anti-join + two joins + union) is pure overhead (~0.5 s at sf0.1);
    * above it the hot stop-word keys are exactly the skew the split
    * exists to break. The dial reads Catalyst's `stats.sizeInBytes` for
    * the input plan — file sizes for a parquet scan, NO job at all (an
    * earlier `count()` form re-ran a job per call and silently computed
    * the full lineage for non-file inputs). Both paths produce the same
    * multiset, so the output hash cannot depend on the gate; an
    * unknown-size lineage (huge default estimate) engages the split,
    * which errs toward the skew-proof shape. */
  private[graft] val TwoTierMinBytes = BigInt(256L << 20)

  private def engageTwoTier(docs: DataFrame, twoTier: Option[Boolean]): Boolean =
    twoTier.getOrElse(
      docs.queryExecution.optimizedPlan.stats.sizeInBytes >= TwoTierMinBytes)

  def bigramSurprisal(docs: DataFrame,
                      twoTier: Option[Boolean] = None): DataFrame = {
    graft.expressions.GraftFunctions.register(docs.sparkSession)
    val engage = engageTwoTier(docs, twoTier)
    val bg = docs.selectExpr("doc_id", "explode(graft_shingles(split(text, ' '), 2)) AS bg")
    val uniCounts = docs.selectExpr("explode(split(text, ' ')) AS w")
      .groupBy("w").agg(count(lit(1)).as("c1"))
    val vocab = uniCounts.agg(count(lit(1)).as("v"))
    val bgCounts = bg.groupBy("bg").agg(count(lit(1)).as("c2"))
    val raw = "(ln(c1 + v) - ln(c2 + 1)) * 1e6"
    gatherTwoTier(
      gatherTwoTier(bg, bgCounts, "bg", engage)
        .selectExpr("doc_id", "split(bg, ' ')[0] AS w1", "c2"),
      uniCounts.withColumnRenamed("w", "w1"), "w1", engage)
      .crossJoin(broadcast(vocab))
      .selectExpr("doc_id",
        s"""CASE WHEN abs($raw - floor($raw) - 0.5e0) < 1e-6
                 THEN CAST(raise_error('q92: surprisal at a rounding boundary') AS BIGINT)
                 ELSE CAST(round($raw) AS BIGINT) END AS micro""")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"), sum("micro").as("nll_micro"))
      .selectExpr("doc_id", "n_bigrams", "nll_micro",
        "CAST(nll_micro AS DOUBLE) / (CAST(n_bigrams AS DOUBLE) * 1e6) AS avg_nll")
      .orderBy("doc_id")
  }

  /** q95 — DSIR IMPORTANCE WEIGHTS (Xie et al. 2023, "Data Selection for
    * Language Models via Importance Resampling"): score every raw (train-
    * split) document by the log-likelihood ratio of its bigram bag under
    * two add-one-smoothed n-gram models — one fit on the TARGET corpus
    * (here the held-out q57 test split, standing in for the small
    * high-quality corpus DSIR targets), one on the RAW corpus (the train
    * split). Selecting/resampling by logw concentrates the training mix on
    * target-like text; the val split touches neither model. Smoothing uses
    * the joint bigram vocabulary V (distinct bigrams across both fitted
    * splits), so a bigram unseen in the target still has finite mass.
    *
    * Determinism is the q92/q67 recipe: per-occurrence
    * logw = ln(tc+1) − ln(Tt+V) − ln(rc+1) + ln(Tr+V) takes ln of
    * INTEGERS, is scaled to micro-units with a rounding-boundary guard
    * (logw is signed — away-from-zero half-rounding agrees across engines
    * everywhere except the guarded boundary), summed exactly as integers;
    * the final division is one IEEE op.
    *
    * Scale shape: the (bigram → target count, raw count) table is ONE
    * map-side-combined aggregate bounded by distinct bigrams ≪ corpus;
    * the split is the stateless md5-bucket rule ([[PipelineOps.splitOf]] —
    * row-local, no shuffle); per-doc gathers ride the skew-proof
    * [[gatherTwoTier]] (head ordered by RAW count — the probe side's hot
    * keys); the 3 totals broadcast as one row. No window, no collect. */
  def dsirWeights(docs: DataFrame,
                  twoTier: Option[Boolean] = None): DataFrame = {
    graft.expressions.GraftFunctions.register(docs.sparkSession)
    val engage = engageTwoTier(docs, twoTier)
    val split = docs
      .select(col("doc_id"), PipelineOps.md5Bucket(col("doc_id")).as("bucket"), col("text"))
      .selectExpr("doc_id", s"${PipelineOps.splitOf("bucket")} AS split", "text")
      .filter(col("split") =!= "val")
    val bg = split.selectExpr("doc_id", "split",
      "explode(graft_shingles(split(text, ' '), 2)) AS bg")
    // columns ordered (bg, rc, tc): gatherTwoTier's head ranks by the
    // first count column, and the probe side below is the RAW split
    val counts = bg.groupBy("bg").agg(
      sum(when(col("split") === "train", 1L).otherwise(0L)).as("rc"),
      sum(when(col("split") === "test", 1L).otherwise(0L)).as("tc"))
    val totals = counts.agg(
      sum("tc").as("tt"), sum("rc").as("tr"), count(lit(1)).as("v"))
    val raw = "(ln(tc + 1) - ln(tt + v) - ln(rc + 1) + ln(tr + v)) * 1e6"
    val scored = gatherTwoTier(
      bg.filter(col("split") === "train").select("doc_id", "bg"), counts, "bg", engage)
      .crossJoin(broadcast(totals))
      .selectExpr("doc_id",
        s"""CASE WHEN abs($raw - floor($raw) - 0.5e0) < 1e-6
                 THEN CAST(raise_error('q95: log-ratio at a rounding boundary') AS BIGINT)
                 ELSE CAST(round($raw) AS BIGINT) END AS micro""")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("nb"), sum("micro").as("lm"))
    split.filter(col("split") === "train").select("doc_id")
      .join(scored, Seq("doc_id"), "left_outer")
      .selectExpr("doc_id",
        "CAST(COALESCE(nb, 0) AS BIGINT) AS n_bigrams",
        "CAST(COALESCE(lm, 0) AS BIGINT) AS logw_micro",
        "CAST(COALESCE(lm, 0) AS DOUBLE) / 1e6 AS logw")
      .orderBy("doc_id")
  }

  /** q102's expected kept-count dial, shared with the oracle. */
  val DsirResampleTarget = 100L

  /** q102's water-filling round budget: redistribution converges in a
    * handful of rounds (caps are monotone — once a doc's fair rate hits
    * 1 it stays capped), measured ≤ 10 on the graded corpora. Spark
    * iterates to the FIXPOINT and raises if it is not reached within
    * this budget; the oracle unrolls exactly this many rounds, which are
    * idempotent past the fixpoint — so both engines hold the same final
    * (n, s) state. */
  val DsirWaterfillRounds = 12

  /** q102 — DSIR importance RESAMPLING: the APPLY step the q95 weights
    * exist for (Xie et al. 2023 §2: select a target-sized subset by
    * importance). Rate-capped Poisson resampling toward an expected
    * `target`: doc d is kept independently with probability
    * min(1, τ·w_d), with τ WATER-FILLED so the expected kept count is
    * the full target — importance weights are heavy-tailed (a few docs
    * carry almost all the mass), so the naive τ = target/Σw wastes the
    * budget on capped docs; the standard fix caps them at rate 1 and
    * redistributes the remaining budget over the rest until no new doc
    * caps. The draw u is the doc's own 48-bit md5 prefix (the q76/q58
    * replay-safe rule: retries, re-runs, and engines deal the same
    * sample).
    *
    * Determinism: w = exp(logw) is rounded ONCE into integer micro-units
    * behind the q92 boundary guard; from there EVERYTHING is exact
    * integer arithmetic — the water-fill state is (n = capped count,
    * s = Σ w_micro over the rest), the cap test is
    * `w_micro·(target−n) ≥ s`, and the keep rule is
    * `u·s < w_micro·(target−n)·2⁴⁸` in DECIMAL(38,0)/HUGEINT (capped
    * docs satisfy it for every u, so one rule covers both cases). No
    * IEEE op anywhere after the guarded rounding: the kept set is
    * bit-identical across engines by construction.
    *
    * Scale shape: the weight table is checkpointed once; each
    * water-fill round is ONE bounded two-column aggregate over it (the
    * q66/q121 driver-fixpoint idiom — state is two integers);
    * the final verdict is a row-local filter against the broadcast
    * (n, s) pair. No window, no unbounded join. (Σw_micro is int64 here;
    * a corpus pushing it past 2⁶³ moves the state to DECIMAL(38,0) —
    * same shape.) */
  /** Per-doc micro-weight ceiling: logw_micro above this would push
    * w_micro = exp(logw)·1e6 past int64 — Spark's non-ANSI cast would
    * silently clamp while DuckDB errors, so the Spark side raises FIRST.
    * e^29·1e6 ≈ 3.9e18 < 2⁶³; a corpus whose weights legitimately land
    * here (or whose Σ overflows — the state `require` below) rescales
    * logw or moves the state to DECIMAL(38,0) — same plan shape. */
  val DsirMaxLogwMicro = 29000000L

  def dsirResample(docs: DataFrame, target: Long = DsirResampleTarget,
                   weights: Option[DataFrame] = None): DataFrame = {
    val wts = weights.getOrElse(dsirWeights(docs)).select("doc_id", "logw_micro")
    val raw = "exp(CAST(logw_micro AS DOUBLE) / 1e6) * 1e6"
    val wm = wts.selectExpr("doc_id",
        s"""CASE WHEN logw_micro > $DsirMaxLogwMicro
                 THEN CAST(raise_error(concat('q102: importance weight overflows ',
                      'micro-units (logw_micro > $DsirMaxLogwMicro) — rescale logw or ',
                      'move the water-fill state to DECIMAL(38,0)')) AS BIGINT)
                 ELSE logw_micro END AS logw_micro""")
      .selectExpr("doc_id", "logw_micro",
        s"""CASE WHEN abs($raw - floor($raw) - 0.5e0) < 1e-6
               THEN CAST(raise_error('q102: weight at a rounding boundary') AS BIGINT)
               ELSE CAST(round($raw) AS BIGINT) END AS w_micro""")
    // exact-integer water-fill with a MONOTONE per-doc capped bit (the
    // Lloyd-rounds idiom: each round's rows checkpointed). Stateless
    // recomputation of the capped set from (n, s) alone can OSCILLATE —
    // e.g. zero-weight docs flip in and out whenever s hits 0, and an
    // over-subscribed round (n > target) un-caps everyone — so caps only
    // ever GROW here, which makes convergence a certainty (bounded by
    // the doc count) and the fixed oracle unroll idempotent past it.
    var cur = wm.withColumn("capped", lit(false)).localCheckpoint()
    def stateOf(df: DataFrame): (Long, Long) = {
      // state sums run in DECIMAL(38,0): a wrapped int64 Σw would corrupt
      // every later cap test silently — overflow fails loudly instead
      val row = df.agg(
        coalesce(sum(when(col("capped"), 1L).otherwise(0L)), lit(0L)).as("n"),
        coalesce(sum(when(col("capped"), lit(java.math.BigDecimal.ZERO).cast("decimal(38,0)"))
          .otherwise(col("w_micro").cast("decimal(38,0)"))),
          lit(java.math.BigDecimal.ZERO).cast("decimal(38,0)")).as("s")).head()
      val s = row.getDecimal(1)
      require(s.compareTo(new java.math.BigDecimal(Long.MaxValue)) <= 0,
        s"q102: Σw_micro $s overflows int64 — move the water-fill state to DECIMAL(38,0)")
      (row.getLong(0), s.longValueExact())
    }
    var state = stateOf(cur)
    var prev = (-1L, -1L)
    var r = 0
    while (r < DsirWaterfillRounds && state != prev) {
      prev = state
      val (n, s) = state
      cur = cur.withColumn("capped", expr(
          s"""capped OR (w_micro > 0
                AND CAST(w_micro AS DECIMAL(38,0)) * (${target}L - ${n}L) >= ${s}L)"""))
        .localCheckpoint()
      state = stateOf(cur)
      r += 1
    }
    require(state == prev,
      s"q102: water-fill did not converge in $DsirWaterfillRounds rounds " +
        s"(state $state) — raise DsirWaterfillRounds or lower the target")
    val (n, s) = state
    cur.withColumn("u", PipelineOps.md5Prefix48(col("doc_id")))
      .selectExpr("doc_id", "logw_micro", "w_micro", "u",
        s"""capped OR CAST(u AS DECIMAL(38,0)) * ${s}L
              < CAST(w_micro AS DECIMAL(38,0)) * (${target}L - ${n}L) * 281474976710656L
            AS kept""")
      .orderBy("doc_id")
  }

  /** The q95 oracle SQL, a val so q102 composes it verbatim. */
  private val DsirWeightsSql =
    s"""WITH s AS (SELECT doc_id, text,
                          CASE WHEN bucket < ${PipelineOps.TrainCut} THEN 'train'
                               WHEN bucket < ${PipelineOps.ValCut} THEN 'val'
                               ELSE 'test' END AS split
                   FROM (SELECT doc_id, text,
                                ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 2))::BIGINT AS bucket
                         FROM documents)),
        bg AS (SELECT doc_id, split, ts[i] || ' ' || ts[i+1] AS bg
               FROM (SELECT doc_id, split, ts, unnest(range(1, len(ts))) AS i
                     FROM (SELECT doc_id, split, str_split(text, ' ') AS ts
                           FROM s WHERE split <> 'val'))),
        c AS (SELECT bg,
                     CAST(SUM(CASE WHEN split = 'train' THEN 1 ELSE 0 END) AS BIGINT) AS rc,
                     CAST(SUM(CASE WHEN split = 'test' THEN 1 ELSE 0 END) AS BIGINT) AS tc
              FROM bg GROUP BY bg),
        t AS (SELECT CAST(SUM(tc) AS BIGINT) AS tt, CAST(SUM(rc) AS BIGINT) AS tr,
                     CAST(COUNT(*) AS BIGINT) AS v FROM c),
        m AS (SELECT b.doc_id,
                     CAST(round((ln(c.tc + 1) - ln(t.tt + t.v)
                                 - ln(c.rc + 1) + ln(t.tr + t.v)) * 1e6) AS BIGINT) AS micro
              FROM bg b JOIN c USING (bg) CROSS JOIN t
              WHERE b.split = 'train'),
        g AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS nb,
                     CAST(SUM(micro) AS BIGINT) AS lm
              FROM m GROUP BY doc_id)
        SELECT s.doc_id AS doc_id,
               CAST(COALESCE(g.nb, 0) AS BIGINT) AS n_bigrams,
               CAST(COALESCE(g.lm, 0) AS BIGINT) AS logw_micro,
               CAST(COALESCE(g.lm, 0) AS DOUBLE) / 1e6 AS logw
        FROM s LEFT JOIN g ON s.doc_id = g.doc_id
        WHERE s.split = 'train'
        ORDER BY doc_id"""

  /** q90 — PER-SOURCE QUALITY DASHBOARD: the rollup a corpus team actually
    * watches — per (lang, source): doc count, q61 keep count/rate, and the
    * corpus-level stop-word ratio. A collapsing source (crawler broke, spam
    * flood) shows up here before any per-doc signal is read.
    *
    * Determinism: counts and token/stopword sums are exact integers; the
    * two ratios are single final divisions. Composes the verified q31/q61
    * per-doc signals, then ONE bounded (lang, source) aggregate —
    * map-side combinable, output cardinality = |strata|. */
  def sourceQuality(docs: DataFrame): DataFrame =
    docs.select("doc_id", "lang", "source")
      .join(qualityScore(docs).select("doc_id", "n_tokens", "n_stop"), "doc_id")
      .join(trainingFilter(docs).select(col("doc_id"), col("keep")), "doc_id")
      .groupBy("lang", "source")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("keep"), 1L).otherwise(0L)).as("n_kept"),
        sum("n_tokens").as("total_tokens"),
        sum("n_stop").as("total_stop"))
      .selectExpr("lang", "source", "n_docs", "n_kept",
        "CAST(n_kept AS DOUBLE) / CAST(n_docs AS DOUBLE) AS kept_frac",
        "total_tokens",
        "CAST(total_stop AS DOUBLE) / CAST(total_tokens AS DOUBLE) AS stop_ratio")
      .orderBy(col("lang").asc_nulls_last, col("source").asc_nulls_last)

  /** q130's corruption dials, shared with the oracle: one
    * [[CorruptSpanLen]]-token span masked per [[CorruptBlockTokens]]-token
    * block (= 15% masking at full blocks, the T5 rate). */
  val CorruptBlockTokens = 20
  val CorruptSpanLen = 3

  /** q130 — SPAN-CORRUPTION BOOKKEEPING: the deterministic denoising-
    * objective prep (T5/UL2-style infill): each doc is partitioned into
    * [[CorruptBlockTokens]]-token blocks and ONE [[CorruptSpanLen]]-token
    * span per (long-enough) block is masked, the span's offset drawn by
    * the replay-safe 48-bit md5 fold on (doc_id, block) — a retried task,
    * a re-run, or the oracle all mask the SAME tokens, which is exactly
    * what `rand()`-based corruption loses under speculative re-execution.
    * Emits per doc the token count, span/masked-token counts, and the
    * fingerprint of the corrupted text (masked tokens replaced by the
    * `<mask>` sentinel) — the artifact half of the objective; the label
    * half is the q84/q82-style span inventory a trainer derives the same
    * way.
    *
    * Scale shape: ONE row-local projection — the mask predicate is pure
    * integer/md5 math per token, no shuffle, no state; this is the q79
    * apply-side shape and whole-stage-codegen keeps it in one pass. */
  def spanCorruption(docs: DataFrame,
                     blockTokens: Int = CorruptBlockTokens,
                     spanLen: Int = CorruptSpanLen): DataFrame = {
    // offset draw for token position i's block b: md5₄₈(doc_id:b) % (bs-spanLen+1)
    val b = s"(i DIV $blockTokens)"
    val bs = s"least($blockTokens, n_tokens - $b * $blockTokens)"
    val off = s"""(conv(substring(md5(concat(CAST(doc_id AS STRING), ':',
                       CAST($b AS STRING))), 1, 12), 16, 10) % ($bs - ${spanLen - 1}))"""
    val maskPred = s"$bs >= $spanLen AND " +
      s"(i - $b * $blockTokens) BETWEEN $off AND $off + ${spanLen - 1}"
    docs.selectExpr("doc_id", "split(text, ' ') AS ts")
      .selectExpr("doc_id", "ts", "CAST(size(ts) AS BIGINT) AS n_tokens")
      .selectExpr("doc_id", "n_tokens",
        s"""array_join(transform(ts, (t, i) ->
              CASE WHEN $maskPred THEN '<mask>' ELSE t END), ' ') AS corrupted""",
        s"""CAST(size(filter(sequence(0, CAST((n_tokens - 1) DIV $blockTokens AS INT)),
              bb -> least($blockTokens, n_tokens - bb * $blockTokens) >= $spanLen))
            AS BIGINT) AS n_spans""")
      .selectExpr("doc_id", "n_tokens", "n_spans",
        s"n_spans * $spanLen AS n_masked",
        "md5(corrupted) AS corrupted_fp")
      // r16: the presentation sort's range sampler re-executes the
      // un-shuffled child — here the full mask transform + corrupted-text
      // md5; materialize the narrow rows once instead (the q79 fix)
      .localCheckpoint()
      .orderBy("doc_id")
  }

  /** q143's dials: a collocation must occur at least this often… */
  val CollocationMinSupport = 5L
  /** …and lift at least [[CollocationLiftNum]]/[[CollocationLiftDen]]
    * over independence — a RATIONAL, so the cut stays an exact
    * cross-multiplied integer comparison on both engines (3/2 rather
    * than 2: the synthetic corpus draws tokens near-independently, so
    * its strongest collocations sit in the 1.5–1.7 band). */
  val CollocationLiftNum = 3L
  val CollocationLiftDen = 2L

  /** q143 — COLLOCATION MINING by exact lift: adjacent token pairs that
    * co-occur at least [[CollocationMinLift]]× more often than their
    * marginals predict (with [[CollocationMinSupport]] support) — the
    * PMI-style phrase discovery every tokenizer/vocab pipeline runs
    * before merging multiword units, done WITHOUT the logarithm: ranking
    * and thresholding by PMI is ranking by lift = P(xy)/(P(x)·P(y)) =
    * n_xy·N / (n_x·n_y), and a rational threshold num/den makes the cut
    * an exact integer cross-multiplication — `den·n_xy·N ≥ num·n_x·n_y`
    * in DECIMAL(38,0)/HUGEINT — so it cannot drift cross-engine the way
    * `ln` (not correctly rounded in either engine) would. The emitted
    * lift is the single IEEE division of two exactly-computed integers.
    *
    * Marginals are DIRECTIONAL (x as left word, y as right word — the
    * bigram-model convention), so both are exact column sums of the
    * bigram table itself. Scale shape: bigrams explode row-locally
    * (transform over the token array — no position self-join), collapse
    * in ONE map-combinable aggregate; the marginal joins are token-keyed
    * over the already-collapsed table and the grand total is a one-row
    * broadcast. No window, no corpus self-join. */
  def collocations(docs: DataFrame,
                   minSupport: Long = CollocationMinSupport,
                   liftNum: Long = CollocationLiftNum,
                   liftDen: Long = CollocationLiftDen): DataFrame = {
    graft.expressions.GraftFunctions.register(docs.sparkSession)
    // tokens are space-split, so a space can never appear INSIDE a token:
    // the bigram key is the space-joined pair string — built by the native
    // graft_shingles expression (n=2), ONE linear pass per doc. The
    // built-in transform(sequence, i -> tk[i]...) form is a trap here:
    // Catalyst's project-collapse re-inlines split(text) into every
    // element access — O(tokens²) re-tokenization per doc (measured 6×
    // slower at sf0.1; the same pitfall graft_shingles' scaladoc pins).
    // Words split back out only AFTER the corpus collapses to the
    // bounded pair table.
    val big = docs
      .selectExpr("explode(graft_shingles(split(text, ' '), 2)) AS p")
      .groupBy("p").agg(count(lit(1)).as("n_xy"))
      .selectExpr("split(p, ' ')[0] AS x", "split(p, ' ')[1] AS y", "n_xy")
      .localCheckpoint() // consumed by both marginals, the total, and the probe
    val lx = big.groupBy("x").agg(sum("n_xy").as("n_x"))
    val ry = big.groupBy("y").agg(sum("n_xy").as("n_y"))
    val tot = big.agg(sum("n_xy").as("n"))
    big.join(lx, "x").join(ry, "y").crossJoin(broadcast(tot))
      .filter(col("n_xy") >= minSupport &&
        expr(s"""$liftDen * CAST(n_xy AS DECIMAL(38,0)) * n >=
                 $liftNum * CAST(n_x AS DECIMAL(38,0)) * n_y"""))
      .selectExpr("x", "y", "n_xy", "n_x", "n_y",
        """CAST(CAST(n_xy AS DECIMAL(38,0)) * n AS DOUBLE) /
           CAST(CAST(n_x AS DECIMAL(38,0)) * n_y AS DOUBLE) AS lift""")
      .orderBy(desc("n_xy"), col("x"), col("y"))
  }

  def oracles: Map[String, String] = {
    val langs = langSets.map(_._1)
    val hitSql = langSets.map { case (l, ws) =>
      s"len(list_filter(str_split(text, ' '), t -> t IN (${inList(ws)}))) AS hits_$l"
    }.mkString(", ")
    val caseSql = langs.init.zipWithIndex.map { case (l, i) =>
      val rest = langs.drop(i + 1).map(r => s"hits_$l >= hits_$r").mkString(" AND ")
      s"WHEN $rest THEN '$l'"
    }.mkString(" ")
    val phraseSql = PhraseBook.map { phrase =>
      val terms = phrase.split(" ")
      val joins = terms.zipWithIndex.drop(1).map { case (_, i) =>
        s"JOIN tok t$i ON t$i.doc_id = t0.doc_id AND t$i.pos = t0.pos + $i"
      }.mkString(" ")
      val preds = terms.zipWithIndex
        .map { case (t, i) => s"t$i.tok = '$t'" }.mkString(" AND ")
      s"""SELECT '$phrase' AS phrase, t0.doc_id AS doc_id,
                 CAST(COUNT(*) AS BIGINT) AS n_matches,
                 CAST(MIN(t0.pos) - 1 AS BIGINT) AS first_pos
          FROM tok t0 $joins WHERE $preds GROUP BY t0.doc_id"""
    }.mkString(" UNION ALL ")
    val base = Map(
      // q219: identical (lang, token) collapse, the same HUGEINT
      // cross-multiplied lift (≡ Spark's DECIMAL(38,0) on these
      // magnitudes), the same min-tf cut, rank window, and tie rule
      "q219_class_keyterms" ->
        s"""WITH tf AS (SELECT lang, unnest(str_split(text, ' ')) AS token
                        FROM documents WHERE lang IS NOT NULL),
              c AS (SELECT lang, token, CAST(COUNT(*) AS BIGINT) AS tf_c
                    FROM tf GROUP BY 1, 2),
              ct AS (SELECT lang, CAST(SUM(tf_c) AS BIGINT) AS t_c
                     FROM c GROUP BY 1),
              tt AS (SELECT token, CAST(SUM(tf_c) AS BIGINT) AS tf_all
                     FROM c GROUP BY 1),
              g AS (SELECT CAST(SUM(tf_c) AS BIGINT) AS t_all FROM c),
              sc AS (SELECT c.lang AS lang, c.token AS token, tf_c, tf_all,
                            CAST(CAST(1000000 AS HUGEINT) * tf_c * t_all
                                 // (tf_all * t_c) AS BIGINT) AS lift_micro
                     FROM c JOIN ct ON c.lang = ct.lang
                            JOIN tt ON c.token = tt.token
                            CROSS JOIN g
                     WHERE tf_c >= $KeytermMinTf)
         SELECT lang, rank, token, tf_c, tf_all, lift_micro
         FROM (SELECT *, CAST(row_number() OVER (PARTITION BY lang
                          ORDER BY lift_micro DESC, token) AS BIGINT) AS rank
               FROM sc)
         WHERE rank <= $KeytermTopN
         ORDER BY lang, rank""",
      // q198: identical postings (DuckDB's 1-based subscripts shifted to
      // Spark's 0-based posexplode at ship time; adjacency joins are
      // base-invariant) and the same per-phrase position intersection
      "q198_phrase_search" ->
        s"""WITH tok AS (
              SELECT doc_id, u.tok AS tok, u.pos AS pos FROM documents,
                LATERAL (SELECT unnest(str_split(text, ' ')) AS tok,
                                generate_subscripts(str_split(text, ' '), 1) AS pos) u
              WHERE true)
            SELECT * FROM ($phraseSql) ORDER BY phrase, doc_id""",
      // q143: identical row-local bigramming (1-indexed scalar unnest vs
      // 0-indexed transform — same pairs; DuckDB's range() table function
      // rejects lateral column args, so the index explodes in SELECT),
      // identical exact cross-multiplied HUGEINT cut
      "q143_collocations" ->
        s"""WITH d AS (SELECT str_split(text, ' ') AS tk FROM documents),
            ix AS (SELECT tk, unnest(range(1, len(tk))) AS i FROM d),
            bg AS (SELECT tk[i] AS x, tk[i + 1] AS y FROM ix),
            big AS (SELECT x, y, CAST(COUNT(*) AS BIGINT) AS n_xy
                    FROM bg GROUP BY 1, 2),
            lx AS (SELECT x, CAST(SUM(n_xy) AS BIGINT) AS n_x FROM big GROUP BY x),
            ry AS (SELECT y, CAST(SUM(n_xy) AS BIGINT) AS n_y FROM big GROUP BY y),
            tot AS (SELECT CAST(SUM(n_xy) AS BIGINT) AS n FROM big)
            SELECT big.x AS x, big.y AS y, n_xy, n_x, n_y,
                   CAST(CAST(n_xy AS HUGEINT) * n AS DOUBLE) /
                   CAST(CAST(n_x AS HUGEINT) * n_y AS DOUBLE) AS lift
            FROM big JOIN lx USING (x) JOIN ry USING (y) CROSS JOIN tot
            WHERE n_xy >= $CollocationMinSupport
              AND $CollocationLiftDen * CAST(n_xy AS HUGEINT) * n >=
                  $CollocationLiftNum * CAST(n_x AS HUGEINT) * n_y
            ORDER BY n_xy DESC, x, y""",
      // q130: the same per-token block/offset integer math and md5 draw;
      // spans counted as distinct qualifying blocks, the corrupted text
      // rebuilt in token order
      "q130_span_corruption" -> {
        val (bT, sL) = (CorruptBlockTokens, CorruptSpanLen)
        s"""WITH toks AS (SELECT doc_id, str_split(text, ' ') AS ts FROM documents),
            p AS (SELECT doc_id, len(ts) AS n, ii - 1 AS i, ts[ii] AS tok
                  FROM (SELECT doc_id, ts, unnest(range(1, len(ts) + 1)) AS ii
                        FROM toks)),
            q AS (SELECT doc_id, n, i, tok,
                         least($bT, n - (i // $bT) * $bT) AS bs,
                         ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':'
                                             || CAST(i // $bT AS VARCHAR)), 1, 12))::BIGINT
                           AS draw
                  FROM p),
            m AS (SELECT doc_id, n, i, bs,
                         CASE WHEN bs >= $sL
                               AND i - (i // $bT) * $bT
                                   BETWEEN draw % (bs - ${sL - 1})
                                       AND draw % (bs - ${sL - 1}) + ${sL - 1}
                              THEN '<mask>' ELSE tok END AS tok2
                  FROM q)
            SELECT doc_id, CAST(MAX(n) AS BIGINT) AS n_tokens,
                   CAST(COUNT(DISTINCT CASE WHEN bs >= $sL THEN i // $bT END) AS BIGINT)
                     AS n_spans,
                   CAST(COUNT(DISTINCT CASE WHEN bs >= $sL THEN i // $bT END) * $sL AS BIGINT)
                     AS n_masked,
                   md5(string_agg(tok2, ' ' ORDER BY i)) AS corrupted_fp
            FROM m GROUP BY doc_id ORDER BY doc_id"""
      },
      "q86_pii_scrub" ->
        s"""WITH dirty AS (SELECT doc_id, $DuckDirtyExpr AS dirty FROM documents)
            SELECT doc_id,
                   CAST(len(regexp_extract_all(dirty, '$PiiEmailRe')) AS BIGINT) AS n_emails,
                   CAST(len(regexp_extract_all(dirty, '$PiiPhoneRe')) AS BIGINT) AS n_phones,
                   CAST(len(regexp_extract_all(dirty, '$PiiIpRe')) AS BIGINT) AS n_ips,
                   md5(${duckPiiRedact("dirty")}) AS clean_fp
            FROM dirty ORDER BY doc_id""",
      "q88_gopher_repetition" ->
        """WITH toks AS (SELECT doc_id, str_split(text, ' ') AS ts FROM documents),
            g2 AS (SELECT doc_id, ts[i] || ' ' || ts[i+1] AS g
                   FROM (SELECT doc_id, ts, unnest(range(1, len(ts))) AS i FROM toks)),
            t2 AS (SELECT doc_id, c AS top2_cnt FROM (
                     SELECT doc_id, g, c,
                            ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY c DESC, g) AS rn
                     FROM (SELECT doc_id, g, COUNT(*) AS c FROM g2 GROUP BY 1, 2))
                   WHERE rn = 1),
            g5 AS (SELECT doc_id, i - 1 AS pos, array_to_string(ts[i:i+4], ' ') AS g
                   FROM (SELECT doc_id, ts, unnest(range(1, len(ts) - 3)) AS i
                         FROM toks WHERE len(ts) >= 5)),
            d5 AS (SELECT doc_id, g
                   FROM (SELECT doc_id, g, COUNT(*) AS c FROM g5 GROUP BY 1, 2)
                   WHERE c > 1),
            r5 AS (SELECT g5.doc_id, list_sort(list(DISTINCT g5.pos)) AS rs
                   FROM g5 JOIN d5 ON g5.doc_id = d5.doc_id AND g5.g = d5.g
                   GROUP BY 1),
            p AS (SELECT doc_id, top2_cnt, i,
                         len(list_filter(rs, q -> q <= i AND i <= q + 4)) > 0 AS cov
                  FROM (SELECT t.doc_id,
                               COALESCE(t2.top2_cnt, 0) AS top2_cnt,
                               COALESCE(r5.rs, []) AS rs,
                               unnest(range(0, len(t.ts))) AS i
                        FROM toks t LEFT JOIN t2 ON t.doc_id = t2.doc_id
                                    LEFT JOIN r5 ON t.doc_id = r5.doc_id))
            SELECT doc_id,
                   CAST(COUNT(*) AS BIGINT) AS n_tokens,
                   CAST(MAX(top2_cnt) AS BIGINT) AS top2_cnt,
                   CAST(MAX(top2_cnt) * 2 AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS top2_frac,
                   CAST(COUNT(*) FILTER (cov) AS BIGINT) AS dup5_tokens,
                   CAST(COUNT(*) FILTER (cov) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS dup5_frac
            FROM p GROUP BY doc_id ORDER BY doc_id""",
      "q92_bigram_surprisal" ->
        """WITH toks AS (SELECT doc_id, str_split(text, ' ') AS ts FROM documents),
            bg AS (SELECT doc_id, ts[i] AS w1, ts[i] || ' ' || ts[i+1] AS bg
                   FROM (SELECT doc_id, ts, unnest(range(1, len(ts))) AS i FROM toks)),
            uni AS (SELECT w, COUNT(*) AS c1
                    FROM (SELECT unnest(str_split(text, ' ')) AS w FROM documents)
                    GROUP BY w),
            v AS (SELECT CAST(COUNT(*) AS BIGINT) AS v FROM uni),
            bc AS (SELECT bg, COUNT(*) AS c2 FROM bg GROUP BY bg),
            m AS (SELECT b.doc_id,
                         CAST(round((ln(u.c1 + v.v) - ln(bc.c2 + 1)) * 1e6) AS BIGINT)
                           AS micro
                  FROM bg b JOIN bc USING (bg) JOIN uni u ON b.w1 = u.w CROSS JOIN v)
            SELECT doc_id,
                   CAST(COUNT(*) AS BIGINT) AS n_bigrams,
                   CAST(SUM(micro) AS BIGINT) AS nll_micro,
                   CAST(SUM(micro) AS BIGINT) / (COUNT(*) * 1e6) AS avg_nll
            FROM m GROUP BY doc_id ORDER BY doc_id""",
      // q95: same split rule as the q57 oracle, same 4-ln micro-unit
      // construction as the Spark side (the boundary guard lives there)
      "q95_dsir_weights" -> DsirWeightsSql,
      // q102 composes the q95 oracle verbatim (the q76/q78 pattern — the
      // resample's weight inputs cannot drift from the verified query),
      // then mirrors the Spark side exactly: ONE rounding of exp(logw)
      // into integer micro-units (the boundary guard lives on the Spark
      // side), then the unrolled exact-integer water-fill rounds (the
      // q87 unrolled-round-prelude precedent; rounds past the fixpoint
      // are idempotent, so the fixed unroll equals Spark's
      // iterate-to-fixpoint state) and the all-integer keep rule —
      // bit-identical across engines by construction
      "q102_dsir_resample" -> {
        val t = DsirResampleTarget
        // one (w_r, s_r) CTE pair per round: w_r carries the MONOTONE
        // per-doc capped bit (capped OR caps-now), s_r the two-integer
        // state — exactly the Spark iteration, unrolled. Every w_r is
        // MATERIALIZED: each is referenced twice (by s_r and w_{r+1}),
        // so default CTE inlining would expand the chain exponentially
        // (2^rounds re-scans of the corpus — observed as a too-many-open-
        // files blowup); materialization is the oracle's localCheckpoint
        val rounds = (1 to DsirWaterfillRounds).map { r =>
          val (pw, ps) = (s"w${r - 1}", s"s${r - 1}")
          s"""w$r AS MATERIALIZED (SELECT doc_id, logw_micro, w_micro,
                           capped OR (w_micro > 0
                             AND CAST(w_micro AS HUGEINT) * ($t - $ps.n) >= $ps.s) AS capped
                    FROM $pw CROSS JOIN $ps),
              s$r AS (SELECT CAST(COALESCE(SUM(CASE WHEN capped THEN 1 ELSE 0 END), 0) AS BIGINT) AS n,
                           CAST(COALESCE(SUM(CASE WHEN capped THEN 0 ELSE w_micro END), 0) AS BIGINT) AS s
                    FROM w$r)"""
        }.mkString(",\n            ")
        val (wF, sF) = (s"w$DsirWaterfillRounds", s"s$DsirWaterfillRounds")
        s"""WITH dw AS ($DsirWeightsSql),
            wm AS (SELECT doc_id, logw_micro,
                          CAST(round(exp(CAST(logw_micro AS DOUBLE) / 1e6) * 1e6) AS BIGINT)
                            AS w_micro
                   FROM dw),
            w0 AS MATERIALIZED (SELECT doc_id, logw_micro, w_micro, FALSE AS capped FROM wm),
            s0 AS (SELECT CAST(0 AS BIGINT) AS n,
                          CAST(COALESCE(SUM(w_micro), 0) AS BIGINT) AS s FROM wm),
            $rounds
            SELECT $wF.doc_id AS doc_id, $wF.logw_micro AS logw_micro,
                   $wF.w_micro AS w_micro,
                   ('0x' || substr(md5(CAST($wF.doc_id AS VARCHAR)), 1, 12))::BIGINT AS u,
                   $wF.capped OR
                   CAST(('0x' || substr(md5(CAST($wF.doc_id AS VARCHAR)), 1, 12))::BIGINT AS HUGEINT)
                       * $sF.s
                     < CAST($wF.w_micro AS HUGEINT) * ($t - $sF.n) * 281474976710656 AS kept
            FROM $wF CROSS JOIN $sF
            ORDER BY doc_id"""
      },
      // q111 mirrors the row-local bucket id (length(bin(n))−1 — DuckDB's
      // bin() is unpadded like Spark's), the bounded suffix-sum self-join,
      // and the single-division coverage ratios
      "q111_vocab_coverage" ->
        """WITH tok AS (SELECT unnest(str_split(text, ' ')) AS token FROM documents),
            tf AS (SELECT token, CAST(COUNT(*) AS BIGINT) AS n FROM tok GROUP BY token),
            bk AS (SELECT CAST(length(bin(n)) - 1 AS BIGINT) AS b,
                          CAST(COUNT(*) AS BIGINT) AS bucket_terms,
                          CAST(SUM(n) AS BIGINT) AS bucket_tokens
                   FROM tf GROUP BY 1),
            tot AS (SELECT CAST(SUM(bucket_tokens) AS BIGINT) AS total_tokens,
                           CAST(SUM(bucket_terms) AS BIGINT) AS total_terms FROM bk),
            cum AS (SELECT lo.b AS b, lo.bucket_terms, lo.bucket_tokens,
                           CAST(SUM(hi.bucket_terms) AS BIGINT) AS vocab_size,
                           CAST(SUM(hi.bucket_tokens) AS BIGINT) AS covered_tokens
                    FROM bk lo JOIN bk hi ON hi.b >= lo.b
                    GROUP BY 1, 2, 3)
           SELECT b, (1::BIGINT << b) AS min_freq, bucket_terms, bucket_tokens,
                  vocab_size, covered_tokens,
                  CAST(covered_tokens AS DOUBLE) / CAST(total_tokens AS DOUBLE) AS token_coverage,
                  CAST(vocab_size AS DOUBLE) / CAST(total_terms AS DOUBLE) AS vocab_share
           FROM cum CROSS JOIN tot
           ORDER BY b DESC""",
      "q63_term_index" ->
        """WITH tf AS (SELECT doc_id, unnest(str_split(text, ' ')) AS token FROM documents),
            t AS (SELECT doc_id, token, COUNT(*) AS tf FROM tf GROUP BY 1, 2),
            d AS (SELECT token, COUNT(*) AS df FROM t GROUP BY token)
           SELECT t.doc_id AS doc_id, t.token AS token, t.tf AS tf, d.df AS df,
                  t.tf / CAST(d.df AS DOUBLE) AS tf_over_df
           FROM t JOIN d ON t.token = d.token
           ORDER BY doc_id, token""",
      "q60_repetition" ->
        """WITH sh AS (SELECT doc_id,
                              unnest(list_transform(range(1, len(str_split(text, ' ')) - 1),
                                i -> str_split(text, ' ')[i] || ' ' || str_split(text, ' ')[i+1]
                                     || ' ' || str_split(text, ' ')[i+2])) AS shingle
                       FROM documents WHERE len(str_split(text, ' ')) >= 3),
            c AS (SELECT doc_id, shingle, COUNT(*) AS c FROM sh GROUP BY 1, 2),
            a AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_shingles,
                         CAST(MAX(c) AS BIGINT) AS max_rep
                  FROM c GROUP BY doc_id)
           SELECT doc_id, n_shingles, max_rep,
                  max_rep / CAST(n_shingles AS DOUBLE) AS rep_ratio
           FROM a ORDER BY doc_id""",
      "q30_token_stats" ->
        """SELECT doc_id, len(str_split(text, ' ')) AS n_tokens,
                  len(list_distinct(str_split(text, ' '))) AS n_uniq_tokens,
                  length(text) AS n_chars_calc
           FROM documents ORDER BY doc_id""",
      "q31_quality_score" ->
        s"""SELECT doc_id, n_tokens, n_stop,
                   n_stop / CAST(n_tokens AS DOUBLE) AS stop_ratio
            FROM (SELECT doc_id, len(str_split(text, ' ')) AS n_tokens,
                         len(list_filter(str_split(text, ' '),
                             t -> t IN (${inList(stopwords)}))) AS n_stop
                  FROM documents)
            ORDER BY doc_id""",
      "q32_lang_stats" ->
        """SELECT lang, COUNT(*) AS n_docs,
                  CAST(SUM(n_chars) AS BIGINT) AS total_chars,
                  CAST(SUM(n_chars) AS BIGINT) / CAST(COUNT(*) AS DOUBLE) AS avg_chars,
                  COUNT(DISTINCT source) AS n_sources
           FROM documents GROUP BY lang ORDER BY lang""",
      "q33_fingerprint" ->
        s"""SELECT doc_id, md5(text) AS fp, $BowFpSql AS bow_fp
            FROM documents ORDER BY doc_id""",
      "q34_exact_dedup" ->
        s"""SELECT $BowFpSql AS bow_fp,
                   MIN(doc_id) AS keep_id, COUNT(*) AS n_dups
            FROM documents GROUP BY 1 ORDER BY keep_id""",
      "q41_regex_tokens" ->
        s"""SELECT doc_id,
                   len(regexp_extract_all(text, '$BpeRegex')) AS n_bpe_tokens,
                   len(str_split(text, ' ')) AS n_ws_tokens
            FROM documents ORDER BY doc_id""",
      "q35_lang_id" ->
        s"""SELECT doc_id, pred_lang, pred_lang = lang AS agrees
            FROM (SELECT doc_id, lang,
                         CASE $caseSql ELSE '${langs.last}' END AS pred_lang
                  FROM (SELECT doc_id, lang, $hitSql FROM documents))
            ORDER BY doc_id""",
      // q119 mirrors the row-local flags and exact int64 census; the
      // graded corpus hashes as provably clean (the corrupt branches are
      // spec-exercised on hand fixtures, the q118 convention)
      "q119_document_audit" ->
        """SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
                  CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_distinct_ids,
                  CAST(COUNT(doc_id) - COUNT(DISTINCT doc_id) AS BIGINT) AS n_dup_ids,
                  CAST(COUNT(*) - COUNT(doc_id) AS BIGINT) AS n_null_ids,
                  CAST(SUM(CASE WHEN text IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null_text,
                  CAST(SUM(CASE WHEN text IS NOT NULL AND length(text) = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_empty_text,
                  CAST(SUM(CASE WHEN text IS NOT NULL AND n_chars IS NOT NULL AND n_chars != length(text) THEN 1 ELSE 0 END) AS BIGINT) AS n_chars_mismatch,
                  CAST(SUM(CASE WHEN n_chars IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null_chars,
                  CAST(SUM(CASE WHEN lang IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null_lang,
                  CAST(SUM(CASE WHEN source IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null_source,
                  CAST(MIN(n_chars) AS BIGINT) AS min_chars,
                  CAST(MAX(n_chars) AS BIGINT) AS max_chars,
                  CAST(SUM(n_chars) AS BIGINT) AS total_chars
           FROM documents""",
      // q117 mirrors the q35 vote verbatim, then the bounded cell
      // aggregate + per-lang total with the identical single division
      "q117_lang_confusion" ->
        s"""WITH p AS (SELECT doc_id, lang,
                              CASE $caseSql ELSE '${langs.last}' END AS pred_lang
                       FROM (SELECT doc_id, lang, $hitSql FROM documents)),
            g AS (SELECT lang, pred_lang, CAST(COUNT(*) AS BIGINT) AS n
                  FROM p GROUP BY 1, 2),
            t AS (SELECT lang, CAST(SUM(n) AS BIGINT) AS lang_total
                  FROM g GROUP BY lang)
           SELECT g.lang AS lang, g.pred_lang AS pred_lang, g.n AS n,
                  t.lang_total AS lang_total,
                  CAST(g.n AS DOUBLE) / CAST(t.lang_total AS DOUBLE) AS rate
           FROM g JOIN t ON g.lang IS NOT DISTINCT FROM t.lang
           ORDER BY lang, pred_lang""",
      // q67: same contribution formula string as the Spark side (identical
      // IEEE sequence), integer micro-unit sum; no guard here — the oracle
      // just rounds, the Spark side proves the margin
      "q67_bm25" ->
        s"""WITH t AS (SELECT doc_id, unnest(str_split(text, ' ')) AS token FROM documents),
            l AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS dl FROM t GROUP BY doc_id),
            s AS (SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(dl) AS BIGINT) AS total FROM l),
            f AS (SELECT doc_id, token, CAST(COUNT(*) AS BIGINT) AS tf FROM t
                  WHERE token IN (${inList(Bm25Terms)}) GROUP BY 1, 2),
            d AS (SELECT token, CAST(COUNT(*) AS BIGINT) AS df FROM f GROUP BY token),
            c AS (SELECT f.doc_id AS doc_id,
                         CAST(round(($Bm25ContribExpr) * 1e6) AS BIGINT) AS micro
                  FROM f JOIN d ON f.token = d.token
                         JOIN l ON f.doc_id = l.doc_id, s)
            SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_hits,
                   CAST(SUM(micro) AS BIGINT) AS score_micro,
                   CAST(SUM(micro) AS BIGINT) / 1e6 AS score
            FROM c GROUP BY doc_id
            ORDER BY score_micro DESC, doc_id LIMIT 20""",
      "q68_vocab_mask" ->
        """WITH v AS (SELECT token
                      FROM (SELECT unnest(str_split(text, ' ')) AS token FROM documents)
                      GROUP BY token ORDER BY COUNT(*) DESC, token LIMIT 20),
            va AS (SELECT list(token) AS vocab FROM v)
           SELECT doc_id,
                  array_to_string(list_transform(str_split(text, ' '),
                    t -> CASE WHEN list_contains(vocab, t) THEN t ELSE '<unk>' END), ' ') AS masked,
                  len(list_filter(str_split(text, ' '),
                    t -> NOT list_contains(vocab, t))) AS n_masked
           FROM documents, va ORDER BY doc_id""",
    )
    // q61 composes the three component oracles verbatim, so the filter's
    // inputs cannot drift from the individually-verified queries
    val q61 =
      s"""WITH q AS (${base("q31_quality_score")}),
          l AS (${base("q35_lang_id")}),
          r AS (${base("q60_repetition")})
          SELECT q.doc_id AS doc_id, q.n_tokens AS n_tokens,
                 q.stop_ratio AS stop_ratio, r.rep_ratio AS rep_ratio,
                 l.agrees AS agrees,
                 (q.n_tokens >= 20 AND l.agrees
                  AND q.stop_ratio >= 0.02 AND q.stop_ratio <= 0.8
                  AND (r.rep_ratio IS NOT NULL AND r.rep_ratio <= 0.1)) AS keep
          FROM q JOIN l ON q.doc_id = l.doc_id
                 LEFT OUTER JOIN r ON q.doc_id = r.doc_id
          ORDER BY doc_id"""
    base + ("q61_training_filter" -> q61) +
      // q90 composes the verified q31 (token/stopword counts) and q61
      // (keep verdict) oracles verbatim, then one (lang, source) rollup
      ("q90_source_quality" ->
        s"""WITH qq AS (${base("q31_quality_score")}),
            t AS ($q61)
            SELECT d.lang, d.source,
                   COUNT(*) AS n_docs,
                   CAST(SUM(CASE WHEN t.keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
                   CAST(SUM(CASE WHEN t.keep THEN 1 ELSE 0 END) AS DOUBLE)
                     / CAST(COUNT(*) AS DOUBLE) AS kept_frac,
                   CAST(SUM(qq.n_tokens) AS BIGINT) AS total_tokens,
                   CAST(SUM(qq.n_stop) AS DOUBLE)
                     / CAST(SUM(qq.n_tokens) AS DOUBLE) AS stop_ratio
            FROM documents d JOIN qq ON d.doc_id = qq.doc_id
                             JOIN t ON d.doc_id = t.doc_id
            GROUP BY 1, 2 ORDER BY lang NULLS LAST, source NULLS LAST""")
  }
}
