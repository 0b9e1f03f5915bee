package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Skew and storage-layout audits for 100 TB runs: the key-skew report
  * that says where a shuffle needs salting, encoding and resharding
  * audits, and the zone-map, Z-order, Hilbert and compaction layouts a
  * lake picks before it writes.
  *
  * AQE's skew-join split (`spark.sql.adaptive.skewJoin`) handles many
  * skew cases automatically at runtime; these audits cover the
  * planned-ahead cases AQE can't see (aggregation skew, and layouts whose
  * payoff is known from data profiling).
  */
object ScaleOps {

  /** q201's bit-width ladder, ONE definition rendered into both engines'
    * SQL: the smallest b ≥ 1 with 2^b ≥ d — the dictionary index width a
    * bit-packing encoder pays per value. A CASE ladder instead of
    * `ceil(log2 d)` because log2 is IEEE-rounded and a one-ulp wobble at
    * a power of two silently changes the byte ledger. */
  private[graft] def bitsCase(d: String): String =
    (1 to 40).map(b => s"WHEN $d <= ${1L << b} THEN $b")
      .mkString("CASE ", " ", " ELSE 41 END")

  /** q201 — COLUMNAR ENCODING CHOICE: the per-(file, column) decision a
    * Parquet/ORC writer makes — PLAIN, DICTIONARY (bit-packed indices),
    * or RLE — generalized from q178/q181's set-container trade to column
    * storage, with exact byte ledgers so the choice is a graded fact.
    * Per day-file (the q179 file proxy) in ingest order (us, event_id):
    *   - `event_type` (low-cardinality string): dictionary wins — 5
    *     distinct strings + 3-bit packed indices beat re-storing text;
    *   - `cents` (high-NDV integer): plain wins — a dictionary of
    *     nearly-all-distinct values stores everything twice;
    *   - `hour` (slowly-changing integer): the winner FLIPS with scale —
    *     dictionary on sparse days (few rows, runs ≈ rows), RLE once
    *     days are dense enough that runs ≪ rows — the lesson that the
    *     chooser is data-dependent, not a static schema property.
    * Ledgers (exact integers): plain = values verbatim (strings pay a
    * 4-byte offset each); dict = distinct values verbatim + ⌈n·b/8⌉
    * packed index bytes ([[bitsCase]]); RLE = one (value, 4-byte run
    * length) per run, strings also pay the offset. NULL cents store as
    * the −1 sentinel (definition levels are out of scope; the sentinel
    * keeps the ledger exact on both engines). Ties break
    * dict < plain < rle — fixed, spelled identically in both engines.
    *
    * Scale shape: ONE window sort per day-file serves all three lag
    * columns (run detection), then everything is per-day aggregates over
    * that pass — in production this analysis runs per FILE at write
    * time, bounded by file size, exactly like the q179/q181 ledgers. */
  def encodingAudit(events: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("day").orderBy("us", "event_id")
    val base = events.selectExpr(
        "unix_micros(ts) DIV 86400000000 AS day",
        "unix_micros(ts) AS us", "event_id", "event_type",
        "CASE WHEN value IS NULL THEN -1 ELSE CAST(round(value * 100) AS BIGINT) END AS cents",
        "unix_micros(ts) DIV 3600000000 AS hour")
      .withColumn("p_et", lag("event_type", 1).over(w))
      .withColumn("p_c", lag("cents", 1).over(w))
      .withColumn("p_h", lag("hour", 1).over(w))
      .localCheckpoint() // one sort; read by the day census and the dict side
    val census = base.groupBy("day").agg(
      count(lit(1)).as("n"),
      sum(length(col("event_type"))).as("et_len"),
      countDistinct("event_type").as("et_d"),
      sum(when(col("p_et").isNull || col("event_type") =!= col("p_et"), 1L)
        .otherwise(0L)).as("et_runs"),
      sum(when(col("p_et").isNull || col("event_type") =!= col("p_et"),
        length(col("event_type"))).otherwise(0L)).as("et_head_len"),
      countDistinct("cents").as("c_d"),
      sum(when(col("p_c").isNull || col("cents") =!= col("p_c"), 1L)
        .otherwise(0L)).as("c_runs"),
      countDistinct("hour").as("h_d"),
      sum(when(col("p_h").isNull || col("hour") =!= col("p_h"), 1L)
        .otherwise(0L)).as("h_runs"))
    val etDict = base.select("day", "event_type").distinct()
      .groupBy("day").agg(sum(length(col("event_type"))).as("et_dict_len"))
    val ledgers = census.join(etDict, "day").selectExpr("day",
      // event_type: strings pay a 4-byte offset per stored value
      "n", "et_d", "et_runs",
      "et_len + 4 * n AS et_plain",
      s"et_dict_len + 4 * et_d + (n * (${bitsCase("et_d")}) + 7) DIV 8 AS et_dict",
      "et_head_len + 8 * et_runs AS et_rle",
      "c_d", "c_runs",
      "8 * n AS c_plain",
      s"8 * c_d + (n * (${bitsCase("c_d")}) + 7) DIV 8 AS c_dict",
      "12 * c_runs AS c_rle",
      "h_d", "h_runs",
      "8 * n AS h_plain",
      s"8 * h_d + (n * (${bitsCase("h_d")}) + 7) DIV 8 AS h_dict",
      "12 * h_runs AS h_rle")
    ledgers.selectExpr("day", "n",
        """stack(3,
             'cents',      c_d,  c_runs,  c_plain,  c_dict,  c_rle,
             'event_type', et_d, et_runs, et_plain, et_dict, et_rle,
             'hour',       h_d,  h_runs,  h_plain,  h_dict,  h_rle)
           AS (col, ndv, runs, plain_bytes, dict_bytes, rle_bytes)""")
      .selectExpr("day", "col", "n", "ndv", "runs",
        "plain_bytes", "dict_bytes", "rle_bytes",
        """CASE WHEN dict_bytes <= plain_bytes AND dict_bytes <= rle_bytes
                THEN 'dict'
                WHEN plain_bytes <= rle_bytes THEN 'plain'
                ELSE 'rle' END AS chosen""",
        "least(dict_bytes, plain_bytes, rle_bytes) AS chosen_bytes")
      .selectExpr("day", "col", "n", "ndv", "runs", "plain_bytes",
        "dict_bytes", "rle_bytes", "chosen", "chosen_bytes",
        "1000000 * (plain_bytes - chosen_bytes) DIV plain_bytes AS savings_micro")
      .orderBy("day", "col")
  }

  /** q153 — JOIN-KEY SKEW AUDIT: for each (table, key) a join or
    * aggregation will hash on, the distribution evidence that decides
    * the physical plan — row/key counts, the hottest key's share, the
    * share of rows held by the top 1% of keys, and the coefficient of
    * variation of per-key counts. A max_share near 1 says one reducer
    * gets the table (salt it: spread the hot key over (key, salt)
    * reducers); a CV near 0 says hash
    * partitioning balances for free. This is the artifact a 100 TB
    * engine reads BEFORE picking shuffle keys, made a first-class
    * graded query.
    *
    * Scale shape: per audited key the corpus collapses ONCE
    * (map-combinable count per key), then AGAIN to the count-of-counts
    * table — bounded by the number of DISTINCT FREQUENCIES (≤ √(2·rows)
    * by the partition-number bound, and tiny in practice) — and every
    * metric is exact integer arithmetic on that bounded table: the
    * top-1% coverage walks the descending cumulative with exact partial
    * inclusion of the boundary class, never a per-key rank. Σc² runs in
    * DECIMAL(38,0)/HUGEINT (a 10⁹-row hot key squares past int64). CV
    * and shares are fixed-shape IEEE expressions of exact integers. */
  def keySkewAudit(tables: Seq[(String, String, DataFrame)]): DataFrame = {
    // ONE pipeline for every audited (table, key) pair: the per-table key
    // collapses union into a single tagged corpus pass, so the bounded
    // count-of-counts table materializes through ONE checkpoint barrier
    // and the audits' scans run concurrently inside one job — the old
    // per-table pipelines serialized four eager checkpoints and ~45
    // driver jobs of mostly fixed overhead (guide §2.6: overlap
    // independent work). All downstream math is unchanged, now keyed by
    // the (tbl, key) tag instead of running once per table.
    val counts = tables.map { case (tbl, key, df) =>
      df.select(col(key).cast("string").as("k"))
        .groupBy("k").agg(count(lit(1)).as("c"))
        .selectExpr(s"'$tbl' AS tbl", s"'$key' AS key", "c")
    }.reduce(_ unionByName _)
    val coc = counts.groupBy("tbl", "key", "c").agg(count(lit(1)).as("m"))
      .localCheckpoint() // bounded; consumed by totals + cumulative
    val totals = coc.groupBy("tbl", "key").agg(
      sum(expr("c * m")).as("n_rows"), sum("m").as("n_keys"),
      max("c").as("max_count"),
      sum(expr("CAST(c AS DECIMAL(38,0)) * c * m")).as("sum_c2"))
    // descending cumulative over frequency classes (bounded self-join,
    // the q108 idiom): rows covered by the top-k keys where
    // k = ceil(n_keys / 100), boundary class partially included
    val cum = coc.as("x")
      .join(broadcast(coc.as("y")),
        col("x.tbl") === col("y.tbl") && col("x.key") === col("y.key") &&
          col("y.c") > col("x.c"), "left_outer")
      .groupBy(col("x.tbl").as("tbl"), col("x.key").as("key"),
        col("x.c").as("c"), col("x.m").as("m"))
      .agg(coalesce(sum(col("y.m")), lit(0L)).as("keys_above"),
        coalesce(sum(expr("y.c * y.m")), lit(0L)).as("rows_above"))
    val top = cum
      .join(broadcast(totals.select("tbl", "key", "n_keys")), Seq("tbl", "key"))
      .selectExpr("tbl", "key", "c", "m", "keys_above", "rows_above",
        "(n_keys + 99) DIV 100 AS target")
      .filter(col("keys_above") < col("target"))
      .selectExpr("tbl", "key",
        """rows_above + least(m, target - keys_above) * c AS covered""")
      .groupBy("tbl", "key").agg(max("covered").as("top1pct_rows"))
    totals.join(broadcast(top), Seq("tbl", "key"))
      .selectExpr("tbl", "key",
        "n_rows", "n_keys", "max_count",
        "CAST(max_count AS DOUBLE) / CAST(n_rows AS DOUBLE) AS max_share",
        "top1pct_rows",
        "CAST(top1pct_rows AS DOUBLE) / CAST(n_rows AS DOUBLE) AS top1pct_share",
        // CV = √(n_keys·Σc² − (Σc)²) / Σc  (population, exact operands)
        """CASE WHEN n_keys <= 1 THEN CAST(NULL AS DOUBLE)
                ELSE sqrt(CAST(n_keys AS DECIMAL(38,0)) * sum_c2
                          - CAST(n_rows AS DECIMAL(38,0)) * n_rows + 0e0)
                     / CAST(n_rows AS DOUBLE)
           END AS cv""")
      .orderBy("tbl", "key")
  }

  /** q167's reshard geometry: shard counts before/after the expansion,
    * virtual nodes per shard, the 48-bit ring space, and the bucket
    * width for the scalable successor lookup. Shared by both engines
    * and the spec. */
  val ReshardFrom = 16
  val ReshardTo = 20
  val RingVnodes = 64
  val RingSpace = PipelineOps.TwoPow48
  val RingBucketBits = 40 // 2^48 space / 2^40 width = 256 buckets
  val RingBucketWidth = 1L << RingBucketBits

  /** q167 — CONSISTENT-HASHING RESHARD AUDIT: when a 16-shard layout
    * grows to 20, how many keys MOVE? Under mod-hashing (`h % K`) almost
    * everything does (exactly the keys with h%16 ≠ h%20 — 4/5 of the
    * space); under a consistent-hash ring (md5-positioned virtual nodes,
    * Karger 1997 / the memcached ring) only the keys whose arc a NEW
    * shard's vnode captured — about K'−K/K' = 1/5. Both counts are
    * computed EXACTLY over the real key population and graded, with the
    * per-scheme hottest-shard share as the balance evidence (vnodes are
    * what keep ring arcs even). This is the operational artifact that
    * prices a reshard at 100 TB: 80% of the corpus re-spilled vs 20%.
    *
    * Ring-successor lookup, the scale-relevant part: the ring is ≤
    * shards×vnodes rows, but a naive per-key successor probe fans every
    * key out against the whole ring. Instead the ring is bucketed into
    * 2^48/2^40 = 256 arcs (the q126 interval-bucket trick): per bucket,
    * the candidates are its own nodes plus the FIRST node after the
    * bucket (or the global minimum as the wrap candidate), so each key
    * equi-joins ~ring/256 + 1 broadcast candidates and picks min by the
    * wrapped order (pos < h continues at pos + 2^48). Because the grown
    * ring contains the old ring's nodes unchanged, a key moved under CH
    * ⟺ its successor in the NEW ring belongs to an added shard — one
    * lookup decides the audit, no second ring pass. */
  /** The per-key owner lookup (the scale-relevant stage), exposed
    * pre-checkpoint so `PlanShapeSpec` can pin its broadcast shape. */
  private[graft] def ringOwners(events: DataFrame): DataFrame = {
    val spark = events.sparkSession
    val ring = spark.range(ReshardTo.toLong).selectExpr("CAST(id AS INT) AS shard")
      .crossJoin(spark.range(RingVnodes.toLong).selectExpr("CAST(id AS INT) AS v"))
      .select(col("shard"),
        PipelineOps.md5Prefix48(
          concat(lit("ring:"), col("shard"), lit(":"), col("v"))).as("pos"))
      .localCheckpoint() // bounded shards × vnodes
    val buckets = spark.range(1L << (48 - RingBucketBits))
      .selectExpr("CAST(id AS BIGINT) AS bucket")
    val inBucket = ring.selectExpr(s"pos DIV $RingBucketWidth AS bucket", "pos", "shard")
    val afterCand = buckets.crossJoin(ring) // bounded 256 × ring
      .filter(col("pos") >= (col("bucket") + 1) * lit(RingBucketWidth))
      .groupBy("bucket").agg(min(struct(col("pos"), col("shard"))).as("m"))
      .selectExpr("bucket", "m.pos AS pos", "m.shard AS shard")
    val globalMin = ring.agg(min(struct(col("pos"), col("shard"))).as("g"))
      .selectExpr("g.pos AS gpos", "g.shard AS gshard")
    val wrapped = buckets.join(afterCand, Seq("bucket"), "left")
      .crossJoin(broadcast(globalMin))
      .selectExpr("bucket", "coalesce(pos, gpos) AS pos",
        "coalesce(shard, gshard) AS shard")
    val candidates = inBucket.unionByName(wrapped)
      .localCheckpoint() // ≤ ring + buckets rows, broadcast to the keys
    val keys = events.selectExpr("CAST(user_id AS STRING) AS uk").distinct()
      .select(col("uk"), PipelineOps.md5Prefix48(col("uk")).as("h"))
    keys
      .selectExpr("uk", "h", s"h DIV $RingBucketWidth AS bucket")
      .join(broadcast(candidates), Seq("bucket"))
      .selectExpr("uk", "h", "shard",
        s"CASE WHEN pos >= h THEN pos ELSE pos + $RingSpace END AS eff")
      .groupBy("uk", "h")
      .agg(min(struct(col("eff"), col("shard"))).as("o"))
      .selectExpr("uk", "h", "o.shard AS ch_shard",
        s"h % $ReshardFrom AS mod_from", s"h % $ReshardTo AS mod_to")
  }

  def reshardAudit(events: DataFrame): DataFrame = {
    // r16: the census and the two balance maxima ran as three subtrees
    // over a checkpointed per-key table (each its own pass + broadcast
    // join). ONE grouping-sets pass now collapses the keys to per-shard
    // rows under both shard keys at once (gid 1 = by mod_to, 2 = by
    // ch_shard — aggregate inputs see the original un-masked columns),
    // and a single bounded aggregate reads the census off the mod side
    // and the maxima off each side. The per-key table feeds one subtree,
    // so its checkpoint barrier goes too.
    val perShard = ringOwners(events)
      .groupingSets(Seq(Seq(col("mod_to")), Seq(col("ch_shard"))),
        col("mod_to"), col("ch_shard"))
      .agg(count(lit(1)).as("c"),
        count(when(col("mod_from") =!= col("mod_to"), 1)).as("m_moved"),
        count(when(col("ch_shard") >= lit(ReshardFrom), 1)).as("c_moved"),
        grouping_id().as("gid"))
    perShard.agg(
        sum(when(col("gid") === 1, col("c"))).as("n_keys"),
        sum(when(col("gid") === 1, col("m_moved"))).as("mod_moved"),
        sum(when(col("gid") === 1, col("c_moved"))).as("ch_moved"),
        max(when(col("gid") === 1, col("c"))).as("mod_max"),
        max(when(col("gid") === 2, col("c"))).as("ch_max"))
      .selectExpr("n_keys", "mod_moved", "ch_moved",
        "CAST(mod_moved AS DOUBLE) / CAST(n_keys AS DOUBLE) AS mod_moved_frac",
        "CAST(ch_moved AS DOUBLE) / CAST(n_keys AS DOUBLE) AS ch_moved_frac",
        "ch_moved < mod_moved AS ch_beats_mod",
        "CAST(mod_max AS DOUBLE) / CAST(n_keys AS DOUBLE) AS mod_max_share",
        "CAST(ch_max AS DOUBLE) / CAST(n_keys AS DOUBLE) AS ch_max_share")
  }

  /** q160's value-predicate window, in exact integer cents (inclusive
    * bounds). Shared by both engines and the spec. */
  val ZoneCentsLo = 10000L
  val ZoneCentsHi = 15000L

  /** q160 — ZONE-MAP / DATA-SKIPPING AUDIT: per day-shard, the min/max
    * statistics a columnar layout keeps per file (parquet row-group /
    * Iceberg-Delta file stats), and — for two fixed predicates — whether
    * those stats alone allow SKIPPING the shard, each decision verified
    * against the shard's actual matching rows. This is the artifact that
    * decides storage layout at 100 TB: the ts-range predicate (the q155
    * window) prunes 'every shard but the range' because the shard key IS
    * time, while the cents predicate prunes (almost) nothing because
    * value is uniform within every day — layout, not the sketch, decides
    * which scans read 14 days instead of the whole corpus. The soundness
    * law of min/max pruning (skip ⇒ zero matches; false positives
    * allowed, false negatives never) is part of the graded artifact:
    * `skip_sound_*` flipping fails the hash.
    *
    * Scale shape: ONE map-combinable aggregate per shard builds the zone
    * map, the match counts ride the same aggregate as conditional
    * counts, and the skip decisions are row-local expressions over the
    * bounded per-shard stats table. The anchor is a one-row broadcast
    * MIN. A shard with only NULL values carries NULL cents bounds —
    * skippable for any value predicate (NULL never matches a range),
    * handled explicitly on both engines. */
  /** The pure per-day zone-map store — every column MIN/MAX/SUM-mergeable
    * across arbitrary row subsets, which is exactly what lets
    * [[graft.streaming.StreamZoneMap]] maintain it per micro-batch. ONE
    * definition shared by the batch audit and the streaming maintainer. */
  private[graft] def zoneStats(events: DataFrame): DataFrame =
    events.selectExpr(
        s"unix_micros(ts) DIV ${RelationalOps.DayUs} AS day",
        "unix_micros(ts) AS ts_us",
        "CASE WHEN value IS NULL THEN CAST(NULL AS BIGINT) " +
          "ELSE CAST(round(value * 100) AS BIGINT) END AS cents")
      .groupBy("day")
      .agg(count(lit(1)).as("n_rows"),
        min("ts_us").as("ts_us_min"), max("ts_us").as("ts_us_max"),
        min("cents").as("cents_min"), max("cents").as("cents_max"),
        count(when(col("cents") >= lit(ZoneCentsLo) &&
          col("cents") <= lit(ZoneCentsHi), 1)).as("n_match_cents"))

  /** The audit stage over a (merged) stats table. The ts-predicate
    * window covers WHOLE days and the shard key IS the day, so the
    * per-shard match count is derivable from the stats alone
    * (n_rows inside the window, 0 outside) — no raw-row access, which
    * is what makes the streamed store's audit bit-equal to the batch
    * query's by construction. */
  private[graft] def zoneAuditFromStats(stats: DataFrame): DataFrame = {
    val dayUs = RelationalOps.DayUs
    val (off, len) = (SketchOps.HllRangeStartOff, SketchOps.HllRangeLen)
    val anchor = stats.agg(min("day").as("d0"))
    stats.crossJoin(broadcast(anchor))
      .selectExpr("day", "n_rows", "ts_us_min", "ts_us_max",
        "cents_min", "cents_max", "n_match_cents",
        s"(d0 + $off) * $dayUs AS ts_lo_us",
        s"(d0 + ${off + len}) * $dayUs AS ts_hi_us_excl")
      .selectExpr("day", "n_rows", "ts_us_min", "ts_us_max",
        "cents_min", "cents_max",
        "ts_us_max < ts_lo_us OR ts_us_min >= ts_hi_us_excl AS skip_ts",
        s"""CASE WHEN day >= ts_lo_us DIV $dayUs AND day < ts_hi_us_excl DIV $dayUs
                 THEN n_rows ELSE CAST(0 AS BIGINT) END AS n_match_ts""",
        s"cents_max IS NULL OR cents_max < $ZoneCentsLo " +
          s"OR cents_min > $ZoneCentsHi AS skip_cents",
        "n_match_cents")
      .selectExpr("day", "n_rows", "ts_us_min", "ts_us_max",
        "cents_min", "cents_max",
        "skip_ts", "n_match_ts",
        "NOT skip_ts OR n_match_ts = 0 AS skip_sound_ts",
        "skip_cents", "n_match_cents",
        "NOT skip_cents OR n_match_cents = 0 AS skip_sound_cents")
      .orderBy("day")
  }

  def zoneMapAudit(events: DataFrame): DataFrame =
    zoneAuditFromStats(zoneStats(events))

  /** q175's Z-ORDER geometry: 5 bits of day index × 5 bits of cents bin
    * interleaved into a 10-bit Morton code, dealt into
    * [[ZOrderShards]] shards of contiguous z-ranges. Null cents take
    * the all-ones bin so they cluster instead of poisoning a shard's
    * bounds. */
  val ZOrderBits = 5
  val ZOrderShards = 32
  val ZOrderNullBin = (1 << ZOrderBits) - 1

  /** The Morton interleave as ONE shared expression recipe — bit i of
    * `a` lands at 2i+1, bit i of `b` at 2i — rendered per engine only
    * through the shift-left spelling. */
  private def mortonExpr(a: String, b: String, shl: (String, Int) => String): String =
    (0 until ZOrderBits).flatMap { i =>
      Seq(shl(s"(($a >> $i) & 1)", 2 * i + 1), shl(s"(($b >> $i) & 1)", 2 * i))
    }.mkString("(", " + ", ")")
  private[graft] def mortonSpark(a: String, b: String): String =
    mortonExpr(a, b, (x, n) => s"shiftleft($x, $n)")
  private[graft] def mortonDuck(a: String, b: String): String =
    mortonExpr(a, b, (x, n) => s"($x << $n)")

  /** q175 — Z-ORDER LAYOUT AUDIT: the q160 experiment re-run under a
    * multi-dimensional layout — rows dealt to shards by the Morton
    * interleave of (day index, cents bin) instead of by day — with the
    * SAME two predicates and the same min/max skip rules. The graded
    * lesson is the one Z-ORDER exists for: under time layout (q160) only
    * the time predicate could prune; under z-order BOTH predicates get
    * skippable shards, because contiguous z-ranges are rectangles-ish in
    * (time, value) space — each dimension's bits constrain the shard's
    * bounds. Pruning soundness (skip ⇒ zero matches) is graded per shard
    * per predicate, as in q160.
    *
    * Scale shape: the z-code is pure row-local integer bit math (the
    * expression both engines share, modulo the shift spelling); the
    * audit is ONE map-combinable aggregate per shard with the match
    * counts riding as conditional counts; the day anchor is a one-row
    * broadcast MIN. At a real lake this z-code is exactly the clustering
    * key the writer sorts by (Delta Z-ORDER / Hudi space-filling
    * curves); the audit is the evidence that justifies re-clustering. */
  def zOrderAudit(events: DataFrame): DataFrame = {
    val dayUs = RelationalOps.DayUs
    val (off, len) = (SketchOps.HllRangeStartOff, SketchOps.HllRangeLen)
    val w = SketchOps.HistBinCents
    val base = events.selectExpr(
      s"unix_micros(ts) DIV $dayUs AS day",
      "unix_micros(ts) AS ts_us",
      "CASE WHEN value IS NULL THEN CAST(NULL AS BIGINT) " +
        "ELSE CAST(round(value * 100) AS BIGINT) END AS cents")
    val anchor = base.agg(min("day").as("d0"))
    val zPerShard = (1 << (2 * ZOrderBits)) / ZOrderShards
    base.crossJoin(broadcast(anchor))
      .selectExpr("day", "ts_us", "cents",
        "CAST(day - d0 AS INT) AS di",
        // Negative-safe floor bin (the q156/q160/q169 remainder-
        // subtraction spelling): truncating DIV and flooring // agree
        // once the numerator is an exact multiple of the width, so the
        // bin — and the Morton code it feeds — is engine-agnostic for
        // ALL inputs, not just non-negative cents.
        s"CAST(coalesce((cents - (((cents % $w) + $w) % $w)) DIV $w, " +
          s"$ZOrderNullBin) AS INT) AS bi",
        s"(d0 + $off) * $dayUs AS ts_lo_us",
        s"(d0 + ${off + len}) * $dayUs AS ts_hi_us_excl")
      .selectExpr("ts_us", "cents", "ts_lo_us", "ts_hi_us_excl",
        s"${mortonSpark("di", "bi")} DIV $zPerShard AS shard")
      .groupBy("shard")
      .agg(count(lit(1)).as("n_rows"),
        min("ts_us").as("ts_us_min"), max("ts_us").as("ts_us_max"),
        min("cents").as("cents_min"), max("cents").as("cents_max"),
        max("ts_lo_us").as("ts_lo_us"), max("ts_hi_us_excl").as("ts_hi_us_excl"),
        count(when(col("ts_us") >= col("ts_lo_us") &&
          col("ts_us") < col("ts_hi_us_excl"), 1)).as("n_match_ts"),
        count(when(col("cents") >= lit(ZoneCentsLo) &&
          col("cents") <= lit(ZoneCentsHi), 1)).as("n_match_cents"))
      .selectExpr("shard", "n_rows", "ts_us_min", "ts_us_max",
        "cents_min", "cents_max",
        "ts_us_max < ts_lo_us OR ts_us_min >= ts_hi_us_excl AS skip_ts",
        "n_match_ts",
        s"cents_max IS NULL OR cents_max < $ZoneCentsLo " +
          s"OR cents_min > $ZoneCentsHi AS skip_cents",
        "n_match_cents")
      .selectExpr("shard", "n_rows", "ts_us_min", "ts_us_max",
        "cents_min", "cents_max",
        "skip_ts", "n_match_ts",
        "NOT skip_ts OR n_match_ts = 0 AS skip_sound_ts",
        "skip_cents", "n_match_cents",
        "NOT skip_cents OR n_match_cents = 0 AS skip_sound_cents")
      .orderBy("shard")
  }

  /** q204's per-level Hilbert transform, ONE set of SQL expression
    * strings shared verbatim by the Spark projections and the DuckDB
    * CTEs (operators limited to the common dialect: `&`, CASE, integer
    * arithmetic). Level `s` reads (hx, hy, h) and the classic xy2d
    * step applies: quadrant digit `(3·rx) XOR ry` spelled as the
    * 4-case table (engine-agnostic — no XOR operator needed), then the
    * flip-and-swap rotation when ry = 0. */
  private[graft] def hilbertLevelExprs(s: Int): (Seq[String], Seq[String]) = (
    Seq(s"CASE WHEN (hx & $s) > 0 THEN 1 ELSE 0 END AS rx",
      s"CASE WHEN (hy & $s) > 0 THEN 1 ELSE 0 END AS ry"),
    Seq(("h + " + (s.toLong * s) + " * (CASE WHEN rx = 0 AND ry = 0 THEN 0 " +
      "WHEN rx = 0 AND ry = 1 THEN 1 WHEN rx = 1 AND ry = 1 THEN 2 " +
      "ELSE 3 END) AS h"),
      s"CASE WHEN ry = 0 THEN (CASE WHEN rx = 1 THEN $s - 1 - hy ELSE hy END) ELSE hx END AS hx",
      s"CASE WHEN ry = 0 THEN (CASE WHEN rx = 1 THEN $s - 1 - hx ELSE hx END) ELSE hy END AS hy"))

  /** Applies the [[ZOrderBits]]-level Hilbert fold to a frame carrying
    * integer columns hx, hy (grid coordinates) and h = 0, threading the
    * named carry columns through every stage. */
  private[graft] def hilbertIndex(df: DataFrame, carry: Seq[String]): DataFrame = {
    var cur = df
    (0 until ZOrderBits).reverse.foreach { lvl =>
      val (st1, st2) = hilbertLevelExprs(1 << lvl)
      cur = cur.selectExpr(carry ++ Seq("hx", "hy", "h") ++ st1: _*)
      cur = cur.selectExpr(carry ++ st2: _*)
    }
    cur
  }

  /** q204 — HILBERT-CURVE LAYOUT AUDIT: the third point on the
    * clustering spectrum the repo grades — q160 (time layout: one
    * dimension prunes), q175 (Morton: both prune, but the Z-curve takes
    * grid-diagonal JUMPS, so a contiguous shard's bounding box can
    * stretch across the grid), and now Hilbert, whose defining property
    * is UNIT-STEP locality: consecutive curve positions are always
    * grid-adjacent (spec-proven over the whole 32×32 grid — bijection
    * and |Δ| = 1 per step), so equal-size curve ranges tile the grid in
    * tighter boxes and the min/max zone maps close in. Same grid, same
    * shard count, same two predicates, same soundness laws as q175 —
    * the artifacts differ ONLY in the curve, which is exactly what a
    * layout bake-off should isolate.
    *
    * Scale shape: identical to q175 — the curve index is row-local
    * integer arithmetic (10 narrow projections, whole-stage codegen'd),
    * one map-combinable shard aggregation, zone maps from the same
    * min/max algebra. */
  def hilbertAudit(events: DataFrame): DataFrame = {
    val dayUs = RelationalOps.DayUs
    val (off, len) = (SketchOps.HllRangeStartOff, SketchOps.HllRangeLen)
    val w = SketchOps.HistBinCents
    val base = events.selectExpr(
      s"unix_micros(ts) DIV $dayUs AS day",
      "unix_micros(ts) AS ts_us",
      "CASE WHEN value IS NULL THEN CAST(NULL AS BIGINT) " +
        "ELSE CAST(round(value * 100) AS BIGINT) END AS cents")
    val anchor = base.agg(min("day").as("d0"))
    val zPerShard = (1 << (2 * ZOrderBits)) / ZOrderShards
    val carry = Seq("ts_us", "cents", "ts_lo_us", "ts_hi_us_excl")
    val coded = hilbertIndex(
      base.crossJoin(broadcast(anchor))
        .selectExpr("ts_us", "cents",
          "CAST(day - d0 AS INT) AS hx",
          s"CAST(coalesce((cents - (((cents % $w) + $w) % $w)) DIV $w, " +
            s"$ZOrderNullBin) AS INT) AS hy",
          "CAST(0 AS BIGINT) AS h",
          s"(d0 + $off) * $dayUs AS ts_lo_us",
          s"(d0 + ${off + len}) * $dayUs AS ts_hi_us_excl"),
      carry)
    coded
      .selectExpr("ts_us", "cents", "ts_lo_us", "ts_hi_us_excl",
        s"h DIV $zPerShard AS shard")
      .groupBy("shard")
      .agg(count(lit(1)).as("n_rows"),
        min("ts_us").as("ts_us_min"), max("ts_us").as("ts_us_max"),
        min("cents").as("cents_min"), max("cents").as("cents_max"),
        max("ts_lo_us").as("ts_lo_us"), max("ts_hi_us_excl").as("ts_hi_us_excl"),
        count(when(col("ts_us") >= col("ts_lo_us") &&
          col("ts_us") < col("ts_hi_us_excl"), 1)).as("n_match_ts"),
        count(when(col("cents") >= lit(ZoneCentsLo) &&
          col("cents") <= lit(ZoneCentsHi), 1)).as("n_match_cents"))
      .selectExpr("shard", "n_rows", "ts_us_min", "ts_us_max",
        "cents_min", "cents_max",
        "ts_us_max < ts_lo_us OR ts_us_min >= ts_hi_us_excl AS skip_ts",
        "n_match_ts",
        s"cents_max IS NULL OR cents_max < $ZoneCentsLo " +
          s"OR cents_min > $ZoneCentsHi AS skip_cents",
        "n_match_cents")
      .selectExpr("shard", "n_rows", "ts_us_min", "ts_us_max",
        "cents_min", "cents_max",
        "skip_ts", "n_match_ts",
        "NOT skip_ts OR n_match_ts = 0 AS skip_sound_ts",
        "skip_cents", "n_match_cents",
        "NOT skip_cents OR n_match_cents = 0 AS skip_sound_cents")
      .orderBy("shard")
  }

  /** The q204 oracle's Hilbert CTE chain: the SAME per-level expression
    * strings as [[hilbertIndex]], rendered as two CTEs per level. */
  private[graft] def hilbertDuckCtes(src: String, carry: Seq[String]): (String, String) = {
    val stages = (0 until ZOrderBits).reverse.zipWithIndex.flatMap {
      case (lvl, i) =>
        val (st1, st2) = hilbertLevelExprs(1 << lvl)
        val prev = if (i == 0) src else s"l${i - 1}b"
        Seq(
          s"l${i}a AS (SELECT ${(carry ++ Seq("hx", "hy", "h") ++ st1).mkString(", ")} FROM $prev)",
          s"l${i}b AS (SELECT ${(carry ++ st2).mkString(", ")} FROM l${i}a)")
    }
    (stages.mkString(",\n              "), s"l${ZOrderBits - 1}b")
  }

  /** q179's bin-count dial: the target bin size is ⌈total/[[CompactionBins]]⌉
    * exact integer bytes, so the plan scales with the corpus and the
    * roll never produces more than [[CompactionBins]] bins. */
  val CompactionBins = 8L

  /** q185 — POST-COMPACTION ZONE-MAP AUDIT: the claim q179 makes —
    * "roll compaction preserves the time clustering q160 depends on" —
    * promoted from a Scaladoc sentence to a graded experiment. Rows are
    * dealt to their day's compaction bin (the shared q179 roll) and the
    * q160 data-skipping protocol re-runs at BIN granularity: per bin the
    * ts min/max zone map, the same two-week window predicate, the
    * min/max skip rule, and per-bin skip SOUNDNESS. The structural
    * reason pruning survives is graded too: `disjoint_ok` — each bin's
    * day range starts strictly after every earlier bin's ends (the roll
    * is contiguous in day order, so bins partition time; a best-fit
    * repack would interleave days and drag every bin's zone over the
    * window). Checked via the q108 bounded prefix self-join, never a
    * window.
    *
    * Scale shape: the day→bin map is bounded metadata broadcast onto one
    * map-combinable corpus collapse; everything after reads the
    * bounded per-bin table. */
  def compactionZoneAudit(events: DataFrame): DataFrame = {
    val dayUs = RelationalOps.DayUs
    val (off, len) = (SketchOps.HllRangeStartOff, SketchOps.HllRangeLen)
    val bins = compactionBinned(events).select("day", "bin")
      .localCheckpoint() // bounded day→bin map
    val anchor = bins.agg(min("day").as("d0"))
    val perBin = events.selectExpr(
        s"unix_micros(ts) DIV $dayUs AS day", "unix_micros(ts) AS ts_us")
      .join(broadcast(bins), Seq("day"))
      .crossJoin(broadcast(anchor))
      .selectExpr("bin", "day", "ts_us",
        s"(d0 + $off) * $dayUs AS ts_lo_us",
        s"(d0 + ${off + len}) * $dayUs AS ts_hi_us_excl")
      .groupBy("bin")
      .agg(count(lit(1)).as("n_rows"),
        min("day").as("first_day"), max("day").as("last_day"),
        min("ts_us").as("ts_us_min"), max("ts_us").as("ts_us_max"),
        max("ts_lo_us").as("ts_lo_us"), max("ts_hi_us_excl").as("ts_hi_us_excl"),
        count(when(col("ts_us") >= col("ts_lo_us") &&
          col("ts_us") < col("ts_hi_us_excl"), 1)).as("n_match_ts"))
      .localCheckpoint() // bounded; read twice for the disjointness prefix
    perBin.as("a")
      .join(perBin.selectExpr("bin", "last_day").as("p"),
        col("p.bin") < col("a.bin"), "left")
      .groupBy(col("a.bin").as("bin"))
      .agg(max(col("a.n_rows")).as("n_rows"),
        max(col("a.first_day")).as("first_day"), max(col("a.last_day")).as("last_day"),
        max(col("a.ts_us_min")).as("ts_us_min"), max(col("a.ts_us_max")).as("ts_us_max"),
        max(col("a.ts_lo_us")).as("ts_lo_us"),
        max(col("a.ts_hi_us_excl")).as("ts_hi_us_excl"),
        max(col("a.n_match_ts")).as("n_match_ts"),
        max(col("p.last_day")).as("prev_last_day"))
      .selectExpr("bin", "n_rows", "first_day", "last_day",
        "ts_us_min", "ts_us_max",
        "coalesce(prev_last_day < first_day, true) AS disjoint_ok",
        "ts_us_max < ts_lo_us OR ts_us_min >= ts_hi_us_excl AS skip_ts",
        "n_match_ts",
        """NOT (ts_us_max < ts_lo_us OR ts_us_min >= ts_hi_us_excl)
           OR n_match_ts = 0 AS skip_sound_ts""")
      .orderBy("bin")
  }

  /** q182 — DELETE PROPAGATION / WRITE-AMPLIFICATION PLAN: what a GDPR
    * erasure actually costs a lake. Tombstoned keys (users whose q173
    * LWW-final op is DELETE — the same collapse, reused) must vanish
    * from the day-files the q179 model writes, and the planner prices
    * both executions per file: full REWRITE (copy every surviving byte)
    * vs a DELETION VECTOR (Delta DV / Iceberg position-delete: a small
    * sidecar marking dead positions, 16 + 4·n_del bytes here), choosing
    * the cheaper — the modern lakehouse trade, decided by the delete
    * density of each file.
    *
    * The graded lesson is the amplification fact erasure planning exists
    * for: a ~2% tombstone population touches EVERY file (sequential
    * ingest scatters each user across all days), so rewrite-only pays
    * ~50× the deleted rows in copies (`amp_milli`), while the DV-aware
    * plan pays 4 bytes a position. Per file: row/delete/rewrite counts,
    * both byte ledgers, the choice at the exact minimum (ties prefer the
    * sidecar — rewriting equal bytes buys nothing and costs a commit);
    * the sentinel row totals the ledgers and the global amplification.
    *
    * Scale shape: the tombstone set is a bounded broadcast (keys whose
    * final op is delete); the corpus is touched by ONE map-combinable
    * pass (broadcast-join flag + per-day collapse); every ledger reads
    * the bounded per-file table. */
  def deleteAmplification(events: DataFrame): DataFrame = {
    val dayUs = RelationalOps.DayUs
    val tombstones = RelationalOps.cdcCollapse(RelationalOps.cdcChanges(events))
      .where("w.op = 'delete'")
      .select(col("key"), lit(true).as("del"))
    val perFile = events.selectExpr(
        s"unix_micros(ts) DIV $dayUs AS day",
        "user_id AS key",
        "32 + length(CAST(user_id AS STRING)) + length(event_type) AS b")
      .join(broadcast(tombstones), Seq("key"), "left")
      .groupBy("day")
      .agg(count(lit(1)).as("n_rows"), sum("b").as("bytes"),
        count(when(col("del"), 1)).as("n_del"),
        sum(when(col("del"), col("b")).otherwise(lit(0L))).as("del_bytes"))
      .localCheckpoint() // bounded: one row per day-file
    val ledger = perFile.selectExpr("day", "n_rows", "n_del",
      "IF(n_del = 0, CAST(0 AS BIGINT), n_rows - n_del) AS n_rewrite",
      """CASE WHEN n_del = 0 THEN CAST(0 AS BIGINT)
              ELSE CAST(1000 AS BIGINT) * (n_rows - n_del) DIV n_del END AS amp_milli""",
      "IF(n_del = 0, CAST(0 AS BIGINT), bytes - del_bytes) AS rewrite_bytes",
      "IF(n_del = 0, CAST(0 AS BIGINT), 16 + 4 * n_del) AS dv_bytes",
      """CASE WHEN n_del = 0 THEN 'none'
              WHEN bytes - del_bytes < 16 + 4 * n_del THEN 'rewrite'
              ELSE 'dv' END AS kind""",
      """IF(n_del = 0, CAST(0 AS BIGINT),
            least(bytes - del_bytes, 16 + 4 * n_del)) AS chosen_bytes""")
    val summary = ledger.agg(sum("n_rows").as("n_rows"), sum("n_del").as("n_del"),
        sum("n_rewrite").as("n_rewrite"), sum("rewrite_bytes").as("rewrite_bytes"),
        sum("dv_bytes").as("dv_bytes"), sum("chosen_bytes").as("chosen_bytes"))
      .selectExpr("CAST(-1 AS BIGINT) AS day", "n_rows", "n_del", "n_rewrite",
        """CASE WHEN n_del = 0 THEN CAST(0 AS BIGINT)
                ELSE CAST(1000 AS BIGINT) * n_rewrite DIV n_del END AS amp_milli""",
        "rewrite_bytes", "dv_bytes", "'total' AS kind", "chosen_bytes")
    ledger.unionByName(summary).orderBy("day")
  }

  /** q179 — FILE COMPACTION PLAN (the lakehouse OPTIMIZE step): the
    * small-files problem, planned. Ingest leaves one file per day whose
    * sizes swing with traffic; the planner rolls the day-ordered file
    * list into contiguous target-size bins — `bin = exclusive-prefix
    * bytes DIV target` — the deterministic roll compaction Delta/Iceberg
    * OPTIMIZE performs (contiguous input ranges preserve the time
    * clustering q160 depends on; a best-fit repack would shred it).
    *
    * Graded per bin: file count, day span, exact bytes, and the two plan
    * laws — `cap_ok` (a bin exceeds the target only by the straddling
    * file: bytes < target + max_file_bytes) and `contig_ok` (the bin is
    * an unbroken run of the day sequence). The sentinel row (bin = -1)
    * carries the global laws: byte conservation (the bins partition the
    * corpus exactly) and the bin-count bound n_bins = ⌈total/target⌉.
    *
    * Scale shape: the file manifest is METADATA (one row per day-file —
    * thousands at 100 TB), so the prefix sum runs as the q108 bounded
    * self-join, never a corpus window; the corpus itself is touched by
    * exactly one map-combinable per-day collapse. Byte sizes are an
    * exact integer proxy (fixed overhead + string lengths) so both
    * engines compute identical plans. */
  /** q179's day→bin assignment (plus the plan dials carried along) —
    * the shared roll arithmetic, also consumed by q185's post-compaction
    * zone audit. Bounded metadata end to end. */
  /** The per-day byte manifest (exact integer proxy) — q179's one
    * corpus-scale collapse, shared with [[graft.streaming.StreamCompaction]]. */
  private[graft] def compactionFiles(events: DataFrame): DataFrame = {
    val dayUs = RelationalOps.DayUs
    events.selectExpr(
        s"unix_micros(ts) DIV $dayUs AS day",
        "32 + length(CAST(user_id AS STRING)) + length(event_type) AS row_bytes")
      .groupBy("day").agg(sum("row_bytes").as("bytes"))
  }

  private[graft] def compactionBinned(events: DataFrame): DataFrame =
    compactionBinnedFromFiles(compactionFiles(events))

  private[graft] def compactionBinnedFromFiles(filesIn: DataFrame): DataFrame = {
    val files = filesIn
      .localCheckpoint() // bounded metadata: one row per day-file
    val totals = files.agg(sum("bytes").as("total"), max("bytes").as("max_file"),
        count(lit(1)).as("n_files_all"))
      .selectExpr("total", "max_file", "n_files_all",
        s"(total + ${CompactionBins - 1}) DIV $CompactionBins AS target")
    // exclusive prefix bytes + day sequence via the bounded self-join —
    // broadcast-HINTED: the non-equi condition means an unhinted plan
    // degrades to a cartesian whenever auto-broadcast is off (PlanLintSpec
    // caught exactly that); the build side is the <=days-row checkpointed
    // file census, so the hint is always safe
    val pre = files.as("a").join(broadcast(files.as("b")), col("b.day") <= col("a.day"))
      .groupBy(col("a.day").as("day"))
      .agg(max(col("a.bytes")).as("bytes"),
        (sum(col("b.bytes")) - max(col("a.bytes"))).as("cum_excl"),
        count(lit(1)).as("seq"))
    pre.crossJoin(broadcast(totals))
      .selectExpr("day", "bytes", "seq", "cum_excl DIV target AS bin",
        "target", "max_file", "total", "n_files_all")
  }

  def compactionPlan(events: DataFrame): DataFrame =
    compactionPlanFromFiles(compactionFiles(events))

  /** The roll + laws over an explicit manifest — shared verbatim by
    * batch q179 and the streamed plan so the two are bit-equal by
    * construction. */
  private[graft] def compactionPlanFromFiles(files: DataFrame): DataFrame = {
    val binned = compactionBinnedFromFiles(files)
    val perBin = binned.groupBy("bin")
      .agg(count(lit(1)).as("n_files"),
        min("day").as("first_day"), max("day").as("last_day"),
        min("seq").as("seq_lo"), max("seq").as("seq_hi"),
        sum("bytes").as("bin_bytes"),
        max("target").as("target"), max("max_file").as("max_file"))
      .selectExpr("bin", "n_files", "first_day", "last_day", "bin_bytes",
        "bin_bytes < target + max_file AS cap_ok",
        "seq_hi - seq_lo + 1 = n_files AS contig_ok")
    val totals = binned
      .selectExpr("total", "max_file", "n_files_all", "target").limit(1)
    val summary = perBin.agg(sum("n_files").as("nf"), sum("bin_bytes").as("bb"),
        count(lit(1)).as("n_bins"))
      .crossJoin(broadcast(totals))
      .selectExpr("CAST(-1 AS BIGINT) AS bin", "nf AS n_files",
        "CAST(NULL AS BIGINT) AS first_day", "CAST(NULL AS BIGINT) AS last_day",
        "bb AS bin_bytes",
        "bb = total AND nf = n_files_all AS cap_ok", // conservation
        // exact bin count unless a jumbo file (> target) straddles and
        // skips indices — then the count can only shrink
        """n_bins <= (total + target - 1) DIV target
           AND (max_file > target OR n_bins = (total + target - 1) DIV target)
           AS contig_ok""")
    perBin.unionByName(summary).orderBy("bin")
  }

  /** q216's dials: the user-bucket width for the hashed candidate and the
    * probe-day offset of the time predicate. */
  val PartUserBuckets = 64L
  val PartProbeDayOff = 3L

  /** q216 — PARTITION KEY ADVISOR: the layout DESIGN question the rest of
    * the layout suite takes as given (q160 zone maps, q175/q204 curves,
    * q179 compaction): which partition column should the writer key on?
    * Three candidates (day, user hash-bucket, event_type) are scored
    * against a 3-predicate probe workload (one day / one user / one
    * type) on the two facts that decide real layouts:
    *   - balance: partition count, max-partition share (micro skew vs
    *     the perfectly-balanced 10⁶), starved-partition count (< 10% of
    *     fair share) — the small-files pathology;
    *   - pruning: rows a partition-pruned scan must still read per
    *     predicate (a partition is read iff it contains ≥ 1 match),
    *     with the soundness law `scan ≥ match` graded per cell.
    * The graded lesson: day prunes time but not users (every user
    * touches every day), the hash bucket prunes users but not time, the
    * type key prunes only its own predicate and skews with the type
    * distribution — partition keys are workload decisions, measurable.
    *
    * Scale shape: ONE corpus pass — the 3 candidate keyings fan out
    * row-locally via `stack` (the q188 Expand discipline) into one
    * map-combinable (candidate, key) collapse whose size is bounded by
    * the key domains, never the row count; every later step (skew
    * census, per-predicate scan sums, the match dial) runs on that
    * bounded table or broadcasts one row. */
  def partitionKeyAdvisor(events: DataFrame): DataFrame = {
    val dayUs = RelationalOps.DayUs
    val dials = events.agg(
      min(expr(s"unix_micros(ts) DIV $dayUs")).as("d0"),
      min("user_id").as("u0"), min("event_type").as("t0"))
    val base = events.crossJoin(broadcast(dials)).selectExpr(
      s"CAST(unix_micros(ts) DIV $dayUs AS STRING) AS k_day",
      s"CAST(COALESCE(pmod(user_id, $PartUserBuckets), -1) AS STRING) AS k_user_bucket",
      "COALESCE(event_type, '<null>') AS k_event_type",
      s"unix_micros(ts) DIV $dayUs = d0 + $PartProbeDayOff AS m_day",
      "COALESCE(user_id = u0, false) AS m_user",
      "COALESCE(event_type = t0, false) AS m_type")
    val sizes = base.selectExpr(
        """stack(3, 'day', k_day, 'user_bucket', k_user_bucket,
                 'event_type', k_event_type) AS (cand, k)""",
        "m_day", "m_user", "m_type")
      .groupBy("cand", "k")
      .agg(count(lit(1)).as("n"),
        max(when(col("m_day"), 1L).otherwise(0L)).as("t_day"),
        max(when(col("m_user"), 1L).otherwise(0L)).as("t_user"),
        max(when(col("m_type"), 1L).otherwise(0L)).as("t_type"))
      .localCheckpoint() // bounded by the key domains; read three times
    val cens = sizes.groupBy("cand").agg(
        count(lit(1)).as("n_parts"), sum("n").as("total_rows"),
        max("n").as("max_part_rows"))
      .selectExpr("cand", "n_parts", "total_rows", "max_part_rows",
        "1000000L * max_part_rows * n_parts DIV total_rows AS skew_micro")
    val small = sizes.join(broadcast(cens), "cand")
      .groupBy("cand")
      .agg(sum(when(expr("n * n_parts * 10 < total_rows"), 1L)
        .otherwise(0L)).as("n_small"))
    val scans = sizes.selectExpr("cand", "n",
        """stack(3, 'one_day', t_day, 'one_user', t_user,
                 'one_type', t_type) AS (pred, t)""")
      .groupBy("cand", "pred")
      .agg(sum(when(col("t") === 1L, col("n")).otherwise(0L)).as("scan_rows"))
    val matches = base.agg(
        sum(when(col("m_day"), 1L).otherwise(0L)).as("mm_day"),
        sum(when(col("m_user"), 1L).otherwise(0L)).as("mm_user"),
        sum(when(col("m_type"), 1L).otherwise(0L)).as("mm_type"))
      .selectExpr("""stack(3, 'one_day', mm_day, 'one_user', mm_user,
                           'one_type', mm_type) AS (pred, match_rows)""")
    scans.join(broadcast(cens), "cand")
      .join(broadcast(small), "cand")
      .join(broadcast(matches), "pred")
      .selectExpr("cand", "pred", "n_parts", "total_rows", "max_part_rows",
        "skew_micro", "n_small", "match_rows", "scan_rows",
        "1000000L * scan_rows DIV total_rows AS scan_micro",
        "scan_rows >= match_rows AS prune_sound")
      .orderBy("cand", "pred")
  }
}
