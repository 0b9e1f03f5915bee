package graft

import graft.ops.ScaleOps
import org.apache.spark.sql.functions._

class ScaleOpsSpec extends SparkSpec {
  import spark.implicits._

  // skewed: user 7 owns 80% of rows
  private def skewed = (0 until 500).map { i =>
    (i.toLong, if (i % 5 == 0) (i % 13).toLong else 7L, i * 1.5)
  }.toDF("event_id", "user_id", "value")

  test("salt actually spreads the hot key across reducers") {
    val saltCount = skewed
      .withColumn("__salt", pmod(hash(col("event_id")), lit(16)))
      .filter(col("user_id") === 7L)
      .select("__salt").distinct().count()
    assert(saltCount > 8, s"hot key only hit $saltCount salts")
  }

  test("salting measurably rebalances task-level row counts, not just salt values") {
    // the 100× skew story, MEASURED from actual post-exchange partition
    // ids rather than asserted: the unsalted shuffle funnels user 7's 400
    // rows through ONE task, the salted shuffle must cut the largest
    // task's load by at least 4× on the same data
    def maxPartitionRows(df: org.apache.spark.sql.DataFrame): Long =
      df.groupBy(spark_partition_id().as("pid")).count()
        .agg(max("count")).as[Long].head()
    val unsalted = maxPartitionRows(skewed.repartition(32, col("user_id")))
    val salted = maxPartitionRows(
      skewed.withColumn("__salt", pmod(hash(col("event_id")), lit(16)))
        .repartition(32, col("user_id"), col("__salt")))
    assert(unsalted >= 400L, s"fixture lost its skew (max task rows = $unsalted)")
    assert(salted <= unsalted / 4,
      s"salting did not rebalance: max task rows $unsalted -> $salted")
  }

  test("q153 skew audit: hand distributions — max/top-1% shares and CV exact") {
    // a×8, b×1, c×1: max_share 0.8; top-1% = top-1 key = 0.8;
    // CV = √(3·66 − 100)/10 = √98/10
    val hot = ((0 until 8).map(i => (i.toLong, "a")) ++
      Seq((8L, "b"), (9L, "c"))).toDF("id", "k")
    val uniform = (0 until 10).map(i => (i.toLong, s"k${i % 5}")).toDF("id", "k")
    val rows = ScaleOps.keySkewAudit(Seq(
        ("hot", "k", hot), ("uniform", "k", uniform))).collect()
      .map(r => r.getString(0) -> r).toMap
    val h = rows("hot")
    assert((h.getLong(2), h.getLong(3), h.getLong(4)) === ((10L, 3L, 8L)))
    assert(h.getDouble(5) === 0.8 && h.getLong(6) === 8L && h.getDouble(7) === 0.8)
    assert(h.getDouble(8) === math.sqrt(98.0) / 10.0)
    val u = rows("uniform")
    assert((u.getLong(2), u.getLong(3), u.getLong(4)) === ((10L, 5L, 2L)))
    assert(u.getDouble(5) === 0.2 && u.getDouble(7) === 0.2)
    assert(u.getDouble(8) === 0.0, "a uniform distribution has zero CV")
  }

  test("q153 skew audit: boundary-class partial inclusion — top-1% never overcounts keys") {
    // 300 keys ×1 row: target = 3 keys, all in the same frequency class
    // (c=1, m=300) — covered must be 3 rows, not the whole class
    val flat = (0 until 300).map(i => (i.toLong, s"k$i")).toDF("id", "k")
    val r = ScaleOps.keySkewAudit(Seq(("flat", "k", flat))).collect().head
    assert(r.getLong(6) === 3L, s"got ${r.getLong(6)} — boundary class leaked")
    assert(r.getDouble(7) === 0.01)
  }

  test("q153 skew audit on the corpus: matches a driver reference; partitioning invariance") {
    val events = Tables.events(spark, "/root/testdata/sf0.001")
    val row = ScaleOps.keySkewAudit(Seq(("events", "user_id", events)))
      .collect().head
    val counts = events.select("user_id").as[Long].collect()
      .groupBy(identity).map(_._2.length.toLong).toSeq
    val n = counts.sum; val k = counts.length.toLong
    assert(row.getLong(2) === n && row.getLong(3) === k)
    assert(row.getLong(4) === counts.max)
    val target = (k + 99) / 100
    val want = counts.sorted.reverse.take(target.toInt).sum
    assert(row.getLong(6) === want)
    val cv = math.sqrt((BigInt(k) * counts.map(c => BigInt(c) * c).sum
      - BigInt(n) * n).toDouble) / n.toDouble
    assert(row.getDouble(8) === cv)
    val again = ScaleOps.keySkewAudit(Seq(("events", "user_id", events.repartition(7))))
      .collect().head
    assert(again.toSeq === row.toSeq)
  }

  test("q175 z-order: BOTH predicates prune (the lesson vs q160), soundness everywhere, Morton matches a driver interleave") {
    val events = Tables.events(spark, "/root/testdata/sf0.001")
    val rows = ScaleOps.zOrderAudit(events).collect()
    assert(rows.map(_.getLong(1)).sum === events.count(), "shards must partition the corpus")
    assert(rows.forall(r => r.getLong(0) >= 0 && r.getLong(0) < ScaleOps.ZOrderShards))
    rows.foreach { r =>
      assert(r.getBoolean(8) && r.getBoolean(11), s"unsound skip at shard ${r.getLong(0)}")
    }
    // the comparative lesson: under time layout (q160) the cents
    // predicate pruned NOTHING; under z-order both dimensions prune
    assert(rows.exists(_.getBoolean(6)), "no ts-skippable z-shard")
    assert(rows.exists(_.getBoolean(9)), "no cents-skippable z-shard — z-order buys nothing?")
    val q160rows = ScaleOps.zoneMapAudit(events).collect()
    assert(!q160rows.exists(r => r.getBoolean(9) && r.getLong(1) > 0),
      "time layout unexpectedly prunes the cents predicate — the comparison is vacuous")
    // driver Morton reference on a handful of rows
    def morton(a: Int, b: Int): Long =
      (0 until ScaleOps.ZOrderBits).map { i =>
        (((a >> i) & 1).toLong << (2 * i + 1)) | (((b >> i) & 1).toLong << (2 * i))
      }.sum
    val d0 = events.selectExpr(
      s"min(unix_micros(ts) DIV ${graft.ops.RelationalOps.DayUs})").head().getLong(0)
    val zPerShard = (1 << (2 * ScaleOps.ZOrderBits)) / ScaleOps.ZOrderShards
    val sample = events.limit(50).selectExpr(
        s"unix_micros(ts) DIV ${graft.ops.RelationalOps.DayUs} AS day",
        "CASE WHEN value IS NULL THEN NULL ELSE CAST(round(value * 100) AS BIGINT) END AS cents")
      .collect()
    val shardsWithRows = rows.map(_.getLong(0)).toSet
    sample.foreach { s =>
      val di = (s.getLong(0) - d0).toInt
      val bi = if (s.isNullAt(1)) ScaleOps.ZOrderNullBin
        else (s.getLong(1) / graft.ops.SketchOps.HistBinCents).toInt
      assert(shardsWithRows.contains(morton(di, bi) / zPerShard),
        "a sampled row's driver-computed shard is absent from the audit")
    }
    val reparted = ScaleOps.zOrderAudit(events.repartition(7))
      .collect().map(_.toSeq).toSeq
    assert(reparted === rows.map(_.toSeq).toSeq)
  }

  test("q167 reshard audit: bucketed successor = naive successor (wrap keys included), CH beats mod") {
    import graft.ops.ScaleOps._
    // pure-JVM md5 (identical to Spark's md5() on UTF-8) — the referee
    def p48(s: String): Long = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(d.take(12), 16)
    }
    val ringRef = (for (s <- 0 until ReshardTo; v <- 0 until RingVnodes)
      yield (s, p48(s"ring:$s:$v"))).sortBy(r => (r._2, r._1))
    def naiveOwner(h: Long): Int =
      ringRef.find(_._2 >= h).getOrElse(ringRef.minBy(_._2))._1
    // fixture: normal keys PLUS mined keys whose draw lies past the last
    // ring vnode — the wrap arm of the bucketed lookup must fire
    val wrapIds = Seq(575L, 1126L, 2302L, 8693L, 10678L)
    assert(wrapIds.forall(u => p48(u.toString) > ringRef.map(_._2).max),
      "mined wrap keys drifted — remine against the current ring salts")
    val ids = (0L until 40L) ++ wrapIds
    val fixture = ids.zipWithIndex.map { case (u, i) => (i.toLong, u) }
      .toDF("i", "user_id")
      .selectExpr("i AS event_id", "timestamp_micros(i) AS ts", "user_id",
        "'view' AS event_type", "CAST(1.0 AS DOUBLE) AS value", "'' AS props")
    val r = ScaleOps.reshardAudit(fixture).collect().head
    val hs = ids.map(u => u.toString -> p48(u.toString))
    val chMoved = hs.count { case (_, h) => naiveOwner(h) >= ReshardFrom }
    val modMoved = hs.count { case (_, h) => h % ReshardFrom != h % ReshardTo }
    assert(r.getLong(0) === ids.length.toLong)
    assert(r.getLong(1) === modMoved.toLong, "mod moved count")
    assert(r.getLong(2) === chMoved.toLong,
      "bucketed ring lookup disagrees with the naive successor — wrap arm broken?")
    assert(r.getBoolean(5), "consistent hashing must beat mod on moves")
    // corpus: engine equals the same naive reference end to end
    val events = Tables.events(spark, "/root/testdata/sf0.001")
    val row = ScaleOps.reshardAudit(events).collect().head
    val uks = events.selectExpr("CAST(user_id AS STRING)").distinct()
      .collect().map(_.getString(0))
    assert(row.getLong(0) === uks.length.toLong)
    assert(row.getLong(2) === uks.count(u => naiveOwner(p48(u)) >= ReshardFrom).toLong)
    assert(row.getLong(1) === uks.count { u =>
      val h = p48(u); h % ReshardFrom != h % ReshardTo }.toLong)
    val again = ScaleOps.reshardAudit(events.repartition(7)).collect().head
    assert(again.toSeq === row.toSeq)
  }

  test("q160 zone maps: time layout prunes the ts predicate to exactly the window; soundness everywhere") {
    val events = Tables.events(spark, "/root/testdata/sf0.001")
    val rows = ScaleOps.zoneMapAudit(events).collect()
    val days = rows.map(_.getLong(0))
    val d0 = days.min
    val (from, toExcl) = (d0 + graft.ops.SketchOps.HllRangeStartOff,
      d0 + graft.ops.SketchOps.HllRangeStartOff + graft.ops.SketchOps.HllRangeLen)
    rows.foreach { r =>
      val day = r.getLong(0)
      // day-sharding makes ts-pruning EXACT: skip iff the shard is
      // outside the window (no false positives on this layout)
      assert(r.getBoolean(6) === (day < from || day >= toExcl), s"skip_ts day $day")
      assert(r.getBoolean(8), s"ts skip unsound at day $day")
      assert(r.getBoolean(11), s"cents skip unsound at day $day")
      // zone bounds really bracket the shard
      assert(r.getLong(2) >= day * graft.ops.RelationalOps.DayUs &&
        r.getLong(3) < (day + 1) * graft.ops.RelationalOps.DayUs)
    }
    // match counts conserve: per-shard ts matches sum to the window total
    val windowTotal = events.filter(
      s"unix_micros(ts) DIV ${graft.ops.RelationalOps.DayUs} >= $from AND " +
        s"unix_micros(ts) DIV ${graft.ops.RelationalOps.DayUs} < $toExcl").count()
    assert(rows.map(_.getLong(7)).sum === windowTotal)
    // the value column is NOT prunable under time layout — the lesson
    assert(rows.exists(r => !r.getBoolean(9) && r.getLong(10) > 0),
      "cents predicate should match inside un-skipped shards")
    val reparted = ScaleOps.zoneMapAudit(events.repartition(7))
      .collect().map(_.toSeq).toSeq
    assert(reparted === rows.map(_.toSeq).toSeq)
  }

  test("q160 zone maps: NULL-only and out-of-range shards skip soundly (hand fixture)") {
    val dayUs = graft.ops.RelationalOps.DayUs
    // day 0: cents straddle the window; day 1: all NULL values; day 2:
    // all cents below the window; days 7..20 exist so the ts window
    // [d0+7, d0+21) is populated
    val rows = (Seq(
      (0L * dayUs + 10, Some(120.00)), (0L * dayUs + 20, Some(80.00)),
      (1L * dayUs + 10, None), (1L * dayUs + 20, None),
      (2L * dayUs + 10, Some(1.00)), (2L * dayUs + 20, Some(2.00))) ++
      (7L until 21L).map(d => (d * dayUs + 5, Some(125.50))))
      .toDF("us", "v")
      .selectExpr("timestamp_micros(us) AS ts", "CAST(v AS DOUBLE) AS value")
    val got = ScaleOps.zoneMapAudit(rows).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(!got(0L).getBoolean(9), "straddling shard must NOT skip")
    assert(got(0L).getLong(10) === 1L) // only the $120 row matches
    assert(got(1L).getBoolean(9) && got(1L).isNullAt(4) && got(1L).isNullAt(5),
      "all-NULL shard must skip with NULL bounds")
    assert(got(1L).getBoolean(11))
    assert(got(2L).getBoolean(9) && got(2L).getLong(10) === 0L,
      "below-window shard must skip")
    // ts predicate: only days 7..20 match; day 0 skips
    assert(got(0L).getBoolean(6) && got(7L).getLong(7) === 1L && !got(7L).getBoolean(6))
    assert(got.values.forall(r => r.getBoolean(8) && r.getBoolean(11)))
  }

  test("q201 encoding audit: hand ledgers exact per encoding, day boundary resets runs, corpus replay + winner spread") {
    val dayUs = 86400000000L
    // day 0, ingest order: event_type a,a,b,a,a,a (3 runs); cents all
    // distinct; hour constant. day 1: one lone row — runs reset at the
    // file boundary, never carried from day 0
    val fix = Seq(
      (0L, "a", 100L), (1L, "a", 200L), (2L, "b", 300L),
      (3L, "a", 400L), (4L, "a", 500L), (5L, "a", 600L),
      (6L, "a", 700L))
      .toDF("event_id", "event_type", "cents")
      .selectExpr(
        s"timestamp_micros(CASE WHEN event_id = 6 THEN $dayUs ELSE event_id END) AS ts",
        "event_id", "event_type", "CAST(cents AS DOUBLE) / 100 AS value",
        "CAST(1 AS BIGINT) AS user_id")
    val got = ScaleOps.encodingAudit(fix).collect()
      .map(r => (r.getLong(0), r.getString(1)) -> r).toMap
    assert(got.size === 6, "two day-files x three columns")
    val et0 = got((0L, "event_type"))
    assert((et0.getLong(3), et0.getLong(4), et0.getLong(5), et0.getLong(6),
      et0.getLong(7)) === (2L, 3L, 30L, 11L, 27L),
      "strings: plain 6+24, dict 2+8+1 packed byte, rle 3 heads + 24")
    assert(et0.getString(8) === "dict" && et0.getLong(9) === 11L)
    val c0 = got((0L, "cents"))
    assert((c0.getLong(3), c0.getLong(4), c0.getLong(5), c0.getLong(6),
      c0.getLong(7)) === (6L, 6L, 48L, 51L, 72L),
      "high-NDV ints: dict stores everything twice (bits(6) = 3)")
    assert(c0.getString(8) === "plain" && c0.getLong(10) === 0L)
    val h0 = got((0L, "hour"))
    assert((h0.getLong(3), h0.getLong(4), h0.getLong(6)) === (1L, 1L, 9L) &&
      h0.getString(8) === "dict" && h0.getLong(10) === 812500L,
      "constant column: 8 + 1 packed byte; savings = (48-9)/48 floor'd micro")
    assert(got((1L, "event_type")).getLong(4) === 1L,
      "the day-1 run must not continue day 0's final 'a' run")
    // corpus: driver replay of every ledger at sf0.001
    val events = Tables.events(spark, "/root/testdata/sf0.001")
    val real = ScaleOps.encodingAudit(events).collect()
    val rows = events.selectExpr("unix_micros(ts) AS us", "event_id",
        "event_type",
        "CASE WHEN value IS NULL THEN -1L ELSE CAST(round(value * 100) AS BIGINT) END")
      .collect().map(r => (r.getLong(0) / dayUs, r.getLong(0), r.getLong(1),
        r.getString(2), r.getLong(3), r.getLong(0) / 3600000000L))
    def bits(d: Long): Long = { var b = 1L; while ((1L << b) < d) b += 1; b }
    val want = rows.groupBy(_._1).toSeq.flatMap { case (day, rs) =>
      val o = rs.sortBy(t => (t._2, t._3))
      val n = o.length.toLong
      def ledger[T](vals: Seq[T], strLen: T => Long, isStr: Boolean) = {
        val d = vals.distinct.size.toLong
        val heads = vals.zipWithIndex.filter { case (v, i) => i == 0 || vals(i - 1) != v }
        val runs = heads.size.toLong
        val plain = if (isStr) vals.map(strLen).sum + 4 * n else 8 * n
        val dict = (if (isStr) vals.distinct.map(strLen).sum + 4 * d else 8 * d) +
          (n * bits(d) + 7) / 8
        val rle = if (isStr) heads.map(h => strLen(h._1)).sum + 8 * runs else 12 * runs
        (d, runs, plain, dict, rle)
      }
      Seq(
        (day, "cents") -> ledger[Long](o.map(_._5), _ => 8L, isStr = false),
        (day, "event_type") -> ledger[String](o.map(_._4), _.length.toLong, isStr = true),
        (day, "hour") -> ledger[Long](o.map(_._6), _ => 8L, isStr = false))
        .map { case ((dy, c), (d, runs, plain, dict, rle)) =>
          val (chosen, cb) =
            if (dict <= plain && dict <= rle) ("dict", dict)
            else if (plain <= rle) ("plain", plain) else ("rle", rle)
          (dy, c, n, d, runs, plain, dict, rle, chosen, cb,
            1000000L * (plain - cb) / plain)
        }
    }.sortBy(t => (t._1, t._2))
    assert(real.length === want.length)
    real.zip(want).foreach { case (r, w) =>
      assert((r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6), r.getLong(7),
        r.getString(8), r.getLong(9), r.getLong(10)) === w)
    }
    assert(real.map(_.getString(8)).distinct.length >= 2,
      "the corpus must exercise more than one winner")
    val reparted = ScaleOps.encodingAudit(events.repartition(7))
      .collect().map(_.toSeq).toSeq
    assert(reparted === real.map(_.toSeq).toSeq)
  }

  test("q204 hilbert: the curve is a unit-adjacent bijection over the whole grid; corpus zones replay and both predicates engage") {
    val side = 1 << ScaleOps.ZOrderBits
    // the defining Hilbert property, proven over ALL 1024 cells: h is a
    // bijection onto [0, side²) and consecutive positions are GRID
    // NEIGHBORS (|Δx|+|Δy| = 1) — the locality Morton's diagonal jumps
    // break, and the reason equal curve ranges make tighter zone maps
    val grid = (0 until side).flatMap(x => (0 until side).map(y => (x, y)))
      .toDF("gx", "gy")
      .selectExpr("gx", "gy", "gx AS hx", "gy AS hy", "CAST(0 AS BIGINT) AS h")
    val coded = ScaleOps.hilbertIndex(grid, Seq("gx", "gy")).collect()
      .map(r => r.getLong(2) -> (r.getInt(0), r.getInt(1))).sortBy(_._1)
    assert(coded.map(_._1).toSeq === (0L until (side.toLong * side)),
      "bijection onto the full curve range")
    coded.sliding(2).foreach { case Array((_, (x0, y0)), (d, (x1, y1))) =>
      assert(math.abs(x1 - x0) + math.abs(y1 - y0) === 1, s"step at $d")
    }
    // corpus: conservation, soundness laws, engagement on both predicates
    val events = Tables.events(spark, "/root/testdata/sf0.001")
    val real = ScaleOps.hilbertAudit(events).collect()
    assert(real.map(_.getLong(1)).sum === events.count())
    assert(real.forall(r => r.getBoolean(8) && r.getBoolean(11)),
      "skip soundness on both predicates is the law")
    assert(real.exists(_.getBoolean(6)) && real.exists(!_.getBoolean(6)),
      "the ts predicate must engage (some shards skip, some do not)")
    assert(real.exists(_.getBoolean(9)),
      "the cents predicate must have skippable shards under the 2-D curve")
    val reparted = ScaleOps.hilbertAudit(events.repartition(7))
      .collect().map(_.toSeq).toSeq
    assert(reparted === real.map(_.toSeq).toSeq)
  }

  test("q179 compaction plan: laws hold on the corpus, driver roll matches, jumbo file straddles soundly") {
    import org.apache.spark.sql.functions.col
    val events = Tables.events(spark, "/root/testdata/sf0.001")
    val rows = ScaleOps.compactionPlan(events).collect()
    val (bins, summary) = rows.partition(_.getLong(0) >= 0)
    assert(summary.length === 1 && bins.length > 1)
    // every law the artifact grades, re-asserted
    assert(rows.forall(r => r.getBoolean(5) && r.getBoolean(6)),
      "cap/contiguity/conservation laws must hold corpus-wide")
    // driver-side roll from first principles
    val sizes = events.selectExpr(
        s"unix_micros(ts) DIV ${graft.ops.RelationalOps.DayUs} AS day",
        "32 + length(CAST(user_id AS STRING)) + length(event_type) AS b")
      .groupBy("day").agg(org.apache.spark.sql.functions.sum("b").as("bytes"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    val total = sizes.map(_._2).sum
    val target = (total + ScaleOps.CompactionBins - 1) / ScaleOps.CompactionBins
    val cum = sizes.scanLeft(0L)(_ + _._2).init
    val wantBins = sizes.zip(cum).groupBy { case (_, c) => c / target }
    bins.foreach { r =>
      val want = wantBins(r.getLong(0))
      assert(r.getLong(1) === want.length && r.getLong(4) === want.map(_._1._2).sum,
        s"bin ${r.getLong(0)} must match the driver roll")
      assert(r.getLong(2) === want.map(_._1._1).min && r.getLong(3) === want.map(_._1._1).max)
    }
    assert(summary.head.getLong(4) === total, "byte conservation")
    // jumbo file: one day holding more than a whole target's bytes makes
    // the roll SKIP bin indices — cap_ok still holds per bin, and the
    // summary's count law falls back to the <= bound without failing
    val jumbo = (Seq.fill(80)((0L, "u1", "t")) ++
      Seq((1L, "u2", "t"), (2L, "u3", "t"), (3L, "u4", "t")))
      .toDF("day0", "user_id", "event_type")
      .selectExpr(s"timestamp_micros(day0 * ${graft.ops.RelationalOps.DayUs}) AS ts",
        "user_id", "event_type")
    val jr = ScaleOps.compactionPlan(jumbo).collect()
    assert(jr.forall(r => r.getBoolean(5)), "cap law must survive the jumbo file")
    assert(jr.filter(_.getLong(0) >= 0).map(_.getLong(0)).toSet.size <
      ScaleOps.CompactionBins, "jumbo file must actually skip bin indices here")
    assert(jr.forall(_.getBoolean(6)), "count law must fall back to the bound, not fail")
    val reparted = ScaleOps.compactionPlan(events.repartition(7))
      .collect().map(_.toSeq).toSeq
    assert(reparted === rows.map(_.toSeq).toSeq)
  }

  test("q185 post-compaction zones: bins partition days disjointly, skip rule sound, pruning engages, rows conserve") {
    val events = Tables.events(spark, "/root/testdata/sf0.001")
    val rows = ScaleOps.compactionZoneAudit(events).collect()
    assert(rows.forall(_.getBoolean(6)), "bins must hold disjoint day ranges — the roll's contiguity payoff")
    assert(rows.forall(_.getBoolean(9)), "skip soundness everywhere")
    assert(rows.exists(_.getBoolean(7)) && rows.exists(!_.getBoolean(7)),
      "the window must make pruning engage without being trivial")
    assert(rows.map(_.getLong(1)).sum === events.count(), "row conservation across bins")
    // day ranges ascend with bin order (the roll is day-ordered)
    val spans = rows.sortBy(_.getLong(0)).map(r => (r.getLong(2), r.getLong(3)))
    spans.sliding(2).foreach { case Array((_, l), (f, _)) => assert(l < f); case _ => }
    // bin membership matches the q179 plan's day assignment
    val plan = ScaleOps.compactionPlan(events).collect().filter(_.getLong(0) >= 0)
      .map(r => r.getLong(0) -> (r.getLong(2), r.getLong(3))).toMap
    rows.foreach(r => assert(plan(r.getLong(0)) === ((r.getLong(2), r.getLong(3))),
      s"bin ${r.getLong(0)} day span must equal the plan's"))
    val reparted = ScaleOps.compactionZoneAudit(events.repartition(7))
      .collect().map(_.toSeq).toSeq
    assert(reparted === rows.map(_.toSeq).toSeq)
  }

  test("q182 delete amplification: LWW tombstones only, both kinds chosen where each wins, ledger conserves") {
    val dayUs = graft.ops.RelationalOps.DayUs
    // user 1: deleted at the end (tombstone); user 2: deleted THEN
    // re-upserted (resurrected — NOT a tombstone); user 3: never deleted.
    // day 0: mostly user-1 rows -> heavy delete density -> REWRITE wins;
    // day 1: one user-1 row among many -> DV wins; day 2: untouched.
    def ev(day: Long, eid: Long, uid: Long, et: String) = (day, eid, uid, et)
    // rewrite needs surviving bytes < 16 + 4·n_del: 10 deleted rows
    // (DV 56 bytes) vs one ~34-byte survivor
    val rows = (1L to 10L).map(i => ev(0, i, 1, s"e$i")) ++ Seq(ev(0, 11, 3, "d"),
      ev(1, 110, 2, "error"), ev(1, 111, 1, "x")) ++
      (120L to 140L).map(i => ev(1, i, 3, "t")) ++
      Seq(ev(2, 150, 3, "z"), ev(2, 151, 2, "purchase"), ev(3, 160, 1, "error"))
    val fix = rows.toDF("day0", "event_id", "user_id", "event_type")
      .selectExpr(s"timestamp_micros(day0 * $dayUs + event_id) AS ts",
        "event_id", "user_id", "event_type", "CAST(NULL AS DOUBLE) AS value")
    val got = ScaleOps.deleteAmplification(fix).collect()
      .map(r => r.getLong(0) -> r).toMap
    // only user 1 is tombstoned: user 2's delete was overwritten by the
    // later upsert (LWW), user 3 never deleted
    assert(got(0L).getLong(2) === 10L && got(0L).getString(7) === "rewrite",
      "10-of-11-deleted file must rewrite (1 surviving row is cheaper than a 56-byte DV)")
    assert(got(1L).getLong(2) === 1L && got(1L).getString(7) === "dv",
      "1-of-23-deleted file must take the deletion vector")
    assert(got(2L).getLong(2) === 0L && got(2L).getString(7) === "none" &&
      got(2L).getLong(8) === 0L, "untouched file costs nothing")
    // conservation + the choice law on the sentinel
    val s = got(-1L)
    assert(s.getLong(1) === rows.length && s.getLong(2) ===
      got.filterKeys(_ >= 0).values.map(_.getLong(2)).sum)
    assert(s.getLong(8) <= s.getLong(5) && s.getLong(8) <= s.getLong(6),
      "chosen total must not exceed either pure policy")
    // real corpus: tombstones exist, every ledger row's choice is minimal
    val events = Tables.events(spark, "/root/testdata/sf0.001")
    val real = ScaleOps.deleteAmplification(events).collect()
    assert(real.filter(_.getLong(0) >= 0).forall { r =>
      r.getLong(8) === math.min(if (r.getLong(2) == 0) 0L else r.getLong(5),
        if (r.getLong(2) == 0) 0L else r.getLong(6))
    })
    assert(real.find(_.getLong(0) == -1L).get.getLong(2) > 0,
      "corpus must exercise real tombstones")
    val reparted = ScaleOps.deleteAmplification(events.repartition(7))
      .collect().map(_.toSeq).toSeq
    assert(reparted === real.map(_.toSeq).toSeq)
  }

  test("q216 partition advisor: day key prunes time not users, bucket key the reverse; laws and invariance on the corpus") {
    val events = Tables.events(spark, "/root/testdata/sf0.001")
    val rows = graft.ops.ScaleOps.partitionKeyAdvisor(events).collect()
    assert(rows.length === 9, "3 candidates × 3 predicates")
    val cell = rows.map(r => (r.getString(0), r.getString(1)) -> r).toMap
    // soundness law graded true everywhere: a scan never misses a match
    assert(rows.forall(_.getBoolean(10)))
    // every candidate's total is the same corpus (candidates re-key,
    // never drop); match counts are candidate-independent
    assert(rows.map(_.getLong(3)).distinct.length === 1)
    for (p <- Seq("one_day", "one_user", "one_type"))
      assert(Seq("day", "user_bucket", "event_type")
        .map(c => cell((c, p)).getLong(7)).distinct.length === 1,
        s"match_rows for $p must not depend on the candidate key")
    // THE lesson, on real data: the day key prunes its own predicate
    // (scan < total) but reads everything for the user probe (an active
    // user touches every day); the user bucket prunes the user probe
    // but reads everything for the day probe
    val dayDay = cell(("day", "one_day"))
    assert(dayDay.getLong(8) * 2 < dayDay.getLong(3),
      "day key must strongly prune the day probe")
    val dayUser = cell(("day", "one_user"))
    assert(dayUser.getLong(8) * 2 > dayUser.getLong(3),
      "day key barely prunes a single-user probe (the user is active most days)")
    val bucketUser = cell(("user_bucket", "one_user"))
    assert(bucketUser.getLong(8) * bucketUser.getLong(2)
      <= bucketUser.getLong(3) * 2,
      "a single-user probe reads ~one bucket under the hash key")
    assert(dayUser.getLong(8) > bucketUser.getLong(8) * 10,
      "the user probe must read far more under the day key than the bucket key")
    val bucketDay = cell(("user_bucket", "one_day"))
    assert(bucketDay.getLong(8) * 2 > bucketDay.getLong(3),
      "user bucket barely prunes a time probe (the day's rows spread over buckets)")
    assert(bucketDay.getLong(8) > dayDay.getLong(8) * 5,
      "the day probe must read far more under the bucket key than the day key")
    // balance census: buckets are near-uniform (md5-free modulo on dense
    // ids), so no bucket is starved; skew ≥ the perfect 1e6 by definition
    assert(rows.forall(_.getLong(5) >= 1000000L))
    assert(cell(("user_bucket", "one_day")).getLong(6) === 0L,
      "uniform buckets must show zero starved partitions")
    val reparted = graft.ops.ScaleOps.partitionKeyAdvisor(events.repartition(7))
      .collect().map(_.toSeq).toSeq
    assert(reparted === rows.map(_.toSeq).toSeq)
  }
}
