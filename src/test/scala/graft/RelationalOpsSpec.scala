package graft

import graft.ops.RelationalOps

class RelationalOpsSpec extends SparkSpec {
  import spark.implicits._

  private def customers = Seq(
    (1L, "c1", 0, 10.0, "BUILDING"), (2L, "c2", 1, 20.0, "AUTO"), (3L, "c3", 0, 30.0, "AUTO")
  ).toDF("c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment")

  private def orders = Seq(
    (10L, 1L, "O", 600000.0, new java.sql.Timestamp(0), "1-URGENT"),
    (11L, 1L, "O", 100.0, new java.sql.Timestamp(86400000), "2-HIGH"),
    (12L, 2L, "F", 200.0, new java.sql.Timestamp(0), "3-MEDIUM")
  ).toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "o_orderdate", "o_orderpriority")

  test("semi/anti joins partition customers exactly") {
    val big = RelationalOps.bigSpenders(customers, orders)
      .select("c_custkey").as[Long].collect().toSet
    val notBig = RelationalOps.notBigSpenders(customers, orders)
      .select("c_custkey").as[Long].collect().toSet
    assert(big === Set(1L))            // only c1 has an order > 450k
    assert(notBig === Set(2L, 3L))     // c3 has no orders at all — still included
    assert((big & notBig).isEmpty)
  }

  test("outer-join aggregate keeps zero-order customers with spend 0") {
    val rows = RelationalOps.ordersPerCustomerOuter(customers, orders)
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getDouble(3))).toSeq
    assert(rows === Seq((1L, 2L, 600100.0), (2L, 1L, 200.0), (3L, 0L, 0.0)))
  }

  test("q126 interval join counts exactly the strict 1h-after window across bucket edges") {
    // anchor at t=100s: follows at 101s (same bucket), 3650s (NEXT bucket,
    // still inside 3700s), 3701s (next bucket, OUTSIDE — boundary is
    // us <= us_a + W); t=100s itself and an equal-timestamp row are
    // excluded (STRICTLY after); anchor at 10000s has zero follows but
    // keeps its row; null values count toward n_follow, not the sum
    val ev = Seq(
      (1L, ts(100), 1L, "signup", 0.0, "{}"),
      (2L, ts(100), 2L, "click", 9.0, "{}"),      // tie with anchor: excluded
      (3L, ts(101), 2L, "click", 2.5, "{}"),      // in (same bucket)
      (4L, ts(3650), 3L, "view", 1.5, "{}"),      // in (adjacent bucket)
      (5L, ts(3700), 3L, "view", 10.0, "{}"),     // in (exactly us_a + W)
      (6L, ts(3701), 3L, "view", 100.0, "{}"),    // out (past the window)
      (7L, ts(10000), 4L, "signup", 0.0, "{}")    // burst-less anchor
    ).toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val got = RelationalOps.intervalJoin(ev)
      .as[(Long, Long, Double)].collect().toSeq
    assert(got === Seq((1L, 3L, 14.0), (7L, 0L, 0.0)))
    // null value: counted, not summed
    val withNull = ev.unionByName(Seq(
      (8L, ts(102), 5L, "click", null.asInstanceOf[java.lang.Double], "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props"))
    val g2 = RelationalOps.intervalJoin(withNull)
      .as[(Long, Long, Double)].collect().toSeq
    assert(g2.head === ((1L, 4L, 14.0)))
  }

  test("as-of join picks the latest prior reference event per user") {
    val ev = Seq(
      (1L, ts(100), 1L, "signup", 0.0, "{}"),
      (2L, ts(200), 1L, "purchase", 5.0, "{}"),   // ref -> 1
      (3L, ts(300), 1L, "signup", 0.0, "{}"),
      (4L, ts(400), 1L, "purchase", 6.0, "{}"),   // ref -> 3
      (5L, ts(500), 2L, "purchase", 7.0, "{}")    // no signup: ref null
    ).toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val got = RelationalOps.asofJoin(ev).collect()
      .map(r => (r.getLong(0), if (r.isNullAt(3)) -1L else r.getLong(3))).toSeq
    assert(got === Seq((2L, 1L), (4L, 3L), (5L, -1L)))
  }

  test("rollup includes subtotals and grand total") {
    val li = Seq(
      ("A", "F", 2.0), ("A", "O", 3.0), ("B", "F", 5.0)
    ).map { case (rf, ls, q) => (rf, ls, q, 0.0, 0.0, 0.0, 0.0) }
      .toDF("l_returnflag", "l_linestatus", "l_quantity", "l_extendedprice", "l_discount", "l_tax", "x")
    val rows = RelationalOps.rollupReturns(li)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(3))).toSeq
    assert(rows.contains(("ALL", "ALL", 10L)))  // grand total
    assert(rows.contains(("A", "ALL", 5L)))     // subtotal
    assert(rows.contains(("B", "F", 5L)))       // leaf
  }

  test("sessionize splits on gaps > threshold and numbers sessions per user") {
    val ev = Seq(
      (1L, ts(0), 1L, "view", 0.0, "{}"),
      (2L, ts(100), 1L, "view", 0.0, "{}"),        // 100s gap: same session
      (3L, ts(100 + 1801), 1L, "view", 0.0, "{}"), // 1801s gap: new session
      (4L, ts(50), 2L, "view", 0.0, "{}")          // other user: own session
    ).toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val got = RelationalOps.sessionize(ev)
      .select("user_id", "session_idx", "n_events")
      .as[(Long, Long, Long)].collect().toSet
    assert(got === Set((1L, 1L, 2L), (1L, 2L, 1L), (2L, 1L, 1L)))
  }

  test("q136 funnel: strictly-ordered conversion, simultaneous events do not convert") {
    val ev = Seq(
      // user 1: full funnel, 10s then 20s to advance
      (1L, ts(0), 1L, "view", 0.0, "{}"),
      (2L, ts(10), 1L, "click", 0.0, "{}"),
      (3L, ts(30), 1L, "purchase", 0.0, "{}"),
      // user 2: click BEFORE the first view — ordered funnel must not count it
      (4L, ts(5), 2L, "click", 0.0, "{}"),
      (5L, ts(10), 2L, "view", 0.0, "{}"),
      // user 3: click SIMULTANEOUS with view — strictness excludes it
      (6L, ts(7), 3L, "view", 0.0, "{}"),
      (7L, ts(7), 3L, "click", 0.0, "{}"),
      // user 4: view only
      (8L, ts(1), 4L, "view", 0.0, "{}"),
      // user 5: purchase with no view — never enters the funnel
      (9L, ts(2), 5L, "purchase", 0.0, "{}")
    ).toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val got = RelationalOps.funnelCensus(ev).collect()
    assert(got.map(_.getInt(0)).toSeq === Seq(1, 2, 3))
    val byStage = got.map(r => r.getInt(0) -> r).toMap
    assert(byStage(1).getLong(2) === 4L, "users 1-4 reach 'view'")
    assert(byStage(2).getLong(2) === 1L, "only user 1 clicks strictly after viewing")
    assert(byStage(3).getLong(2) === 1L)
    assert(byStage(1).isNullAt(3) && byStage(1).isNullAt(4) && byStage(1).isNullAt(5))
    assert(byStage(2).getDouble(3) === 0.25)
    assert(byStage(2).getLong(4) === 10000000L, "10 s view→click in µs")
    assert(byStage(3).getLong(4) === 20000000L)
    assert(byStage(3).getDouble(5) === 20000000.0)
  }

  test("q136 funnel on the corpus: stage counts are monotone and self-consistent") {
    val events = Tables.events(spark, "/root/testdata/sf0.001")
    val rows = RelationalOps.funnelCensus(events).collect()
    val n = rows.map(r => r.getInt(0) -> r.getLong(2)).toMap
    assert(n(1) >= n(2) && n(2) >= n(3), s"funnel must narrow: $n")
    assert(n(1) > 0 && n(3) > 0, "testdata must exercise the full funnel")
    rows.filter(_.getInt(0) > 1).foreach { r =>
      assert(r.getDouble(3) > 0.0 && r.getDouble(3) <= 1.0)
      assert(r.getLong(4) >= 0L)
    }
    val reparted = RelationalOps.funnelCensus(events.repartition(7))
      .collect().map(_.toSeq).toSeq
    assert(reparted === rows.map(_.toSeq).toSeq)
  }

  test("q137 SAX: a ramp window reads 'abcd', a flat window 'cccc'; support counts windows and users") {
    // two users with the same 8-value ramp (one full window each) plus
    // two users with flat series — motifs need support ≥ 2
    val ramp = (1 to 8).map(i => i * 1.0)
    val ev = (for {
      (uid, vals) <- Seq(1L -> ramp, 2L -> ramp,
        3L -> Seq.fill(8)(5.0), 4L -> Seq.fill(8)(5.0))
      (v, i) <- vals.zipWithIndex
    } yield (uid * 100 + i, ts(i.toLong), uid, "view", v, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val got = RelationalOps.saxMotifs(ev)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(got === Map("abcd" -> (2L, 2L), "cccc" -> (2L, 2L)),
      s"got $got")
  }

  test("q137 SAX on the corpus: words are 4 symbols over a-d, output bounded, partitioning-invariant") {
    val events = Tables.events(spark, "/root/testdata/sf0.001")
    val rows = RelationalOps.saxMotifs(events).collect()
    assert(rows.nonEmpty, "the corpus must contain repeated value shapes")
    assert(rows.length <= 256, "output is bounded by the 4^4 word alphabet")
    rows.foreach { r =>
      assert(r.getString(0).matches("[abcd]{4}"), s"bad word ${r.getString(0)}")
      assert(r.getLong(1) >= RelationalOps.SaxMinSupport)
      assert(r.getLong(2) >= 1L && r.getLong(2) <= r.getLong(1))
    }
    val reparted = RelationalOps.saxMotifs(events.repartition(7))
      .collect().map(_.toSeq).toSeq
    assert(reparted === rows.map(_.toSeq).toSeq)
  }

  test("q144 markov: hand fixture — adjacent pairs per user in (us, event_id) order, rows sum to P=1") {
    // u1: view → click → view → purchase; u2: view → view
    val ev = Seq(
      (1L, ts(0), 1L, "view", 0.0, "{}"),
      (2L, ts(10), 1L, "click", 0.0, "{}"),
      (3L, ts(20), 1L, "view", 0.0, "{}"),
      (4L, ts(30), 1L, "purchase", 0.0, "{}"),
      (5L, ts(5), 2L, "view", 0.0, "{}"),
      (6L, ts(6), 2L, "view", 0.0, "{}")
    ).toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val got = RelationalOps.markovTransitions(ev).collect()
      .map(r => (r.getString(0), r.getString(1)) -> (r.getLong(2), r.getLong(3), r.getDouble(4)))
      .toMap
    assert(got === Map(
      ("view", "click")    -> (1L, 3L, 1.0 / 3.0),
      ("view", "purchase") -> (1L, 3L, 1.0 / 3.0),
      ("view", "view")     -> (1L, 3L, 1.0 / 3.0),
      ("click", "view")    -> (1L, 1L, 1.0)), s"got $got")
    // simultaneous events order by event_id — the q136 tie rule
    val tie = Seq(
      (9L, ts(7), 3L, "b", 0.0, "{}"),
      (8L, ts(7), 3L, "a", 0.0, "{}")
    ).toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val tg = RelationalOps.markovTransitions(tie).collect()
      .map(r => (r.getString(0), r.getString(1))).toSeq
    assert(tg === Seq(("a", "b")))
  }

  test("q144 markov on the corpus: per-from probabilities sum to 1, transition conservation, invariance") {
    val events = Tables.events(spark, "/root/testdata/sf0.001")
    val rows = RelationalOps.markovTransitions(events).collect()
    assert(rows.nonEmpty)
    val byFrom = rows.groupBy(_.getString(0))
    byFrom.foreach { case (f, rs) =>
      assert(math.abs(rs.map(_.getDouble(4)).sum - 1.0) < 1e-9, s"P(·|$f) must sum to 1")
      assert(rs.forall(_.getLong(3) === rs.map(_.getLong(2)).sum), "n_from = Σn over the row")
    }
    // every non-final event contributes exactly one transition
    val nTrans = rows.map(_.getLong(2)).sum
    val perUser = events.groupBy("user_id").count().collect().map(_.getLong(1))
    assert(nTrans === perUser.map(_ - 1).sum)
    val reparted = RelationalOps.markovTransitions(events.repartition(7))
      .collect().map(_.toSeq).toSeq
    assert(reparted === rows.map(_.toSeq).toSeq)
  }

  test("q148 autocorrelation: a period-2 series reads r = -1 at lag 1 and r = +1 at lag 2") {
    val hour = RelationalOps.HourUs
    // hourly counts 1,3,1,3,… over 12 hours: perfectly anti-correlated at
    // lag 1, perfectly correlated at lag 2
    val ev = (0 until 12).flatMap { h =>
      val n = if (h % 2 == 0) 1 else 3
      (0 until n).map(i =>
        (h.toLong * 10 + i, new java.sql.Timestamp(h * hour / 1000 + i), 1L,
          "view", 0.0, "{}"))
    }.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val got = RelationalOps.autocorrelation(ev, maxLag = 3).collect()
      .map(r => r.getInt(0) -> (r.getLong(1), if (r.isNullAt(2)) Double.NaN else r.getDouble(2)))
      .toMap
    assert(got(1)._1 === 11L && got(2)._1 === 10L)
    assert(got(1)._2 === -1.0 && got(2)._2 === 1.0, s"got $got")
    // a constant series has zero variance — NULL, not NaN
    val flat = (0 until 6).map(h =>
      (h.toLong, new java.sql.Timestamp(h * hour / 1000), 1L, "view", 0.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val frows = RelationalOps.autocorrelation(flat, maxLag = 2).collect()
    assert(frows.nonEmpty && frows.forall(_.isNullAt(2)))
  }

  test("q148 autocorrelation on the corpus: r bounded, pairs shrink with lag, partitioning invariance") {
    val events = Tables.events(spark, "/root/testdata/sf0.001")
    val rows = RelationalOps.autocorrelation(events).collect()
    assert(rows.length === RelationalOps.AcfMaxLag)
    rows.foreach { r =>
      if (!r.isNullAt(2))
        assert(math.abs(r.getDouble(2)) <= 1.0 + 1e-12, s"lag ${r.getInt(0)}: |r| > 1")
    }
    // the hour series is gappy at this scale, so pair counts are NOT
    // monotone in lag — only bounded by the series length
    val nHours = events.selectExpr(
      s"unix_micros(ts) DIV ${RelationalOps.HourUs} AS h").distinct().count()
    rows.foreach(r => assert(r.getLong(1) > 0 && r.getLong(1) < nHours))
    val reparted = RelationalOps.autocorrelation(events.repartition(7))
      .collect().map(_.toSeq).toSeq
    assert(reparted === rows.map(_.toSeq).toSeq)
  }

  test("q149 RFM: hand fixture — quartile codes from binned minimal-cover thresholds") {
    val day = RelationalOps.DayUs
    // four users with clearly separated metrics; one event per day each
    // u1: 40 events ending day 19760 (recent, frequent, rich: $100/event)
    // u2: 20 events ending day 19750; u3: 10 ending 19740; u4: 1 on 19700
    def evs(uid: Long, n: Int, endDay: Long, v: Double) =
      (0 until n).map(i => (uid * 1000 + i,
        new java.sql.Timestamp((endDay - i) * day / 1000), uid, "view", v, "{}"))
    val ev = (evs(1L, 40, 19760L, 100.0) ++ evs(2L, 20, 19750L, 10.0) ++
      evs(3L, 10, 19740L, 1.0) ++ evs(4L, 1, 19700L, 0.5))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val got = RelationalOps.rfmSegments(ev).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3), r.getString(7)))
      .toMap
    assert(got(1L) === ((0L, 40L, 4000.0, "R1F4M4")), s"got ${got(1L)}")
    assert(got(4L)._1 === 60L && got(4L)._4.startsWith("R4"),
      "the stalest user lands in the worst recency quartile")
    // codes are monotone with the metrics: u1 ≥ u2 ≥ u3 on F ("RxFyMz"
    // has the F digit at index 3 — codes are always one digit)
    val f = got.view.mapValues(_._4.charAt(3)).toMap
    assert(f(1L) >= f(2L) && f(2L) >= f(3L), s"F codes: $f")
  }

  test("q149 RFM on the corpus: codes in 1..4, quartiles roughly balanced, partitioning invariance") {
    val events = Tables.events(spark, "/root/testdata/sf0.001")
    val rows = RelationalOps.rfmSegments(events).collect()
    val nUsers = events.select("user_id").distinct().count()
    assert(rows.length === nUsers)
    rows.foreach { r =>
      Seq(4, 5, 6).foreach(i => assert(r.getInt(i) >= 1 && r.getInt(i) <= 4))
      assert(r.getString(7) === s"R${r.getInt(4)}F${r.getInt(5)}M${r.getInt(6)}")
    }
    // minimal-cover quartiles: at least a quarter of users sit at or
    // below each q1 code (bins are coarse, so only the ≥ bound holds)
    Seq(4, 5, 6).foreach { i =>
      val c1 = rows.count(_.getInt(i) == 1)
      assert(c1 * 4 >= nUsers, s"col $i: only $c1 users in the first quartile")
    }
    val reparted = RelationalOps.rfmSegments(events.repartition(7))
      .collect().map(_.toSeq).toSeq
    assert(reparted === rows.map(_.toSeq).toSeq)
  }

  test("q151 basket rules: hand fixture — support cut, exact 3/2 lift boundary, confidences") {
    def li(rows: (Long, Long)*) = rows.toDF("l_orderkey", "l_partkey")
    // (p1,p2) in 2 of 4 baskets, p1 only there: lift 2·4/(2·2) = 2 — kept;
    // (p3,p4) support 1 — dropped
    val got = RelationalOps.basketRules(
      li((1L, 1L), (1L, 2L), (2L, 1L), (2L, 2L), (3L, 3L), (3L, 4L), (4L, 3L)))
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getLong(2), r.getDouble(6), r.getDouble(7), r.getDouble(8))).toMap
    assert(got.keySet === Set((1L, 2L)), s"got ${got.keySet}")
    assert(got((1L, 2L)) === ((2L, 1.0, 1.0, 2.0)))
    // exact boundary: n_ab=2, N=6, n_a=2, n_b=4 → lift = 12/8 = 3/2 — KEPT
    val boundary = RelationalOps.basketRules(
      li((1L, 1L), (1L, 2L), (2L, 1L), (2L, 2L), (3L, 2L), (4L, 2L),
         (5L, 9L), (6L, 9L)))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(8)).toMap
    assert(boundary === Map((1L, 2L) -> 1.5), s"got $boundary")
    // duplicate lineitem rows for the same (order, part) collapse first
    // (the p3 baskets pad N so the pair clears the lift cut: 2·4/(2·2)=2)
    val dup = RelationalOps.basketRules(
      li((1L, 1L), (1L, 1L), (1L, 2L), (2L, 1L), (2L, 2L), (3L, 3L), (4L, 3L)))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(dup === Map((1L, 2L) -> 2L))
  }

  test("q151 basket rules on the corpus: matches the exact BigInt reference; partitioning invariance") {
    val lineitem = Tables.lineitem(spark, "/root/testdata/sf0.001")
    val rows = RelationalOps.basketRules(lineitem).collect()
    assert(rows.nonEmpty, "the corpus must contain co-ordered part pairs")
    val baskets = lineitem.selectExpr("l_orderkey", "l_partkey")
      .as[(Long, Long)].collect().distinct
    val np = baskets.groupBy(_._2).map { case (p, xs) => p -> xs.length.toLong }
    val n = BigInt(baskets.map(_._1).distinct.length)
    val pairs = baskets.groupBy(_._1).values.flatMap { ps =>
      val s = ps.map(_._2).sorted
      for (i <- s.indices; j <- i + 1 until s.length) yield (s(i), s(j))
    }.groupBy(identity).map { case (k, v) => k -> v.size.toLong }
    val want = pairs.collect {
      case ((a, b), nab) if nab >= RelationalOps.BasketMinSupport &&
        BigInt(RelationalOps.BasketLiftDen) * nab * n >=
          BigInt(RelationalOps.BasketLiftNum) * np(a) * np(b) =>
        (a, b) -> (nab, np(a), np(b),
          (BigInt(nab) * n).toDouble / (BigInt(np(a)) * np(b)).toDouble)
    }.toMap
    val got = rows.map(r => (r.getLong(0), r.getLong(1)) ->
      ((r.getLong(2), r.getLong(3), r.getLong(4), r.getDouble(8)))).toMap
    assert(got === want, s"${got.size} engine rules vs ${want.size} reference")
    val reparted = RelationalOps.basketRules(lineitem.repartition(7))
      .collect().map(_.toSeq).toSeq
    assert(reparted === rows.map(_.toSeq).toSeq)
  }

  test("q152 attribution: hand fixture — strictly-prior last touch, direct bucket, tie order") {
    val ev = Seq(
      // u1: view → p($5) → click → p($7) → p($2): view gets 5, click 9
      (1L, ts(0), 1L, "view", 0.0, "{}"),
      (2L, ts(10), 1L, "purchase", 5.0, "{}"),
      (3L, ts(20), 1L, "click", 0.0, "{}"),
      (4L, ts(30), 1L, "purchase", 7.0, "{}"),
      (5L, ts(40), 1L, "purchase", 2.0, "{}"),
      // u2: purchase with no prior touch → direct
      (6L, ts(5), 2L, "purchase", 3.0, "{}"),
      // u3: view and purchase at the SAME µs — the smaller event id is
      // the prior row (q136 tie rule), so the view gets the credit
      (100L, ts(7), 3L, "view", 0.0, "{}"),
      (101L, ts(7), 3L, "purchase", 1.0, "{}")
    ).toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val got = RelationalOps.lastTouchAttribution(ev).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2), r.getDouble(3)))
      .toMap
    assert(got === Map(
      "view"   -> (2L, 6.0, 6.0 / 18.0),
      "click"  -> (2L, 9.0, 9.0 / 18.0),
      "direct" -> (1L, 3.0, 3.0 / 18.0)), s"got $got")
  }

  test("q152 attribution on the corpus: shares sum to 1, revenue conserves, partitioning invariance") {
    val events = Tables.events(spark, "/root/testdata/sf0.001")
    val rows = RelationalOps.lastTouchAttribution(events).collect()
    assert(rows.nonEmpty)
    assert(math.abs(rows.map(_.getDouble(3)).sum - 1.0) < 1e-9)
    assert(math.abs(rows.map(_.getDouble(4)).sum - 1.0) < 1e-9)
    val nPurch = events.filter("event_type = 'purchase'").count()
    assert(rows.map(_.getLong(1)).sum === nPurch, "every purchase is attributed")
    assert(rows.map(_.getString(0)).forall(c =>
      c == "direct" || (RelationalOps.EventTypes.contains(c) && c != "purchase")))
    val reparted = RelationalOps.lastTouchAttribution(events.repartition(7))
      .collect().map(_.toSeq).toSeq
    assert(reparted === rows.map(_.toSeq).toSeq)
  }

  test("q138 retention: hand fixture — cohorts by first-event day, cells count distinct active users") {
    val day = RelationalOps.DayUs
    def at(d: Long, offsetUs: Long = 0L) =
      new java.sql.Timestamp((d * day + offsetUs) / 1000)
    // day-19723 cohort: u1 active days 0,1,3 (twice on day 1 — distinct
    // collapses it); u2 active day 0 only. day-19724 cohort: u3 days 1,2.
    val d0 = 19723L
    val ev = Seq(
      (1L, at(d0), 1L, "view", 0.0, "{}"),
      (2L, at(d0 + 1), 1L, "view", 0.0, "{}"),
      (3L, at(d0 + 1, 5L), 1L, "click", 0.0, "{}"),
      (4L, at(d0 + 3), 1L, "view", 0.0, "{}"),
      (5L, at(d0, 9L), 2L, "view", 0.0, "{}"),
      (6L, at(d0 + 1), 3L, "view", 0.0, "{}"),
      (7L, at(d0 + 2), 3L, "view", 0.0, "{}")
    ).toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val got = RelationalOps.retentionCohorts(ev).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> (r.getLong(2), r.getLong(3), r.getDouble(4)))
      .toMap
    assert(got === Map(
      (d0, 0L)     -> (2L, 2L, 1.0),
      (d0, 1L)     -> (2L, 1L, 0.5),
      (d0, 3L)     -> (2L, 1L, 0.5),
      (d0 + 1, 0L) -> (1L, 1L, 1.0),
      (d0 + 1, 1L) -> (1L, 1L, 1.0)), s"got $got")
  }

  test("q138 retention on the corpus: period-0 self-check, monotone bounds, partitioning invariance") {
    val events = Tables.events(spark, "/root/testdata/sf0.001")
    val rows = RelationalOps.retentionCohorts(events).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getLong(1) >= 0L, "periods are days since first activity")
      assert(r.getLong(3) <= r.getLong(2), "a cell cannot exceed its cohort")
      if (r.getLong(1) == 0L)
        assert(r.getLong(3) === r.getLong(2), "everyone is active on their first day")
    }
    // cohort sizes sum to the distinct-user census — no user lost or doubled
    val cohortTotal = rows.filter(_.getLong(1) == 0L).map(_.getLong(2)).sum
    val nUsers = events.select("user_id").distinct().count()
    assert(cohortTotal === nUsers)
    val reparted = RelationalOps.retentionCohorts(events.repartition(7))
      .collect().map(_.toSeq).toSeq
    assert(reparted === rows.map(_.toSeq).toSeq)
  }

  test("q139 stickiness: hand fixture — WAU is the trailing-7-day distinct union, DAU the day's own") {
    val day = RelationalOps.DayUs
    def at(d: Long) = new java.sql.Timestamp(d * day / 1000)
    val d0 = 19723L
    // u1 active d0 and d0+8 (outside the 7-day window of each other);
    // u2 active d0+1; u3 active d0+8
    val ev = Seq(
      (1L, at(d0), 1L, "view", 0.0, "{}"),
      (2L, at(d0 + 8), 1L, "view", 0.0, "{}"),
      (3L, at(d0 + 1), 2L, "view", 0.0, "{}"),
      (4L, at(d0 + 8), 3L, "view", 0.0, "{}")
    ).toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val got = RelationalOps.stickinessCensus(ev).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    // d0: dau {u1}, wau {u1}. d0+1: dau {u2}, wau {u1,u2}.
    // d0+8: dau {u1,u3}; the trailing window is d0+2 … d0+8, so u2's
    // d0+1 activity is one day too old — wau {u1,u3}
    assert(got === Map(
      d0 -> (1L, 1L),
      (d0 + 1) -> (1L, 2L),
      (d0 + 8) -> (2L, 2L)), s"got $got")
    // only observed days appear — no phantom target days past the corpus
    assert(!got.contains(d0 + 2) && !got.contains(d0 + 9))
  }

  test("q139 stickiness on the corpus: DAU ≤ WAU ≤ user census, ratio in (0,1], partitioning invariance") {
    val events = Tables.events(spark, "/root/testdata/sf0.001")
    val rows = RelationalOps.stickinessCensus(events).collect()
    assert(rows.nonEmpty)
    val nUsers = events.select("user_id").distinct().count()
    rows.foreach { r =>
      assert(r.getLong(1) <= r.getLong(2), "DAU cannot exceed WAU")
      assert(r.getLong(2) <= nUsers)
      assert(r.getDouble(3) > 0.0 && r.getDouble(3) <= 1.0)
    }
    val reparted = RelationalOps.stickinessCensus(events.repartition(7))
      .collect().map(_.toSeq).toSeq
    assert(reparted === rows.map(_.toSeq).toSeq)
  }

  test("q21 self-check: HLL estimate within rsd bound of the exact count") {
    // approx_count_distinct defaults to rsd = 0.05; on the testdata's
    // cardinalities (hundreds of users per type) the estimate must land
    // within 3×rsd = 15% of q20's exact distinct count — the executable
    // accuracy statement behind q21's no-oracle row
    val events = Tables.events(spark, "/root/testdata/sf0.001")
    val exact = RelationalOps.distinctUsersPerType(events)
      .select("event_type", "n_users").as[(String, Long)].collect().toMap
    val approx = events.groupBy("event_type")
      .agg(org.apache.spark.sql.functions.approx_count_distinct("user_id").as("n_users_approx"))
      .select("event_type", "n_users_approx").as[(String, Long)].collect().toMap
    assert(approx.keySet === exact.keySet)
    approx.foreach { case (t, est) =>
      val err = math.abs(est.toDouble - exact(t)) / exact(t)
      assert(err <= 0.15, s"type $t: estimate $est vs exact ${exact(t)} (err $err)")
    }
  }

  test("q53 self-check: approx percentiles exact-rank-close to q28's values") {
    // accuracy 10000 → rank error ≤ n/10000 < 1 on this data, so the
    // approx sketch must return a value between the neighbors of the
    // exact interpolated percentile (within one bucket width)
    val events = Tables.events(spark, "/root/testdata/sf0.001")
    val exact = RelationalOps.valuePercentiles(events)
      .select("event_type", "p50", "p95").as[(String, Double, Double)]
      .collect().map(r => r._1 -> ((r._2, r._3))).toMap
    val approx = events.groupBy("event_type")
      .agg(org.apache.spark.sql.functions.expr("approx_percentile(value, 0.5, 10000)").as("p50_approx"),
        org.apache.spark.sql.functions.expr("approx_percentile(value, 0.95, 10000)").as("p95_approx"))
      .select("event_type", "p50_approx", "p95_approx")
      .as[(String, Double, Double)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(approx.keySet === exact.keySet)
    approx.foreach { case (t, (p50, p95)) =>
      // approx_percentile returns an actual data value; the interpolated
      // exact value sits between adjacent data points, which at ~200
      // samples per type can be a few percent apart at the p95 tail —
      // 5% relative covers the spacing (observed max ≈ 4%), deterministic
      assert(math.abs(p50 - exact(t)._1) / math.max(exact(t)._1, 1.0) <= 0.05)
      assert(math.abs(p95 - exact(t)._2) / math.max(exact(t)._2, 1.0) <= 0.05)
    }
  }

  test("q21 checked form: hll_ok true on real data, false when the bound is unmeetable") {
    for (sf <- Seq("sf0.001", "sf0.01")) {
      val events = Tables.events(spark, s"/root/testdata/$sf")
      val ok = RelationalOps.approxDistinctChecked(events)
        .select("hll_ok").as[Boolean].collect()
      assert(ok.nonEmpty && ok.forall(identity), s"$sf: sketch outside 3×rsd")
    }
    // the boolean is computed, not a literal: a negative tolerance can
    // never be met, so every row must flip to false
    val events = Tables.events(spark, "/root/testdata/sf0.001")
    val flipped = RelationalOps.approxDistinctChecked(events, relTol = -1.0)
      .select("hll_ok").as[Boolean].collect()
    assert(flipped.forall(!_))
  }

  test("q53 checked form: rank containment holds on real data") {
    for (sf <- Seq("sf0.001", "sf0.01")) {
      val events = Tables.events(spark, s"/root/testdata/$sf")
      val rows = RelationalOps.approxPercentilesChecked(events)
        .select("ok_p50", "ok_p95", "ok_p99")
        .as[(Boolean, Boolean, Boolean)].collect()
      assert(rows.nonEmpty)
      rows.foreach { case (a, b, c) => assert(a && b && c, s"$sf: sketch outside eps") }
    }
  }

  test("q53 rank check rejects an estimate outside the quantile band") {
    val events = Tables.events(spark, "/root/testdata/sf0.001")
    // feed the p50 slot an estimate near the maximum: |{v < max}|/n >> 0.51,
    // so ok_p50 must be false while the honest p95/p99 slots stay green
    val wrong = events.groupBy("event_type").agg(
      org.apache.spark.sql.functions.expr("max(value) - 0.001").as("a_p50"),
      org.apache.spark.sql.functions.expr("approx_percentile(value, 0.95, 10000)").as("a_p95"),
      org.apache.spark.sql.functions.expr("approx_percentile(value, 0.99, 10000)").as("a_p99"))
    val rows = RelationalOps.percentileRankCheck(events, wrong, eps = 0.01)
      .select("ok_p50", "ok_p95", "ok_p99")
      .as[(Boolean, Boolean, Boolean)].collect()
    assert(rows.nonEmpty)
    rows.foreach { case (p50Ok, p95Ok, p99Ok) =>
      assert(!p50Ok, "max-valued estimate must fail the p50 containment")
      assert(p95Ok && p99Ok)
    }
  }

  private def ts(s: Long) = new java.sql.Timestamp(s * 1000)

  test("q173 CDC merge: the full merge matrix on a hand log; corpus matches a driver LWW fold") {
    val base = Seq((1L, 10.00), (2L, 20.00), (3L, 30.00), (4L, 40.00))
      .toDF("c_custkey", "c_acctbal")
      .selectExpr("c_custkey", "'x' AS c_name", "CAST(0 AS BIGINT) AS c_nationkey",
        "CAST(c_acctbal AS DOUBLE) AS c_acctbal", "'m' AS c_mktsegment")
    // (key, event_id, us, type, value)
    val log = Seq(
      (1L, 10L, 100L, "purchase", Some(11.0)), (1L, 11L, 200L, "error", None),
      (2L, 20L, 100L, "error", None), (2L, 21L, 200L, "purchase", Some(22.0)),
      (4L, 40L, 100L, "purchase", Some(41.0)), (4L, 41L, 100L, "purchase", Some(42.0)),
      (5L, 50L, 100L, "purchase", Some(55.0)),
      (6L, 60L, 100L, "error", None))
      .toDF("user_id", "event_id", "us", "event_type", "v")
      .selectExpr("event_id", "timestamp_micros(us) AS ts", "user_id",
        "event_type", "CAST(v AS DOUBLE) AS value", "'' AS props")
    val got = RelationalOps.cdcMerge(base, log).collect()
      .map(r => (r.getLong(0), if (r.isNullAt(1)) None else Some(r.getLong(1)),
        r.getLong(2), r.getString(3), r.getString(4))).toSeq
    assert(got === Seq(
      // key 1: delete wins last → gone. key 2: upsert after delete wins
      (2L, Some(2200L), 2L, "upsert", "base"),
      // key 3: untouched base
      (3L, Some(3000L), 0L, "base", "base"),
      // key 4: same-µs tie → larger event_id (42.0) wins
      (4L, Some(4200L), 2L, "upsert", "base"),
      // key 5: CDC insert of a key the base never had
      (5L, Some(5500L), 1L, "upsert", "cdc")))
      // key 6: delete of an absent key is a no-op (absent)
    // corpus: driver LWW fold
    val customer = Tables.customer(spark, "/root/testdata/sf0.001")
    val events = Tables.events(spark, "/root/testdata/sf0.001")
    val rows = RelationalOps.cdcMerge(customer, events).collect()
      .map(r => (r.getLong(0), if (r.isNullAt(1)) None else Some(r.getLong(1)),
        r.getLong(2), r.getString(3), r.getString(4))).toSeq
    val ch = events.selectExpr("user_id", "unix_micros(ts) AS us", "event_id",
        "event_type", "CASE WHEN value IS NULL THEN NULL " +
          "ELSE CAST(round(value * 100) AS BIGINT) END AS cents")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getString(3), if (r.isNullAt(4)) None else Some(r.getLong(4))))
      .groupBy(_._1)
    val baseMap = customer.selectExpr("c_custkey",
        "CAST(round(c_acctbal * 100) AS BIGINT)")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val keys = (baseMap.keySet ++ ch.keySet).toSeq.sorted
    val want = keys.flatMap { k =>
      val changes: Seq[(Long, Long, Long, String, Option[Long])] =
        ch.get(k).map(_.toSeq.sortBy(e => (e._2, e._3))).getOrElse(Seq.empty)
      val last = changes.lastOption
      val lastOp = last.map(e => if (e._4 == "error") "delete" else "upsert")
      if (lastOp.contains("delete")) None
      else Some((k,
        if (lastOp.contains("upsert")) last.get._5 else baseMap.get(k).map(identity),
        changes.size.toLong, lastOp.getOrElse("base"),
        if (baseMap.contains(k)) "base" else "cdc"))
    }
    assert(rows === want, "corpus merge must equal the driver LWW fold")
    val again = RelationalOps.cdcMerge(customer, events.repartition(7))
      .collect().map(_.toSeq).toSeq
    assert(again === rows.map(p =>
      Seq[Any](p._1, p._2.map(Long.box).orNull, p._3, p._4, p._5)))
  }

  test("q187 robust outliers: whale-immune median/MAD on a hand day, driver recount corpus-wide") {
    val dayUs = graft.ops.RelationalOps.DayUs
    // day 0: values 1..7 dollars plus a 1M-dollar whale. median = 4.50$?
    // 8 values -> lower median = rank 4 = 4$; MAD over |x-400|:
    // {300,200,100,0,100,200,300, huge} -> rank 4 = 200 wait recompute in
    // cents below; the whale flags robustly AND fixed; a mean/stddev rule
    // would be dragged by the whale into flagging nothing
    val rows = ((1 to 7).map(d => (0L, d * 100L)) :+ (0L, 100000000L)) ++
      Seq((1L, 500L), (1L, 600L), (1L, 700L)) // odd-n day: median 600
    val fix = rows.zipWithIndex.map { case ((d, c), i) => (d, c, i.toLong) }
      .toDF("day0", "cents", "event_id")
      .selectExpr(s"timestamp_micros(day0 * $dayUs + event_id) AS ts",
        "CAST(cents AS DOUBLE) / 100 AS value", "event_id",
        "'u' AS user_id", "'t' AS event_type")
    val got = graft.ops.RelationalOps.robustOutliers(fix).collect()
      .map(r => r.getLong(0) -> r).toMap
    val d0 = got(0L)
    assert(d0.getLong(2) === 400L, "lower median of 8 values = rank 4")
    // deviations: 300,200,100,0,100,200,300,99999600 sorted ->
    // 0,100,100,200,200,300,300,big; lower median = rank 4 = 200
    assert(d0.getLong(3) === 200L, "MAD = lower median of deviations")
    // robust flags: |x-400| > 600 -> only the whale; fixed: > 10000c -> whale
    assert(d0.getLong(4) === 1L && d0.getLong(5) === 1L)
    assert(got(1L).getLong(2) === 600L, "odd-n day: true middle")
    // corpus: exact driver recount of median/MAD/flags per day
    val events = Tables.events(spark, "/root/testdata/sf0.001")
    val real = graft.ops.RelationalOps.robustOutliers(events).collect()
    val byDay = events.filter("value IS NOT NULL")
      .selectExpr(s"unix_micros(ts) DIV $dayUs", "CAST(round(value * 100) AS BIGINT)")
      .collect().map(r => (r.getLong(0), r.getLong(1))).groupBy(_._1)
    def lowMed(xs: Seq[Long]): Long = xs.sorted.apply((xs.size + 1) / 2 - 1)
    real.foreach { r =>
      val xs = byDay(r.getLong(0)).map(_._2).toSeq
      val med = lowMed(xs)
      val mad = lowMed(xs.map(x => math.abs(x - med)))
      assert(r.getLong(2) === med && r.getLong(3) === mad, s"day ${r.getLong(0)}")
      assert(r.getLong(4) === xs.count(x =>
        math.abs(x - med) > graft.ops.RelationalOps.MadK * mad))
      assert(r.getLong(5) === xs.count(_ > 10000L))
    }
    val reparted = graft.ops.RelationalOps.robustOutliers(events.repartition(7))
      .collect().map(_.toSeq).toSeq
    assert(reparted === real.map(_.toSeq).toSeq)
  }

  test("q190 resample+ffill: gaps carry the last value, pre-first-obs is NULL, in-hour ties break on (us, event_id)") {
    val hourUs = graft.ops.RelationalOps.HourUs
    // user 1: obs in hours 0 and 2 (hour 2 has TWO obs — the later us wins);
    // user 2: first obs in hour 1 -> hour 0 must stay NULL for them
    val fix = Seq(
      (1L, 0L, 10L, 100L, 0L), (1L, 2L, 5L, 250L, 1L), (1L, 2L, 9L, 300L, 2L),
      (2L, 1L, 3L, 700L, 3L))
      .toDF("user_id", "h", "off", "cents", "event_id")
      .selectExpr(s"timestamp_micros(h * $hourUs + off) AS ts", "user_id",
        "CAST(cents AS DOUBLE) / 100 AS value", "event_id", "'t' AS event_type")
    val got = graft.ops.RelationalOps.resampleFill(fix).collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getLong(2), if (r.isNullAt(3)) None else Some(r.getLong(3)))).toMap
    assert(got.size === 6, "2 users x the global 3-hour span")
    assert(got((1L, 0L)) === ((1L, Some(100L))))
    assert(got((1L, 1L)) === ((0L, Some(100L))), "the gap hour carries the fill")
    assert(got((1L, 2L)) === ((2L, Some(300L))), "later (us, event_id) wins in-hour")
    assert(got((2L, 0L)) === ((0L, None)), "before a user's first obs: NULL")
    assert(got((2L, 1L)) === ((1L, Some(700L))))
    assert(got((2L, 2L)) === ((0L, Some(700L))))
    // corpus: exact driver replay of the collapse + fill at sf0.001
    val events = Tables.events(spark, "/root/testdata/sf0.001")
    val real = graft.ops.RelationalOps.resampleFill(events).collect()
    val obs = events.filter("value IS NOT NULL")
      .selectExpr("user_id", "unix_micros(ts) AS us", "event_id",
        "CAST(round(value * 100) AS BIGINT) AS cents")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val byCell = obs.groupBy(o => (o._1, o._2 / hourUs))
    val h0 = obs.map(_._2 / hourUs).min
    val h1 = obs.map(_._2 / hourUs).max
    val want = obs.map(_._1).distinct.sorted.flatMap { u =>
      var fill: Option[Long] = None
      (h0 to h1).map { h =>
        val cell = byCell.getOrElse((u, h), Array.empty)
        if (cell.nonEmpty) fill = Some(cell.maxBy(o => (o._2, o._3))._4)
        (u, h, cell.length.toLong, fill)
      }
    }
    assert(real.length === want.length)
    real.zip(want).foreach { case (r, (u, h, n, f)) =>
      assert(r.getLong(0) === u && r.getLong(1) === h && r.getLong(2) === n)
      assert((if (r.isNullAt(3)) None else Some(r.getLong(3))) === f, s"($u,$h)")
    }
    val reparted = graft.ops.RelationalOps.resampleFill(events.repartition(7))
      .collect().map(_.toSeq).toSeq
    assert(reparted === real.map(_.toSeq).toSeq)
  }

  test("q191 counter rate: monotone run, reset restarts the increase, zero-dt has no slope; driver recount") {
    // user 1: 100c @1s, 300c @3s (rate 100c/s), 50c @4s (RESET -> increase
    // 50), 50c @4s again via higher event_id (dt 0 -> NULL rate)
    val fix = Seq(
      (1L, 1000000L, 0L, 100L), (1L, 3000000L, 1L, 300L),
      (1L, 4000000L, 2L, 50L), (1L, 4000000L, 3L, 50L))
      .toDF("user_id", "us", "event_id", "cents")
      .selectExpr("timestamp_micros(us) AS ts", "user_id", "event_id",
        "CAST(cents AS DOUBLE) / 100 AS value", "'t' AS event_type")
    val got = graft.ops.RelationalOps.counterRate(fix).collect()
    assert(got.length === 3, "4 observations -> 3 consecutive pairs")
    val p1 = got(0) // 1s -> 3s
    assert(p1.getLong(3) === 2000000L && !p1.getBoolean(4) &&
      p1.getLong(5) === 200L && p1.getLong(6) === 100000000L,
      "monotone pair: 200c over 2s = 100c/s = 1e8 micro")
    val p2 = got(1) // 3s -> 4s: 300 -> 50 is a reset
    assert(p2.getBoolean(4) && p2.getLong(5) === 50L &&
      p2.getLong(6) === 50000000L, "reset: increase = new value, 50c/s")
    val p3 = got(2) // dt 0
    assert(p3.getLong(3) === 0L && p3.isNullAt(6), "zero interval has no slope")
    assert(!p3.getBoolean(4) && p3.getLong(5) === 0L)
    // corpus: exact driver replay at sf0.001
    val events = Tables.events(spark, "/root/testdata/sf0.001")
    val real = graft.ops.RelationalOps.counterRate(events).collect()
    val obs = events.filter("value IS NOT NULL")
      .selectExpr("user_id", "unix_micros(ts)", "event_id",
        "CAST(round(value * 100) AS BIGINT)")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val want = obs.groupBy(_._1).toSeq.sortBy(_._1).flatMap { case (u, os) =>
      os.sortBy(o => (o._2, o._3)).sliding(2).collect { case Array(a, b) =>
        val inc = if (b._4 < a._4) b._4 else b._4 - a._4
        val dt = b._2 - a._2
        (u, b._2, b._3, dt, b._4 < a._4, inc,
          if (dt == 0) None else Some(inc * 1000000000000L / dt))
      }
    }
    assert(real.length === want.length)
    real.zip(want).foreach { case (r, (u, us, e, dt, rs, inc, rate)) =>
      assert(r.getLong(0) === u && r.getLong(1) === us && r.getLong(2) === e)
      assert(r.getLong(3) === dt && r.getBoolean(4) === rs && r.getLong(5) === inc)
      assert((if (r.isNullAt(6)) None else Some(r.getLong(6))) === rate)
    }
    val reparted = graft.ops.RelationalOps.counterRate(events.repartition(7))
      .collect().map(_.toSeq).toSeq
    assert(reparted === real.map(_.toSeq).toSeq)
  }

  test("q192 alert firing: pending vs fired, the transition instant, a dip resets the island; driver recount") {
    val h = 3600000000L
    // user 1: over @0h, over @13h (island fires AT 13h: held >= 12h),
    // under @14h (reset), over @15h alone (pending forever);
    // user 2: over @0h then under -> island of one, never fires
    val fix = Seq(
      (1L, 0L, 0L, 20000L), (1L, 13L, 1L, 30000L), (1L, 14L, 2L, 500L),
      (1L, 15L, 3L, 25000L), (2L, 0L, 4L, 15000L), (2L, 1L, 5L, 100L))
      .toDF("user_id", "hh", "event_id", "cents")
      .selectExpr(s"timestamp_micros(hh * $h) AS ts", "user_id", "event_id",
        "CAST(cents AS DOUBLE) / 100 AS value", "'t' AS event_type")
    val got = graft.ops.RelationalOps.alertFiring(fix).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r).toMap
    assert(got.size === 3, "two islands for user 1, one for user 2")
    val i11 = got((1L, 1L))
    assert(i11.getLong(2) === 0L && i11.getLong(3) === 13L * h &&
      i11.getLong(4) === 2L && i11.getBoolean(6) && i11.getLong(7) === 13L * h,
      "held 13h >= 12h: fires AT the second observation")
    val i12 = got((1L, 2L))
    assert(i12.getLong(4) === 1L && !i12.getBoolean(6) && i12.isNullAt(7),
      "the dip reset the run; the lone spike stays pending")
    assert(!got((2L, 1L)).getBoolean(6))
    // corpus: exact driver replay at sf0.001 — island structure, spans,
    // firing verdicts and instants
    val events = Tables.events(spark, "/root/testdata/sf0.001")
    val real = graft.ops.RelationalOps.alertFiring(events).collect()
    val thr = (graft.ops.EventOps.FraudThreshold * 100).toLong
    val obs = events.filter("value IS NOT NULL")
      .selectExpr("user_id", "unix_micros(ts)", "event_id",
        "CAST(round(value * 100) AS BIGINT)")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val want = obs.groupBy(_._1).toSeq.sortBy(_._1).flatMap { case (u, os) =>
      val runs = scala.collection.mutable.ListBuffer.empty[Vector[Long]]
      var cur = Vector.empty[Long]
      os.sortBy(o => (o._2, o._3)).foreach { o =>
        if (o._4 > thr) cur :+= o._2
        else { if (cur.nonEmpty) runs += cur; cur = Vector.empty }
      }
      if (cur.nonEmpty) runs += cur
      runs.toSeq.zipWithIndex.map { case (r, i) =>
        val fire = r.find(_ >= r.head + graft.ops.RelationalOps.AlertForUs)
        (u, (i + 1).toLong, r.head, r.last, r.size.toLong,
          r.last - r.head, fire.nonEmpty, fire)
      }
    }
    assert(real.length === want.length)
    real.zip(want).foreach { case (r, (u, i, s, e, n, d, f, fu)) =>
      assert(r.getLong(0) === u && r.getLong(1) === i && r.getLong(2) === s)
      assert(r.getLong(3) === e && r.getLong(4) === n && r.getLong(5) === d)
      assert(r.getBoolean(6) === f)
      assert((if (r.isNullAt(7)) None else Some(r.getLong(7))) === fu)
    }
    assert(real.exists(_.getBoolean(6)) && real.exists(!_.getBoolean(6)),
      "the corpus must populate BOTH alert branches")
    val reparted = graft.ops.RelationalOps.alertFiring(events.repartition(7))
      .collect().map(_.toSeq).toSeq
    assert(reparted === real.map(_.toSeq).toSeq)
  }

  test("q209 weighted median: dollars and counts split differently on a tail, agree on uniform days; corpus replay") {
    // day 0: four 1c + one 10c — HALF THE DOLLARS travel in the one big
    // transaction (wmedian 10) while the count median is 1; day 1:
    // uniform — the two medians coincide
    val fix = Seq((0L, 1L), (0L, 1L), (0L, 1L), (0L, 1L), (0L, 10L),
      (1L, 5L), (1L, 5L), (1L, 5L)).zipWithIndex
      .map { case ((d, c), i) => (d * 86400000000L + i, i.toLong, c) }
      .toDF("usv", "event_id", "cents")
      .selectExpr("timestamp_micros(usv) AS ts", "event_id",
        "CAST(1 AS BIGINT) AS user_id",
        "CAST(cents AS DOUBLE) / 100 AS value", "'t' AS event_type")
    val got = graft.ops.RelationalOps.weightedMedian(fix).collect()
    assert(got.length === 2)
    assert((got(0).getLong(3), got(0).getLong(4), got(0).getLong(5),
      got(0).getBoolean(6)) === ((10L, 1L, 10000000L, true)),
      "day 0: weighted 10, count 1 — the tail pair")
    assert(got(1).getLong(3) === 5L && got(1).getLong(4) === 5L &&
      got(1).getLong(5) === 1000000L)
    // corpus: driver replay at sf0.001
    val events = Tables.events(spark, "/root/testdata/sf0.001")
    val real = graft.ops.RelationalOps.weightedMedian(events).collect()
    val vs = events.filter("value IS NOT NULL")
      .selectExpr("unix_micros(ts) DIV 86400000000", "CAST(round(value * 100) AS BIGINT)")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val want = vs.groupBy(_._1).toSeq.sortBy(_._1).map { case (d, xs) =>
      val cs = xs.map(_._2).sorted
      val tm = cs.sum; val tn = cs.length.toLong
      def lowerBy(mass: Long => Long, tot: Long): Long = {
        var acc = 0L
        cs.find { c => acc += mass(c); 2 * acc >= tot }.get
      }
      val wm = lowerBy(identity, tm)
      val cm = lowerBy(_ => 1L, tn)
      (d, tn, tm, wm, cm, 1000000L * wm / cm, wm >= cm)
    }
    assert(real.map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
      r.getLong(3), r.getLong(4), r.getLong(5), r.getBoolean(6))).toSeq === want)
    assert(real.forall(_.getBoolean(6)),
      "this corpus is tail-heavy on every day — the fact the pair exists to show")
    val reparted = graft.ops.RelationalOps.weightedMedian(events.repartition(7))
      .collect().map(_.toSeq).toSeq
    assert(reparted === real.map(_.toSeq).toSeq)
  }

  test("q210 concentration: monopoly, balanced duopoly, and skewed trio price exactly; corpus replay") {
    // nation 0: monopoly (gini 0, hhi 1e6); nation 1: equal duopoly
    // (gini 0, hhi 500000 — still over the 0.25 line); nation 2: trio
    // 1/1/8 (hhi 660000, gini 466666, top1 800000)
    val supplier = Seq((1L, 0L), (2L, 1L), (3L, 1L), (4L, 2L), (5L, 2L), (6L, 2L))
      .toDF("s_suppkey", "s_nationkey")
    val lineitem = Seq((1L, 500L), (2L, 300L), (3L, 300L),
      (4L, 100L), (5L, 100L), (6L, 400L), (6L, 400L))
      .toDF("l_suppkey", "cents")
      .selectExpr("l_suppkey", "CAST(cents AS DOUBLE) / 100 AS l_extendedprice")
    val got = graft.ops.RelationalOps.concentrationCensus(supplier, lineitem)
      .collect().map(r => r.getLong(0) -> r).toMap
    assert((got(0L).getLong(1), got(0L).getLong(3), got(0L).getLong(4),
      got(0L).getBoolean(6)) === ((1L, 1000000L, 0L, true)))
    assert((got(1L).getLong(3), got(1L).getLong(4)) === ((500000L, 0L)),
      "equal duopoly: hhi half, gini zero")
    assert((got(2L).getLong(3), got(2L).getLong(4), got(2L).getLong(5)) ===
      ((660000L, 466666L, 800000L)), "1/1/8 trio")
    // corpus replay at sf0.001 (every nation a monopoly there — the
    // degenerate-but-correct small-scale face)
    val dir = "/root/testdata/sf0.001"
    val real = graft.ops.RelationalOps.concentrationCensus(
      Tables.supplier(spark, dir), Tables.lineitem(spark, dir)).collect()
    val rev = Tables.lineitem(spark, dir)
      .selectExpr("l_suppkey", "CAST(round(l_extendedprice * 100) AS BIGINT)")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
      .groupBy(_._1).map { case (k, v) => k -> v.map(_._2).sum }
    val natOf = Tables.supplier(spark, dir)
      .selectExpr("s_suppkey", "CAST(s_nationkey AS BIGINT)")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val want = rev.toSeq.map { case (sk, r) => (natOf(sk), r) }
      .groupBy(_._1).toSeq.sortBy(_._1).map { case (nat, xs) =>
        val rs = xs.map(_._2).sorted
        val n = rs.length.toLong; val rr = rs.map(BigInt(_)).sum
        val hhi = BigInt(1000000) * rs.map(r => BigInt(r) * r).sum / (rr * rr)
        val sumIr = rs.zipWithIndex.map { case (r, i) => BigInt(i + 1) * r }.sum
        val gini = (2 * sumIr - BigInt(n + 1) * rr) * 1000000 / (BigInt(n) * rr)
        (nat, n, rr.toLong, hhi.toLong, gini.toLong,
          (BigInt(1000000) * rs.max / rr).toLong,
          hhi.toLong > graft.ops.RelationalOps.HhiConcentratedMicro)
      }
    assert(real.map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
      r.getLong(3), r.getLong(4), r.getLong(5), r.getBoolean(6))).toSeq === want)
    val reparted = graft.ops.RelationalOps.concentrationCensus(
      Tables.supplier(spark, dir),
      Tables.lineitem(spark, dir).repartition(7)).collect().map(_.toSeq).toSeq
    assert(reparted === real.map(_.toSeq).toSeq)
  }

  test("q211 journeys: counted paths with exact walkers, deterministic ties; corpus replay of the full top-N") {
    // user 1 walks a,b,c,a,b,c → trigrams abc, bca, cab, abc; user 2
    // walks a,b,c → abc again: 'a > b > c' counts 3 walks by 2 users
    val fix = (Seq("a", "b", "c", "a", "b", "c").zipWithIndex.map { case (t, i) =>
        (1L, i.toLong, t) } ++
      Seq("a", "b", "c").zipWithIndex.map { case (t, i) => (2L, i.toLong, t) })
      .toDF("user_id", "event_id", "event_type")
      .selectExpr("timestamp_micros(event_id * 1000000 + user_id) AS ts",
        "user_id", "event_id", "event_type", "CAST(1.0 AS DOUBLE) AS value")
    val got = graft.ops.RelationalOps.journeyCensus(fix).collect()
    assert(got.head.getString(1) === "a > b > c" &&
      got.head.getLong(2) === 3L && got.head.getLong(3) === 2L)
    assert(got.map(_.getString(1)).toSeq ===
      Seq("a > b > c", "b > c > a", "c > a > b"),
      "equal-count paths order by path text")
    // corpus: the full top-N replays from a driver walk at sf0.001
    val events = Tables.events(spark, "/root/testdata/sf0.001")
    val real = graft.ops.RelationalOps.journeyCensus(events).collect()
    assert(real.length === graft.ops.RelationalOps.JourneyTopN)
    val obs = events.selectExpr("user_id", "unix_micros(ts)", "event_id",
        "event_type")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    val tris = obs.groupBy(_._1).toSeq.flatMap { case (u, xs) =>
      xs.sortBy(t => (t._2, t._3)).map(_._4).sliding(3)
        .filter(_.length == 3).map(w => (u, w.mkString(" > "))).toSeq
    }
    val want = tris.groupBy(_._2).toSeq.map { case (p, ws) =>
      (p, ws.length.toLong, ws.map(_._1).distinct.length.toLong) }
      .sortBy { case (p, n, _) => (-n, p) }
      .take(graft.ops.RelationalOps.JourneyTopN)
      .zipWithIndex.map { case ((p, n, u), i) => (i + 1L, p, n, u) }
    assert(real.map(r => (r.getLong(0), r.getString(1), r.getLong(2),
      r.getLong(3))).toSeq === want)
    val reparted = graft.ops.RelationalOps.journeyCensus(events.repartition(7))
      .collect().map(_.toSeq).toSeq
    assert(reparted === real.map(_.toSeq).toSeq)
  }

  test("q193 cusum drift: clamp at zero, accumulation across modest highs, alarm at h, decay below slack; driver fold replay") {
    // user 1 (slack 7500, h 25000): 10000c (S 2500), 2000c (S clamps to
    // 0 — the deficit must NOT bank), 30000c (S 22500), 12000c (S 27000
    // >= h ALARM — neither observation alone is remarkable), 1000c
    // (S decays to 20500, alarm clears); user 2: always small, S = 0
    val fix = Seq(
      (1L, 1L, 0L, 10000L), (1L, 2L, 1L, 2000L), (1L, 3L, 2L, 30000L),
      (1L, 4L, 3L, 12000L), (1L, 5L, 4L, 1000L),
      (2L, 1L, 5L, 100L), (2L, 2L, 6L, 200L))
      .toDF("user_id", "sec", "event_id", "cents")
      .selectExpr("timestamp_micros(sec * 1000000) AS ts", "user_id",
        "event_id", "CAST(cents AS DOUBLE) / 100 AS value", "'t' AS event_type")
    val got = graft.ops.RelationalOps.cusumDrift(fix).collect()
    assert(got.length === 7)
    val s1 = got.filter(_.getLong(0) == 1L).map(r => (r.getLong(4), r.getBoolean(5)))
    assert(s1.toSeq === Seq((2500L, false), (0L, false), (22500L, false),
      (27000L, true), (20500L, false)),
      "clamp, accumulate, alarm at the cumulative crossing, decay")
    assert(got.filter(_.getLong(0) == 2L).forall(r =>
      r.getLong(4) === 0L && !r.getBoolean(5)), "in-control user stays at 0")
    // corpus: exact driver replay of the recursive definition at sf0.001
    // (the closed form is graded against the FOLD, not against itself)
    val events = Tables.events(spark, "/root/testdata/sf0.001")
    val real = graft.ops.RelationalOps.cusumDrift(events).collect()
    val obs = events.filter("value IS NOT NULL")
      .selectExpr("user_id", "unix_micros(ts)", "event_id",
        "CAST(round(value * 100) AS BIGINT)")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val want = obs.groupBy(_._1).toSeq.sortBy(_._1).flatMap { case (u, os) =>
      var s = 0L
      os.sortBy(o => (o._2, o._3)).map { o =>
        s = math.max(0L, s + o._4 - graft.ops.RelationalOps.CusumSlackCents)
        (u, o._2, o._3, o._4, s, s >= graft.ops.RelationalOps.CusumAlarmCents)
      }
    }
    assert(real.length === want.length)
    real.zip(want).foreach { case (r, (u, us, e, c, s, a)) =>
      assert(r.getLong(0) === u && r.getLong(1) === us && r.getLong(2) === e)
      assert(r.getLong(3) === c && r.getLong(4) === s && r.getBoolean(5) === a)
    }
    assert(real.exists(_.getBoolean(5)) && real.exists(!_.getBoolean(5)),
      "the corpus must populate BOTH alarm branches")
    val reparted = graft.ops.RelationalOps.cusumDrift(events.repartition(7))
      .collect().map(_.toSeq).toSeq
    assert(reparted === real.map(_.toSeq).toSeq)
  }

  test("q183 time travel: v-last IS q173, a key is born/deleted/resurrected as the cutoff sweeps") {
    // hand timeline spanning the four quarter cutoffs (t0=0, t1=4000):
    // key 5 born in Q1, deleted in Q2, resurrected in Q3; key 1 deleted
    // in Q4 only — each version shows a different table
    val base = Seq((1L, 10.00), (3L, 30.00))
      .toDF("c_custkey", "c_acctbal")
    val log = Seq(
      (5L, 1L, 0L, "purchase", Some(50.0)),
      (5L, 2L, 900L, "purchase", Some(55.0)),
      (5L, 3L, 1500L, "error", None),
      (5L, 4L, 2500L, "purchase", Some(59.0)),
      (1L, 5L, 3500L, "error", None),
      (3L, 6L, 4000L, "purchase", Some(33.0)))
      .toDF("user_id", "event_id", "us", "event_type", "v")
      .selectExpr("event_id", "timestamp_micros(us) AS ts", "user_id",
        "event_type", "CAST(v AS DOUBLE) AS value")
    val got = RelationalOps.cdcTimeTravel(base, log).collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        (if (r.isNullAt(2)) None else Some(r.getLong(2)), r.getString(5))).toMap
    assert(got((1L, 5L)) === ((Some(5500L), "cdc")), "v1: key 5 alive at 55")
    assert(!got.contains((2L, 5L)), "v2: key 5 deleted")
    assert(got((3L, 5L)) === ((Some(5900L), "cdc")), "v3: key 5 resurrected at 59")
    assert(got.contains((3L, 1L)) && !got.contains((4L, 1L)),
      "key 1 survives through v3 and is gone at v4")
    assert(got((4L, 3L)) === ((Some(3300L), "base")), "v4: key 3 upserted")
    // the last version IS the current q173 table, by construction
    val customer = Tables.customer(spark, "/root/testdata/sf0.001")
    val events = Tables.events(spark, "/root/testdata/sf0.001")
    val tt = RelationalOps.cdcTimeTravel(customer, events).collect()
    val vLast = tt.filter(_.getLong(0) == RelationalOps.TimeTravelVersions.toLong)
      .map(r => r.toSeq.drop(1)).toSeq
    val current = RelationalOps.cdcMerge(customer, events).collect().map(_.toSeq).toSeq
    assert(vLast === current, "the final version must equal the current table")
    // versions genuinely differ on this corpus (the log is live all month)
    assert(tt.map(_.getLong(0)).distinct.length === RelationalOps.TimeTravelVersions)
    assert(tt.filter(_.getLong(0) == 1L).map(r => r.getLong(2)).sum !==
      tt.filter(_.getLong(0) == 4L).map(r => r.getLong(2)).sum)
    val reparted = RelationalOps.cdcTimeTravel(customer, events.repartition(7))
      .collect().map(_.toSeq).toSeq
    assert(reparted === tt.map(_.toSeq).toSeq)
  }

  test("q171 skyline: hand frontier — staircase exact, ties and duplicates handled, brute-force equality on corpus") {
    // (price cents, size): frontier should be (100,9) (200,12) (500,50);
    // (200,9) dominated cross-bucket by (100,9) [equal size, cheaper];
    // (150,9) dominated in-bucket-or-not by (100,9); (100,9) duplicate
    // survives with n_parts 2; (600,50) dominated by (500,50)
    val fix = Seq(
      (1.00, 9), (1.00, 9), (1.50, 9), (2.00, 12), (2.00, 9),
      (5.00, 50), (6.00, 50), (3.00, 11))
      .toDF("p_retailprice", "p_size")
      .selectExpr("CAST(p_retailprice AS DOUBLE) AS p_retailprice",
        "CAST(p_size AS INT) AS p_size")
    val got = RelationalOps.skylineParts(fix).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got === Seq((100L, 9L, 2L), (200L, 12L, 1L), (500L, 50L, 1L)))
    // corpus: brute-force dominance definition
    val part = Tables.part(spark, "/root/testdata/sf0.001")
    val rows = RelationalOps.skylineParts(part).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    val combos = part.selectExpr("CAST(round(p_retailprice * 100) AS BIGINT) AS pc",
        "CAST(p_size AS BIGINT) AS sz")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
      .groupBy(identity).view.mapValues(_.length.toLong).toSeq
      .map { case ((pc, sz), n) => (pc, sz, n) }
    val brute = combos.filter { case (pc, sz, _) =>
      !combos.exists { case (qc, qz, _) =>
        qc <= pc && qz >= sz && (qc < pc || qz > sz) }
    }.sortBy(_._1)
    assert(rows === brute, "grid decomposition must equal the definition")
    // the staircase law: prices strictly increase, sizes strictly increase
    assert(rows.map(_._1) === rows.map(_._1).sorted.distinct)
    assert(rows.map(_._2) === rows.map(_._2).sorted.distinct)
    val again = RelationalOps.skylineParts(part.repartition(7))
      .collect().map(_.toSeq).toSeq
    assert(again === rows.map(p => Seq(p._1, p._2, p._3)))
  }

  test("q170 TWAP: hand timeline — held prices weigh by duration, AVG would lie; single-event NULL; corpus fold") {
    // user 1: $1.00 held 9 µs-units, then $100.00 held 1 → TWAP 10.90,
    // while AVG says 50.50; last event holds nothing. user 2: one priced
    // event → NULL twap. user 3: null price dropped, interval spans to
    // the next PRICED event (LOCF)
    val fix = Seq(
      (1L, 10L, 0L, Some(1.0)), (1L, 11L, 9L, Some(100.0)), (1L, 12L, 10L, Some(7.0)),
      (2L, 20L, 0L, Some(5.0)),
      (3L, 30L, 0L, Some(2.0)), (3L, 31L, 4L, None), (3L, 32L, 10L, Some(4.0)))
      .toDF("user_id", "event_id", "us", "v")
      .selectExpr("user_id", "event_id", "timestamp_micros(us) AS ts",
        "CAST(v AS DOUBLE) AS value")
    val got = RelationalOps.twapPerUser(fix).collect()
      .map(r => r.getLong(0) -> r).toMap
    // user 1: num = 100·9 + 10000·1 = 10900, den = 10 → 1090.0 cents
    assert(got(1L).getLong(3) === 10900L)
    assert(got(1L).getLong(4) === 10L)
    assert(got(1L).getLong(5) === 1090000L) // 1090.000 milli-cents: AVG would say 5050.000
    assert(got(2L).isNullAt(5) && got(2L).getLong(1) === 1L)
    // user 3: $2.00 held 10 (to the next PRICED event) → twap = 200 cents
    assert(got(3L).getLong(3) === 2000L &&
      got(3L).getLong(4) === 10L && got(3L).getLong(5) === 200000L)
    // corpus: exact driver fold
    val events = Tables.events(spark, "/root/testdata/sf0.001")
    val rows = RelationalOps.twapPerUser(events).collect()
    val perUser = events.filter("value IS NOT NULL")
      .selectExpr("user_id", "event_id", "unix_micros(ts) AS us",
        "CAST(round(value * 100) AS BIGINT) AS cents")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .groupBy(_._1)
    rows.foreach { r =>
      val evs = perUser(r.getLong(0)).sortBy(e => (e._3, e._2))
      val num = evs.toSeq.sliding(2).collect {
        case Seq(a, b) => BigInt(a._4) * (b._3 - a._3)
      }.sum
      val den = evs.toSeq.sliding(2).collect {
        case Seq(a, b) => b._3 - a._3
      }.sum
      assert(BigInt(r.getLong(3)) === num, s"user ${r.getLong(0)} num")
      assert(r.getLong(4) === den)
      assert(r.getLong(5) === (BigInt(1000) * num / den).toLong)
    }
    val again = RelationalOps.twapPerUser(events.repartition(7))
      .collect().map(_.toSeq).toSeq
    assert(again === rows.map(_.toSeq).toSeq)
  }

  test("q196 SPRT: all-converters cross at ceil(A/up), the walk replays exactly on the corpus, decisions match first crossings") {
    val up = graft.ops.RelationalOps.SprtRules.head._2
    val bound = graft.ops.RelationalOps.SprtBoundMicro
    val needH1 = (bound + up - 1) / up // 3 conversions cross +A
    // 12 users, every one converts instantly: each (rule, arm) walk is
    // i·up, so any arm with >= 3 users accepts H1 at EXACTLY user 3
    val fix = (1 to 12).map(i =>
        (i.toLong * 1000000L, i.toLong, i.toLong, "purchase", 400.0))
      .toDF("usv", "event_id", "user_id", "event_type", "value")
      .selectExpr("timestamp_micros(usv) AS ts", "event_id", "user_id",
        "event_type", "value")
    val fr = graft.ops.RelationalOps.sprtCensus(fix).collect()
    assert(fr.length === 4, "2 rules x 2 arms (md5 spreads 12 users)")
    fr.foreach { r =>
      val n = r.getLong(2)
      assert(r.getLong(3) === n, "everyone converted")
      if (n >= needH1) {
        assert(r.getString(5) === "accept_h1" && r.getLong(6) === needH1 &&
          r.getLong(7) === needH1 * up, s"arm of $n converters")
      } else assert(r.getString(5) === "continue" && r.isNullAt(6) && r.isNullAt(7))
      assert(r.getLong(4) === n * up)
    }
    // corpus: exact driver replay of the whole walk at sf0.001
    val events = Tables.events(spark, "/root/testdata/sf0.001")
    val real = graft.ops.RelationalOps.sprtCensus(events).collect()
    assert(real.length === 4)
    val md = java.security.MessageDigest.getInstance("MD5")
    def arm(uk: String): Long = java.lang.Long.parseLong(
      md.digest(s"${graft.ops.RelationalOps.AbExperimentId}:$uk".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.take(12), 16) % 2
    val users = events.selectExpr("CAST(user_id AS STRING) AS uk",
        "unix_micros(ts) AS us", "event_id",
        "CASE WHEN event_type = 'purchase' AND value IS NOT NULL AND " +
          s"CAST(round(value * 100) AS BIGINT) >= ${graft.ops.RelationalOps.AbConvCents} " +
          "THEN 1L ELSE 0L END AS conv")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .groupBy(_._1).map { case (uk, es) =>
        (uk, es.map(_._2).min, es.map(_._3).min, es.map(_._4).max, arm(uk))
      }.toSeq
    val want = graft.ops.RelationalOps.SprtRules.flatMap { case (rule, u, d) =>
      users.groupBy(_._5).toSeq.map { case (a, us) =>
        val walk = us.sortBy(x => (x._2, x._3)).map(_._4)
          .scanLeft(0L)((acc, c) => acc + (if (c == 1L) u else d)).tail
        val nH1 = walk.zipWithIndex.collectFirst {
          case (v, i) if v >= bound => i + 1L }
        val nH0 = walk.zipWithIndex.collectFirst {
          case (v, i) if v <= -bound => i + 1L }
        val nDec = (nH1, nH0) match {
          case (Some(x), Some(y)) => Some(math.min(x, y))
          case (x, y) => x.orElse(y)
        }
        val decision =
          if (nH1.isDefined && (nH0.isEmpty || nH1.get <= nH0.get)) "accept_h1"
          else if (nH0.isDefined) "accept_h0" else "continue"
        (rule, a, us.size.toLong, us.count(_._4 == 1L).toLong, walk.last,
          decision, nDec, nDec.map(i => walk(i.toInt - 1)))
      }
    }.sortBy(t => (t._1, t._2))
    real.zip(want).foreach { case (r, (rule, a, n, nc, lf, dec, nd, ld)) =>
      assert(r.getString(0) === rule && r.getLong(1) === a)
      assert(r.getLong(2) === n && r.getLong(3) === nc && r.getLong(4) === lf)
      assert(r.getString(5) === dec)
      assert((if (r.isNullAt(6)) None else Some(r.getLong(6))) === nd)
      assert((if (r.isNullAt(7)) None else Some(r.getLong(7))) === ld)
    }
    val reparted = graft.ops.RelationalOps.sprtCensus(events.repartition(7))
      .collect().map(_.toSeq).toSeq
    assert(reparted === real.map(_.toSeq).toSeq)
  }

  test("q168 A/B census: a real effect turns the verdict on; zero-conversion corpora NULL out; corpus matches driver") {
    // arm parity of a uk under the shared md5 deal, computed once
    def arm(uk: String): Long =
      spark.sql(s"SELECT CAST(conv(substring(md5('${RelationalOps.AbExperimentId}:$uk'), 1, 12), 16, 10) AS BIGINT) % 2")
        .head().getLong(0)
    val parities = (0L until 80L).map(u => u -> arm(u.toString)).toMap
    val (arm0, arm1) = (parities.filter(_._2 == 0L).keys.toSeq.sorted,
      parities.filter(_._2 == 1L).keys.toSeq.sorted)
    assert(arm0.size >= 20 && arm1.size >= 20, "md5 deal badly unbalanced on 80 users")
    // effect fixture: every arm-0 user converts (one $350 purchase),
    // arm-1 users never do — the z must scream
    def ev(uid: Long, i: Long, typ: String, v: Double) =
      (uid * 1000 + i, uid, typ, v)
    val effect = (arm0.flatMap(u => Seq(ev(u, 0, "purchase", 350.0))) ++
      arm1.flatMap(u => Seq(ev(u, 0, "purchase", 10.0), ev(u, 1, "view", 350.0))))
      .toDF("event_id", "user_id", "event_type", "value")
      .selectExpr("event_id", "timestamp_micros(event_id) AS ts", "user_id",
        "event_type", "CAST(value AS DOUBLE) AS value")
    val r = RelationalOps.abTestCensus(effect).collect().head
    assert(r.getLong(0) === arm0.size && r.getLong(1) === arm0.size)
    assert(r.getLong(2) === arm1.size && r.getLong(3) === 0L)
    assert(r.getDouble(4) === 1.0 && r.getDouble(5) === 0.0)
    assert(r.getBoolean(7) === true, "a total effect must be significant")
    // the view row at $350 must NOT count as conversion (type matters)
    // — already implied by conv_b = 0 above
    // degenerate: nobody converts anywhere → NULL z, false verdict
    val nul = RelationalOps.abTestCensus(
      effect.withColumn("value", org.apache.spark.sql.functions.lit(1.0)))
      .collect().head
    assert(nul.isNullAt(6) && !nul.getBoolean(7))
    // corpus: exact counts vs a driver fold
    val events = Tables.events(spark, "/root/testdata/sf0.001")
    val row = RelationalOps.abTestCensus(events).collect().head
    val perUser = events.selectExpr("CAST(user_id AS STRING) AS uk",
        s"""CASE WHEN event_type = 'purchase' AND value IS NOT NULL
                 AND CAST(round(value * 100) AS BIGINT) >= ${RelationalOps.AbConvCents}
            THEN 1L ELSE 0L END AS c""")
      .collect().groupBy(_.getString(0)).toSeq.map { case (uk, rs) =>
        (arm(uk), rs.map(_.getLong(1)).max)
      }
    assert(row.getLong(0) === perUser.count(_._1 == 0L))
    assert(row.getLong(1) === perUser.filter(_._1 == 0L).map(_._2).sum)
    assert(row.getLong(2) === perUser.count(_._1 == 1L))
    assert(row.getLong(3) === perUser.filter(_._1 == 1L).map(_._2).sum)
    val again = RelationalOps.abTestCensus(events.repartition(7)).collect().head
    assert(again.toSeq === row.toSeq)
  }

  test("q165 SCD2 intervals: hand log — runs collapse, A→B→A reopens, same-µs ties by event_id, intervals tile") {
    val fix = Seq(
      // user 1: A A B A — four events, three islands; the two same-µs
      // events at t=30 resolve by event_id (20 before 21 → B then A)
      (1L, 10L, 10L, "A"), (1L, 11L, 20L, "A"),
      (1L, 20L, 30L, "B"), (1L, 21L, 30L, "A"),
      // user 2: single state forever — one open interval
      (2L, 30L, 5L, "X"), (2L, 31L, 6L, "X"))
      .toDF("user_id", "event_id", "us", "event_type")
      .selectExpr("user_id", "event_id", "event_type", "timestamp_micros(us) AS ts")
    val got = RelationalOps.scd2Intervals(fix).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3),
        if (r.isNullAt(4)) None else Some(r.getLong(4)), r.getLong(5), r.getBoolean(6)))
    assert(got.toSeq === Seq(
      (1L, 1L, "A", 10L, Some(30L), 2L, false),
      (1L, 2L, "B", 30L, Some(30L), 1L, false),
      (1L, 3L, "A", 30L, None, 1L, true),
      (2L, 1L, "X", 5L, None, 2L, true)))
  }

  test("q165 SCD2 on the corpus: tiling, one current per user, event conservation, invariance") {
    val events = Tables.events(spark, "/root/testdata/sf0.001")
    val rows = RelationalOps.scd2Intervals(events).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3),
        if (r.isNullAt(4)) None else Some(r.getLong(4)), r.getLong(5), r.getBoolean(6)))
    val byUser = rows.groupBy(_._1)
    byUser.foreach { case (u, is) =>
      val sorted = is.sortBy(_._2)
      assert(sorted.map(_._2).toSeq === (1L to is.length).toSeq, s"user $u island idx")
      // intervals tile: each closes exactly at the next one's open
      sorted.toSeq.sliding(2).foreach {
        case Seq(a, b) =>
          assert(a._5.contains(b._4), s"user $u interval gap")
          assert(a._3 != b._3, s"user $u adjacent islands share a state — runs not maximal")
        case _ =>
      }
      assert(sorted.count(_._7) === 1 && sorted.last._7, s"user $u current flag")
      assert(sorted.last._5.isEmpty)
    }
    assert(rows.map(_._6).sum === events.count(), "island events must conserve")
    val reparted = RelationalOps.scd2Intervals(events.repartition(7)).collect()
      .map(_.toSeq).toSeq
    assert(reparted === RelationalOps.scd2Intervals(events).collect().map(_.toSeq).toSeq)
  }

  test("q162 burst detector: hand series — dyadic baseline exact, cold start NULL, silence-gap burst") {
    val hourUs = RelationalOps.HourUs
    val w = RelationalOps.EwmaWindowHours
    val den = (1L << w) - 1
    // hours 0..19: 1 event each; hour 20: 10 events (the burst);
    // hour 40 after a 19-hour silence: 1 event (bursts over a 0 baseline)
    val hourCounts = (0L to 19L).map(_ -> 1L) ++ Seq(20L -> 10L, 21L -> 1L, 40L -> 1L)
    val fixture = hourCounts.flatMap { case (h, c) =>
      (0L until c).map(i => h * hourUs + i * 1000L)
    }.toDF("us").selectExpr("timestamp_micros(us) AS ts")
    val got = RelationalOps.burstDetector(fixture).collect()
      .map(r => r.getLong(0) -> r).toMap
    // cold start: hours 0..15 carry a NULL verdict
    assert((0L to 15L).forall(h => got(h).isNullAt(6) && !got(h).getBoolean(4)))
    // hour 20 baseline: 16 prior hours of 1 → num = 2^16 − 1 = den,
    // so baseline = 1.0 exactly and 10 > 3·1 flags
    assert(got(20L).getLong(2) === den)
    assert(got(20L).getDouble(5) === 1.0)
    assert(got(20L).getBoolean(6) === true, "10 events over baseline 1 must burst")
    // hour 17: count 1, baseline 1 → 1·den > 3·den is false
    assert(got(17L).getBoolean(6) === false)
    // hour 40: every prior-window hour is silent → baseline 0, burst
    assert(got(40L).getLong(2) === 0L && got(40L).getBoolean(6) === true,
      "any activity after total silence is a burst")
    // hand-check one mixed window: hour 21 sees the 10-burst at lag 1
    // (weight 2^15) plus 15 ones at lags 2..16 → num = 10·2^15 + (2^15 − 1)
    assert(got(21L).getLong(2) === 10L * (1L << 15) + ((1L << 15) - 1))
  }

  test("q162 burst detector on the corpus: matches a driver fold; partitioning invariance") {
    val events = Tables.events(spark, "/root/testdata/sf0.001")
    val rows = RelationalOps.burstDetector(events).collect()
    val w = RelationalOps.EwmaWindowHours
    val den = (1L << w) - 1
    val counts = events.selectExpr(s"unix_micros(ts) DIV ${RelationalOps.HourUs} AS h")
      .collect().map(_.getLong(0)).groupBy(identity).view.mapValues(_.length.toLong).toMap
    val h0 = counts.keys.min
    assert(rows.length === counts.size)
    rows.foreach { r =>
      val h = r.getLong(0)
      val num = (1 to w).map(lag =>
        counts.getOrElse(h - lag, 0L) * (1L << (w - lag))).sum
      assert(r.getLong(1) === counts(h) && r.getLong(2) === num, s"hour $h")
      if (h >= h0 + w)
        assert(r.getBoolean(6) === (counts(h) * den > RelationalOps.BurstFactor * num))
      else assert(r.isNullAt(6))
    }
    assert(rows.exists(r => !r.isNullAt(6)), "corpus must contain warm hours")
    val reparted = RelationalOps.burstDetector(events.repartition(7))
      .collect().map(_.toSeq).toSeq
    assert(reparted === rows.map(_.toSeq).toSeq)
  }

  test("q213 growth accounting: hand cohort, corpus identities, invariance") {
    val dayUs = RelationalOps.DayUs
    // A active d1+d3, B only d1, C d2+d3 (B visits d1 twice — distinct)
    val hand = Seq((1L, "A"), (1L, "B"), (1L, "B"), (2L, "C"),
        (3L, "A"), (3L, "C"))
      .zipWithIndex.map { case ((d, u), i) => (d * dayUs + i, u.hashCode.toLong) }
      .toDF("us", "user_id").selectExpr("timestamp_micros(us) AS ts", "user_id")
    val got = RelationalOps.growthAccounting(hand).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    assert(got(1L) === ((2L, 2L, 0L, 2L)), "day 1: two new actives")
    assert(got(2L) === ((1L, 1L, 0L, 3L)), "day 2: one new")
    assert(got(3L) === ((2L, 0L, 2L, 3L)), "day 3: two returning, cum flat")
    // corpus: the closing cumulative count IS the distinct-ever count,
    // and Σ new = distinct (every user first-touches exactly once)
    val events = Tables.events(spark, "/root/testdata/sf0.001")
    val rows = RelationalOps.growthAccounting(events).collect()
    val distinctUsers = events.filter("user_id IS NOT NULL")
      .select("user_id").distinct().count()
    assert(rows.last.getLong(4) === distinctUsers)
    assert(rows.map(_.getLong(2)).sum === distinctUsers)
    rows.foreach { r =>
      assert(r.getLong(1) >= r.getLong(2), "actives can never be below news")
      assert(r.getLong(3) === r.getLong(1) - r.getLong(2))
    }
    val reparted = RelationalOps.growthAccounting(events.repartition(7))
      .collect().map(_.toSeq).toSeq
    assert(reparted === rows.map(_.toSeq).toSeq)
  }

  test("q222 cohort LTV: hand curve exact, laws hold on the corpus, invariance") {
    val dayUs = RelationalOps.DayUs
    // user A acquired day 0 ($1 then $2 on day 2), user B acquired day 0
    // ($4 on day 0), user C acquired day 2 ($8) — cohort 0 has 2 users
    val hand = Seq((0L, 10L, 1.0), (2L, 10L, 2.0), (0L, 11L, 4.0),
        (2L, 12L, 8.0))
      .zipWithIndex.map { case ((d, u, v), i) => (d * dayUs + i, u, v) }
      .toDF("us", "user_id", "value")
      .selectExpr("timestamp_micros(us) AS ts", "user_id", "value")
    val got = RelationalOps.cohortLtv(hand).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r).toMap
    // cohort 0, age 0: $5 across 2 users → cum 500 cents, ltv 250 cents = 250e6 micro
    val c00 = got((0L, 0L))
    assert(c00.getLong(2) === 2L && c00.getLong(5) === 500L
      && c00.getLong(6) === 250000000L)
    // cohort 0, age 2: +$2 → cum 700, ltv 350e6 micro, monotone
    val c02 = got((0L, 2L))
    assert(c02.getLong(5) === 700L && c02.getLong(6) === 350000000L
      && c02.getBoolean(7))
    // cohort 2 (user C): its own curve, one cell
    assert(got((2L, 0L)).getLong(5) === 800L)
    assert(got.values.forall(_.getBoolean(8)), "conservation must grade true")
    // corpus: both laws true everywhere, curves monotone, invariance
    val events = Tables.events(spark, "/root/testdata/sf0.001")
    val rows = RelationalOps.cohortLtv(events).collect()
    assert(rows.forall(r => r.getBoolean(7) && r.getBoolean(8)))
    val again = RelationalOps.cohortLtv(events.repartition(7))
      .collect().map(_.toSeq).toSeq
    assert(again === rows.map(_.toSeq).toSeq)
  }

  test("q220 pivot census: independent mix devs to zero, a skewed row flags, unseen statuses surface; corpus invariance") {
    def df(rows: Seq[(String, String)]) = rows.toDF("o_orderpriority", "o_orderstatus")
    // perfectly independent 2×2: every row has the corpus mix → dev 0
    val indep = df(Seq(("1-URGENT", "F"), ("1-URGENT", "O"),
      ("2-HIGH", "F"), ("2-HIGH", "O")))
    val ri = RelationalOps.pivotCensus(indep).collect()
    assert(ri.forall(_.getLong(7) === 0L), "independent mix must dev to 0")
    assert(ri.forall(_.getBoolean(8)), "conservation must hold")
    // skewed: URGENT is all-F. Its F cell devs 2/6, but its EMPTY O cell
    // devs |0·4 − 2·1|/(2·1) = 1 → the max deviation is the missing mass
    val skew = df(Seq(("1-URGENT", "F"), ("1-URGENT", "F"),
      ("2-HIGH", "F"), ("2-HIGH", "O")))
    val rs = RelationalOps.pivotCensus(skew).collect()
      .map(r => r.getString(0) -> r).toMap
    assert(rs("1-URGENT").getLong(7) === 1000000L,
      "all-F row: the empty O cell carries the max deviation (exactly 1)")
    // an out-of-dial status lands in n_unseen, not silently dropped
    val odd = df(Seq(("1-URGENT", "F"), ("1-URGENT", "X")))
    val ro = RelationalOps.pivotCensus(odd).collect().head
    assert(ro.getLong(4) === 1L, "unseen status must be counted visibly")
    assert(ro.getLong(5) === 1L && ro.getLong(6) === 1L,
      "margins and N count only the matched universe")
    // a priority whose rows ALL carry out-of-dial statuses never enters
    // the pivot side — the full-outer unseen join must still surface it
    // with its n_unseen (a left join FROM the pivot would vanish it,
    // n_unseen and all — the silent drop the column exists to prevent)
    val allUnseen = df(Seq(("1-URGENT", "F"), ("3-LOW", "Z"), ("3-LOW", "Z")))
    val ru = RelationalOps.pivotCensus(allUnseen).collect()
      .map(r => r.getString(0) -> r).toMap
    assert(ru.contains("3-LOW"), "fully-unseen priority must surface")
    val low = ru("3-LOW")
    assert(low.getLong(4) === 2L, "its unseen count must be visible")
    assert((1 to 3).forall(i => low.getLong(i) === 0L) && low.getLong(5) === 0L,
      "its pivot cells and row_total are zero, not NULL")
    assert(low.isNullAt(7), "zero row_total: deviation is undefined, not 0")
    // corpus: replay invariance
    val orders = Tables.orders(spark, "/root/testdata/sf0.001")
    val rows = RelationalOps.pivotCensus(orders).collect().map(_.toSeq).toSeq
    val again = RelationalOps.pivotCensus(orders.repartition(7))
      .collect().map(_.toSeq).toSeq
    assert(again === rows)
  }

  test("q217 decayed leaderboard: a faded whale loses the live board to a surging newcomer; corpus replay") {
    val dayUs = RelationalOps.DayUs
    // whale: 100 events on day 0 (age 29 — outside the window, decayed 0);
    // newcomer: 10 events on day 29 (age 0 — decayed 10·128 = 1280);
    // steady: 2 events/day every day (n_total 60; decayed 2·(128+…+1)=510)
    val rows =
      (1 to 100).map(_ => (0L, 900L)) ++ // one whale user, all on day 0
        (1 to 10).map(_ => (29L, 800L)) ++ // newcomer, all on the last day
        (0L to 29L).flatMap(d => Seq((d, 700L), (d, 700L))) // steady 2/day
    val hand = rows.zipWithIndex
      .map { case ((d, u), i) => (d * dayUs + i, u) }
      .toDF("us", "user_id").selectExpr("timestamp_micros(us) AS ts", "user_id")
    val got = RelationalOps.decayedLeaderboard(hand).collect()
      .map(r => r.getLong(0) -> r).toMap
    val whale = got(900L)
    assert(whale.getLong(2) === 1L && whale.getLong(3) === 0L,
      "the whale tops the all-time board but has fully decayed")
    val newc = got(800L)
    assert(newc.getLong(3) === 1280L && newc.getLong(1) === 1L,
      "newcomer decayed = 10 · 2^7 and leads the live board")
    val steady = got(700L)
    assert(steady.getLong(3) === 510L, "steady decayed = 2 · (2^8 − 1)")
    assert(steady.getLong(4) === 60L)
    assert(whale.getLong(1) > steady.getLong(1),
      "on the live board the faded whale sits below steady")
    // corpus: decayed ranking flips at least someone vs the raw ranking
    // is data-dependent — grade instead the replay + fill contract
    val events = Tables.events(spark, "/root/testdata/sf0.001")
    val corpus = RelationalOps.decayedLeaderboard(events).collect()
    assert(corpus.nonEmpty && corpus.length <= 2 * RelationalOps.LeaderTopN)
    corpus.foreach { r =>
      assert(!r.isNullAt(3) && !r.isNullAt(4),
        "both scores must be filled for every surfaced user")
    }
    val again = RelationalOps.decayedLeaderboard(events.repartition(7))
      .collect().map(_.toSeq).toSeq
    assert(again === corpus.map(_.toSeq).toSeq)
  }

  test("q218 robust trend: a whale day drags OLS but not Theil–Sen; exact hand slopes; corpus replay") {
    val dayUs = RelationalOps.DayUs
    // five days of steady +100 cents/day growth, then a whale day
    // (day 5 total = 100000): OLS chases the whale, the median slope
    // stays at the steady 100 cents/day = 100000 milli
    def mk(totals: Seq[Long]) = totals.zipWithIndex.flatMap { case (t, d) =>
      Seq((d.toLong * dayUs, t)) // one event carrying the whole day total
    }.toDF("us", "c").selectExpr("timestamp_micros(us) AS ts",
      "CAST(c AS DOUBLE) / 100 AS value")
    val steady = Seq(1000L, 1100L, 1200L, 1300L, 1400L)
    val r1 = RelationalOps.robustTrend(mk(steady)).collect().head
    assert(r1.getLong(0) === 5L && r1.getLong(1) === 10L)
    assert(r1.getLong(2) === 100000L && r1.getLong(3) === 100000L,
      "pure linear growth: both estimators see exactly 100 cents/day")
    assert(r1.getLong(4) === 0L)
    val whale = steady :+ 100000L
    val r2 = RelationalOps.robustTrend(mk(whale)).collect().head
    assert(r2.getLong(2) < r2.getLong(3) / 10,
      "the whale day must drag OLS far above the median slope")
    // degenerate single-day corpus: zero slope pairs → the grouped median
    // returns no rows and the census is EMPTY on both engines (the oracle's
    // median CTE is grouped for exactly this — an ungrouped aggregate
    // would return one all-NULL row and strict-compare 1 vs 0 rows)
    assert(RelationalOps.robustTrend(mk(Seq(1000L))).count() === 0L,
      "single-day corpus must yield an empty census, not a NULL row")
    // corpus replay under repartitioning
    val events = Tables.events(spark, "/root/testdata/sf0.001")
    val rows = RelationalOps.robustTrend(events).collect().map(_.toSeq).toSeq
    val again = RelationalOps.robustTrend(events.repartition(7))
      .collect().map(_.toSeq).toSeq
    assert(again === rows)
  }

  test("q214 seasonal census: hand cell moments exact, whale flags for its cell, corpus conservation and invariance") {
    val dayUs = RelationalOps.DayUs
    // ten observations in ONE (dow=1, hod=0) cell: nine $1 rows + one $100
    // whale. mean = 1090 cents, MAD = 1 782 000 000 micro, 4·MAD = 7.128e9:
    // the whale's dev 8.91e9 flags, the $1 devs (0.99e9) do not.
    val us0 = 4L * dayUs // 1970-01-05 (Monday): dow = (4+4)%7 = 1, hod 0
    val hand = ((1 to 9).map(i => (us0 + i * 1000L, 1.0)) :+ (us0 + 10000L, 100.0))
      .toDF("us", "value").selectExpr("timestamp_micros(us) AS ts", "value")
    val row = RelationalOps.seasonalCensus(hand).collect()
    assert(row.length === 1)
    val r = row.head
    assert((r.getLong(0), r.getLong(1)) === ((1L, 0L)))
    assert(r.getLong(2) === 10L)
    assert(r.getLong(3) === 1090000000L, "floor'd micro mean")
    assert(r.getLong(4) === 1782000000L, "exact weighted mean abs deviation")
    assert(r.getLong(5) === 1L && r.getLong(6) === 100000L,
      "exactly the whale flags; rate = 1/10")
    // negative cell sum: the mean renders sign-OUTSIDE the floor —
    // cents {1, 1, -3} sum to -1 over 3 obs, so mean_micro must be
    // -(10⁶ div 3) = -333333 (toward zero) on BOTH engines; a bare Spark
    // DIV against DuckDB // would disagree by one micro here and cascade
    // into the MAD and the anomaly census
    val neg = Seq((us0 + 1L, 0.01), (us0 + 2L, 0.01), (us0 + 3L, -0.03))
      .toDF("us", "value").selectExpr("timestamp_micros(us) AS ts", "value")
    val rn = RelationalOps.seasonalCensus(neg).collect().head
    assert(rn.getLong(3) === -333333L,
      "negative mean must truncate toward zero under the sign-outside law")
    // corpus: cells partition the observations (Σ n_obs = non-null rows)
    val events = Tables.events(spark, "/root/testdata/sf0.001")
    val rows = RelationalOps.seasonalCensus(events).collect()
    assert(rows.map(_.getLong(2)).sum === events.filter("value IS NOT NULL").count())
    assert(rows.forall(x => x.getLong(0) >= 0 && x.getLong(0) < 7
      && x.getLong(1) >= 0 && x.getLong(1) < 24))
    val reparted = RelationalOps.seasonalCensus(events.repartition(7))
      .collect().map(_.toSeq).toSeq
    assert(reparted === rows.map(_.toSeq).toSeq)
  }
}
