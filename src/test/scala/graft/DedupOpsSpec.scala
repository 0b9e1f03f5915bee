package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions.{col, min, struct}

import graft.ops.{DedupOps, TextOps}

object DedupOpsSpec {
  import DedupOps.{WinnowK, WinnowW}

  /** Composed-operator twin of [[DedupOps.winnowFingerprints]]: windowed
    * `MIN(struct(h, -p))` with the rightmost tie-break, exactly the
    * oracle's formulation. */
  def winnowFingerprintsWindowed(docs: DataFrame): DataFrame = {
    val hashed = docs.where(s"length(text) >= $WinnowK")
      .selectExpr("doc_id", "text",
        s"explode(sequence(1, length(text) - ${WinnowK - 1})) AS p")
      .selectExpr("doc_id", "p",
        s"CAST(conv(substring(md5(substring(text, p, $WinnowK)), 1, 15), 16, 10) AS BIGINT) AS h")
    val win = Window.partitionBy("doc_id").orderBy("p")
      .rowsBetween(-(WinnowW - 1), 0)
    hashed
      .withColumn("s", min(struct(col("h"), (-col("p")).as("np"))).over(win))
      .where(col("p") >= WinnowW) // full windows only — partial prefixes
                                  // would break cross-length determinism
      .select(col("doc_id"), col("s.h").as("h"))
      .distinct()
  }
}

class DedupOpsSpec extends SparkSpec {
  import spark.implicits._

  // two near-dups (one word changed), one unrelated doc; same (lang, source)
  private def docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog again and again today", "en", "s1", 0L),
    (2L, "the quick brown fox jumps over the lazy cat again and again today", "en", "s1", 0L),
    (3L, "completely different content about spark query planning and shuffles", "en", "s1", 0L),
    (4L, "tiny doc", "en", "s1", 0L) // < 3 tokens: dropped by shingling
  ).toDF("doc_id", "text", "lang", "source", "n_chars")

  test("q135 winnowing: shared substring of length ≥ K+W-1 guarantees a shared fingerprint; disjoint docs share none") {
    // docs 1/2 share a 33-char block ≫ t = 8 ⇒ the guarantee forces ≥ 1
    // shared fingerprint; doc 3 has no 5-gram in common with either
    val d = Seq(
      (1L, "PREFIXAAA shared-block-goes-here-exactly SUFFIX111"),
      (2L, "zzDIFFER shared-block-goes-here-exactly OTHER9"),
      (3L, "qqqqwwwweeeerrrrttttyyyyuuuuiiiioooo")
    ).toDF("doc_id", "text")
    val pairs = DedupOps.winnowPairs(d)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L)),
      "the Schleimer guarantee: a shared run ≥ K+W-1 chars must surface")
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L))
  }

  test("q135 selection is deterministic under ties and position-shift; density ≈ 2/(W+1)") {
    // a repeated-char doc makes EVERY window an all-tie — the rightmost
    // rule must still pick deterministically, and the distinct fingerprint
    // set collapses to exactly one hash
    val rep = Seq((7L, "aaaaaaaaaaaaaaaaaaaa")).toDF("doc_id", "text")
    val hashedRep = DedupOps.winnowFingerprints(rep).collect()
    assert(hashedRep.length === 1, s"all-equal grams must collapse to one fingerprint, got ${hashedRep.length}")
    // shifting a doc by a prefix must not change which GRAMS are selected
    // far from the boundary (position-robustness, the point of winnowing):
    // the shifted doc still shares ≥ MinShared fingerprints with the original
    val base = "the winnowing algorithm selects minimum hashes from sliding windows"
    val two = Seq((1L, base), (2L, "XYZPAD-" + base)).toDF("doc_id", "text")
    val p = DedupOps.winnowPairs(two).collect()
    assert(p.length === 1 && p(0).getLong(2) >= 2,
      "prefix shift must preserve the shared fingerprint set")
    // density: selected distinct fingerprints ≈ 2/(W+1) of grams (paper
    // §4); allow generous slack for set-collapse on a real doc
    val doc = Tables.documents(spark, "/root/testdata/sf0.001").limit(50)
    val grams = doc.selectExpr("greatest(length(text) - 4, 0) AS n")
      .agg(org.apache.spark.sql.functions.sum("n")).collect()(0).getLong(0)
    val sel = DedupOps.winnowFingerprints(doc).count()
    assert(sel > grams / 10 && sel < grams,
      s"winnowed density off: $sel of $grams grams")
  }

  test("q135 native graft_winnow equals the windowed MIN(struct) twin bit-for-bit") {
    val docs01 = Tables.documents(spark, "/root/testdata/sf0.001")
    val native = DedupOps.winnowFingerprints(docs01)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val windowed = DedupOpsSpec.winnowFingerprintsWindowed(docs01)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(native === windowed,
      "the native selection must match the composed windowed form — the oracle runs the windowed shape")
    // and on adversarial shapes: ties, short texts, exactly-one-window
    val edge = Seq((1L, "aaaaaaaa"), (2L, "abcdefgh"), (3L, "abcdefg"),
      (4L, "tiny"), (5L, "")).toDF("doc_id", "text")
    val ne = DedupOps.winnowFingerprints(edge)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val we = DedupOpsSpec.winnowFingerprintsWindowed(edge)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(ne === we)
    assert(!ne.exists(_._1 >= 4L), "texts shorter than K must yield no fingerprints")
  }

  test("q135 is partitioning-invariant and emits self-consistent resemblance") {
    val docs01 = Tables.documents(spark, "/root/testdata/sf0.001")
    val base = DedupOps.winnowPairs(docs01).collect()
    val reparted = DedupOps.winnowPairs(docs01.repartition(7)).collect()
    assert(base.map(_.toSeq).toSeq === reparted.map(_.toSeq).toSeq)
    base.foreach { r =>
      val (shared, na, nb, res) =
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getDouble(5))
      assert(shared <= math.min(na, nb), "shared prints cannot exceed either set")
      assert(res > 0.0 && res <= 1.0)
      assert(math.abs(res - shared.toDouble / (na + nb - shared)) == 0.0)
    }
  }

  test("minhash signature: identical docs get identical signatures") {
    val two = Seq((1L, "a b c d e", "en", "s1", 0L), (2L, "a b c d e", "en", "s1", 0L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val sig = DedupOps.minhashSignature(two).collect()
    assert(sig.length === 2)
    assert(sig(0).toSeq.drop(1) === sig(1).toSeq.drop(1))
  }

  test("LSH pairs finds the near-dup pair and not the unrelated one") {
    val pairs = DedupOps.lshPairs(docs)
      .select("a_id", "b_id").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L)))
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L))
  }

  test("LSH candidates recall >= exact jaccard pairs on the same scope") {
    val exact = DedupOps.jaccardPairs(docs)
      .select("a_id", "b_id").as[(Long, Long)].collect().toSet
    val lsh = DedupOps.lshPairs(docs)
      .select("a_id", "b_id").as[(Long, Long)].collect().toSet
    // both verify with the same threshold; LSH may only miss candidates,
    // and on this corpus it must not
    assert(exact.subsetOf(lsh))
  }

  test("jaccard df-cap drops boilerplate shingles from both sides") {
    // 25 docs share one boilerplate sentence: its shingles have df=25 > cap,
    // so they are excluded from intersection AND set sizes — no pair can
    // form through boilerplate alone (the hot-shingle k² scale killer)
    val boiler = (1 to 25).map(i =>
      (i.toLong, s"shared boiler plate text here uniq$i", "en", "s1", 0L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    assert(DedupOps.jaccardPairs(boiler).count() === 0)
    // with the cap lifted the same corpus is all-pairs boilerplate matches
    assert(DedupOps.jaccardPairs(boiler, dfCap = 100).count() === 25L * 24 / 2)
  }

  test("simhash: identical token sets get identical simhash, hamming 0") {
    val sh = DedupOps.simhash(
      Seq((1L, "x y z w v u t s", "en", "s1", 0L),
          (2L, "x y z w v u t s", "en", "s1", 0L))
        .toDF("doc_id", "text", "lang", "source", "n_chars"))
      .as[(Long, Long)].collect().toMap
    assert(sh(1L) === sh(2L))
  }

  test("simhash expression matches the explode + per-bit-vote aggregate form") {
    // the native graft_simhash must be bit-identical to the formulation it
    // replaced (which the DuckDB oracle still uses): explode distinct
    // tokens, 60 conditional SUM votes over the md5-slice hash, majority
    val d = docs
    val viaExpr = DedupOps.simhash(d).as[(Long, Long)].collect().toMap
    val tok = d.selectExpr("doc_id", "explode(array_distinct(split(text, ' '))) AS t")
      .selectExpr("doc_id", "CAST(conv(substring(md5(t), 1, 15), 16, 10) AS BIGINT) AS h")
    val votes = tok.groupBy("doc_id").agg(
      org.apache.spark.sql.functions.sum(
        org.apache.spark.sql.functions.when(
          org.apache.spark.sql.functions.expr("shiftright(h, 0) & 1") === 1, 1).otherwise(-1)).as("v0"),
      (1 until DedupOps.SimhashBits).map(j =>
        org.apache.spark.sql.functions.sum(
          org.apache.spark.sql.functions.when(
            org.apache.spark.sql.functions.expr(s"shiftright(h, $j) & 1") === 1, 1).otherwise(-1)).as(s"v$j")): _*)
    val viaAgg = votes.collect().map { r =>
      val doc = r.getLong(0)
      val sh = (0 until DedupOps.SimhashBits).map { j =>
        if (r.getLong(j + 1) > 0) 1L << j else 0L
      }.sum
      doc -> sh
    }.toMap
    assert(viaExpr === viaAgg)
    // edge cases the corpus cannot hit: empty token array → 0 (no votes);
    // a null token votes -1 everywhere (the aggregate's OTHERWISE branch)
    graft.expressions.GraftFunctions.register(spark)
    val edge = spark.sql(
      """SELECT graft_simhash(array(), 60) AS e,
                graft_simhash(array(CAST(NULL AS STRING)), 60) AS n""").collect()(0)
    assert(edge.getLong(0) === 0L && edge.getLong(1) === 0L)
  }

  test("simhash pairs: near-dups within hamming threshold, bucketed") {
    val pairs = DedupOps.simhashPairs(docs)
      .select("a_id", "b_id").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L)))
  }

  test("MIH pigeonhole: q40 equals the all-pairs within-stratum ground truth") {
    // radius floor(16/6)=2 probes guarantee recall 1 (six bands all
    // differing by >=3 would sum to >=18 > 16), and the hamming verify
    // keeps precision 1 — so on the 500-doc corpus the probe-join result
    // must EQUAL brute force, not just contain the planted pair
    val corpus = Tables.documents(spark, "/root/testdata/sf0.001")
    val sh = DedupOps.simhash(corpus).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val strata = corpus.select("doc_id", "lang", "source")
      .as[(Long, String, String)].collect()
      .map(t => t._1 -> ((t._2, t._3))).toMap
    val ids = sh.keys.toSeq.sorted
    val truth = (for {
      a <- ids; b <- ids
      if a < b && strata(a) == strata(b)
      if java.lang.Long.bitCount(sh(a) ^ sh(b)) <= DedupOps.HammingThreshold
    } yield (a, b)).toSet
    val got = DedupOps.simhashPairs(corpus)
      .select("a_id", "b_id").as[(Long, Long)].collect().toSet
    assert(got === truth)
    assert(truth.nonEmpty)
  }

  test("simhash-LSH pigeonhole: exactly the brute-force hamming<=3 pairs") {
    // threshold 3 < 4 bands → a qualifying pair always shares a band
    // (recall 1), and the verify step keeps precision 1 — so the banded
    // result must EQUAL the all-pairs ground truth, not just contain it
    val sh = DedupOps.simhash(docs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val ids = sh.keys.toSeq.sorted
    val truth = (for {
      a <- ids; b <- ids if a < b
      if java.lang.Long.bitCount(sh(a) ^ sh(b)) <= 3
    } yield (a, b)).toSet
    val got = DedupOps.simhashLshPairs(docs)
      .select("a_id", "b_id").as[(Long, Long)].collect().toSet
    assert(got === truth)
  }

  test("exact dedup keeps min doc_id per canonical fingerprint") {
    val d = Seq(
      (5L, "b a c", "en", "s1", 0L),
      (7L, "c b a", "en", "s1", 0L), // same bag of words
      (9L, "d e f", "en", "s1", 0L)
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
    val kept = TextOps.exactDedup(d).select("keep_id", "n_dups")
      .as[(Long, Long)].collect().toMap
    assert(kept === Map(5L -> 2L, 9L -> 1L))
  }

  test("incremental dedup equals the cross-cut of the full-corpus pair table") {
    // increment: docs 10,11 (10 near-dups corpus doc 1; 11 unrelated)
    val corpus = docs
    val inc = Seq(
      (10L, "the quick brown fox jumps over the lazy dog again and again tonight", "en", "s2", 0L),
      (11L, "nothing like anything else in this corpus at all whatsoever truly", "en", "s2", 0L)
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
    val got = DedupOps.incrementalLshPairs(corpus, inc)
      .select("a_id", "b_id").as[(Long, Long)].collect().toSet
    // reference: run the symmetric pair table over the union, keep pairs
    // with exactly one endpoint in the increment, orient as (corpus, new)
    val incIds = Set(10L, 11L)
    val full = DedupOps.lshPairs(corpus.unionByName(inc))
      .select("a_id", "b_id").as[(Long, Long)].collect().toSet
    val expected = full.collect {
      case (a, b) if incIds(b) && !incIds(a) => (a, b)
      case (a, b) if incIds(a) && !incIds(b) => (b, a)
    }
    assert(got === expected)
    assert(got.nonEmpty && got.forall { case (a, b) => !incIds(a) && incIds(b) })
  }

  test("incremental dedup fails LOUDLY when corpus and increment share a doc_id") {
    // a shared id would double that doc's shingle rows in the unioned
    // verify input and silently corrupt every Jaccard it touches — the
    // guard must name the id and fail the job instead
    val inc = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again tonight", "en", "s2", 0L)
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
    val e = intercept[Exception] {
      DedupOps.incrementalLshPairs(docs, inc).collect()
    }
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ messages(x.getCause))
    assert(messages(e).exists(m =>
      m.contains("both corpus and increment") && m.contains("1")),
      s"expected the disjointness guard to fire, got: $e")
  }

  test("increment report: one verdict per arriving doc, best match by max jac then min id") {
    // pairs: doc 10 matches corpus 1 (0.9) and corpus 2 (0.9) — tie to
    // min id; doc 11 matches corpus 3 weakly; doc 12 matches nothing
    val pairs = Seq((1L, 10L, 0.9), (2L, 10L, 0.9), (5L, 10L, 0.4), (3L, 11L, 0.6))
      .toDF("a_id", "b_id", "jac")
    val incDocs = Seq(
      (10L, "x", "en", graft.ops.DedupOps.IncrementSource, 0L),
      (11L, "y", "en", graft.ops.DedupOps.IncrementSource, 0L),
      (12L, "z", "en", graft.ops.DedupOps.IncrementSource, 0L),
      (1L, "corpus doc, not reported", "en", "s1", 0L)
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
    val got = DedupOps.incrementReport(incDocs, pairs)
      .as[(Long, Option[Long], Option[Double], String)].collect().toList
    assert(got === List(
      (10L, Some(1L), Some(0.9), "dup"),   // 0.9 tie → corpus 1, not 2
      (11L, Some(3L), Some(0.6), "dup"),
      (12L, None, None, "novel")))
  }

  test("increment report on the real corpus covers every arriving doc; both verdicts occur") {
    val all = Tables.documents(spark, "/root/testdata/sf0.001")
    val corpus = all.filter(s"source <> '${graft.ops.DedupOps.IncrementSource}'")
    val inc = all.filter(s"source = '${graft.ops.DedupOps.IncrementSource}'")
    val pairs = DedupOps.incrementalLshPairs(corpus, inc)
    val got = DedupOps.incrementReport(all, pairs)
      .as[(Long, Option[Long], Option[Double], String)].collect().toList
    assert(got.size.toLong === inc.count(), "one verdict per arriving doc")
    assert(got.exists(_._4 == "dup") && got.exists(_._4 == "novel"))
    // every dup verdict points at a real corpus doc with its pair's jac
    val pairSet = pairs.select("a_id", "b_id", "jac")
      .as[(Long, Long, Double)].collect()
      .groupBy(_._2).view.mapValues(_.map(p => (p._1, p._3)).toSet).toMap
    got.filter(_._4 == "dup").foreach { case (d, dupOf, jac, _) =>
      assert(pairSet(d).contains((dupOf.get, jac.get)), s"doc $d verdict not in pairs")
      assert(jac.get === pairSet(d).map(_._2).max, s"doc $d best jac wrong")
    }
  }

  test("duplicate spans flag maximal cross-doc repeated runs, not within-doc repeats") {
    // doc 1 and doc 2 share the 9-token run "a b c d e f g h i" (two
    // overlapping 8-grams each → one merged span per doc); doc 3 shares
    // nothing; doc 4 repeats an 8-gram only WITHIN itself (min doc =
    // max doc → not duplicated)
    val spanDocs = Seq(
      (1L, "a b c d e f g h i j k l", "en", "s1", 0L),
      (2L, "x1 x2 x3 a b c d e f g h i y1 y2", "en", "s1", 0L),
      (3L, "p1 p2 p3 p4 p5 p6 p7 p8 p9", "en", "s1", 0L),
      (4L, "m n o q r s t u m n o q r s t u", "en", "s1", 0L)
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
    val got = DedupOps.duplicateSpans(spanDocs, k = 8)
      .as[(Long, Long, Long, Long, Long)].collect().toSeq
    assert(got === Seq(
      (1L, 1L, 0L, 8L, 9L),   // tokens a..i at positions 0..8
      (2L, 1L, 3L, 11L, 9L))) // the same run at positions 3..11
  }

  test("duplicate spans split runs separated by more than the gram width") {
    // docs 1/2 share two DISTANT 8-gram runs; the 16-token gap (> k) must
    // yield two spans, not one merged over unshared middle text
    val mid1 = (1 to 16).map(i => s"m$i").mkString(" ")
    val mid2 = (1 to 16).map(i => s"w$i").mkString(" ")
    val run1 = "a b c d e f g h"
    val run2 = "r s t u v x y z"
    val spanDocs = Seq(
      (1L, s"$run1 $mid1 $run2", "en", "s1", 0L),
      (2L, s"$run1 $mid2 $run2", "en", "s1", 0L)
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
    val got = DedupOps.duplicateSpans(spanDocs, k = 8)
      .as[(Long, Long, Long, Long, Long)].collect().toSeq
    assert(got === Seq(
      (1L, 1L, 0L, 7L, 8L), (1L, 2L, 24L, 31L, 8L),
      (2L, 1L, 0L, 7L, 8L), (2L, 2L, 24L, 31L, 8L)))
  }

  private def md5hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  test("span scrub keeps the first occurrence and cuts every other copy") {
    val docs = Seq(
      // keeper of the shared a..h/a..i grams: loses nothing
      (1L, "a b c d e f g h i j k l", "en", "s1", 0L),
      // same 9-token run embedded at positions 3..11: exactly it is cut
      (2L, "x1 x2 x3 a b c d e f g h i y1 y2", "en", "s1", 0L),
      // no duplicated grams anywhere: untouched
      (3L, "p1 p2 p3 p4 p5 p6 p7 p8 p9", "en", "s1", 0L),
      // WITHIN-doc repeat (q80's cross-doc rule misses it): second half cut
      (4L, "m n o q r s t u m n o q r s t u", "en", "s1", 0L),
      // entirely a copy of doc 1's first gram: scrubbed to empty
      (5L, "a b c d e f g h", "en", "s1", 0L)
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
    val got = DedupOps.spanScrub(docs, k = 8)
      .as[(Long, Long, Long, String)].collect().toSeq
    assert(got === Seq(
      (1L, 12L, 0L, md5hex("a b c d e f g h i j k l")),
      (2L, 14L, 9L, md5hex("x1 x2 x3 y1 y2")),
      (3L, 9L, 0L, md5hex("p1 p2 p3 p4 p5 p6 p7 p8 p9")),
      (4L, 16L, 8L, md5hex("m n o q r s t u")),
      (5L, 8L, 8L, md5hex(""))))
    // the text-emitting twin renders the same cut, as composable text
    val texts = DedupOps.spanScrubText(docs, k = 8)
      .as[(Long, String)].collect().toMap
    assert(texts(2L) === "x1 x2 x3 y1 y2")
    assert(texts(5L) === "")
  }

  test("dedup audit: LSH catches every exact pair on an identical-doc corpus") {
    val docs = Seq(
      (1L, "a b c d e f g h i j", "en", "s1", 0L),
      (2L, "a b c d e f g h i j", "en", "s1", 0L), // identical: jac 1 in BOTH passes
      (3L, "z1 z2 z3 z4 z5 z6 z7 z8 z9 z0", "en", "s1", 0L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val row = DedupOps.dedupAudit(docs).collect()(0)
    assert(row.getLong(0) === 1L, "exact pass must find the identical pair")
    assert(row.getLong(2) === 1L, "LSH must catch it (all bands collide)")
    assert(row.getDouble(3) === 1.0)
  }

  // classic DP Levenshtein — the spec's independent referee for q159
  private def lev(a: String, b: String): Int = {
    val d = Array.tabulate(a.length + 1, b.length + 1) { (i, j) =>
      if (i == 0) j else if (j == 0) i else 0
    }
    for (i <- 1 to a.length; j <- 1 to b.length)
      d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
        d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
    d(a.length)(b.length)
  }

  test("q159 edit linkage covers the whole d=1 taxonomy and nothing else (hand fixture)") {
    // substitution, deletion, insertion, doubled-char deletion (dup
    // variants), a d=2 pair, a d=3+ pair, and a null
    val names = Seq("abc", "abd", "ab", "xabc", "aab", "cba", "zzzz")
    val fixture = (names.map(Option(_)) :+ None).toDF("c_name")
    val got = DedupOps.editLinkagePairs(fixture).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSeq
    val expect = (for {
      a <- names; b <- names if a < b && lev(a, b) == 1
    } yield (a, b, 1L)).sortBy(p => (p._1, p._2))
    assert(got === expect)
    // sanity on the taxonomy itself: the fixture exercises all three edits
    assert(expect.contains(("abc", "abd", 1L)), "substitution pair missing")
    assert(expect.contains(("ab", "abc", 1L)), "indel pair missing")
    assert(expect.contains(("aab", "ab", 1L)), "doubled-char deletion missing")
    assert(expect.contains(("abc", "xabc", 1L)),
      "prefix-insertion pair must be found") // xabc = insert 'x' before abc
  }

  test("q159 edit linkage equals brute force on the real corpus; deterministic under repartition") {
    val customer = Tables.customer(spark, "/root/testdata/sf0.001")
    val rows = DedupOps.editLinkagePairs(customer).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSeq
    val names = customer.selectExpr("c_name").collect().map(_.getString(0)).distinct
    val brute = (for {
      a <- names; b <- names if a < b && lev(a, b) == 1
    } yield (a, b, 1L)).sortBy(p => (p._1, p._2)).toSeq
    assert(rows === brute, "deletion-neighborhood candidates must be COMPLETE")
    assert(rows.nonEmpty, "corpus must exercise the linkage")
    val reparted = DedupOps.editLinkagePairs(customer.repartition(7))
      .collect().map(_.toSeq).toSeq
    assert(reparted === rows.map(p => Seq(p._1, p._2, p._3)))
  }

  test("q177 radius-2 linkage covers the whole d<=2 taxonomy and nothing else (hand fixture)") {
    // every d<=2 op class: substitution, indel, double-substitution,
    // sub+indel (Δ1), double indel (Δ2), transposition (equal-length
    // ins+del at adjacent positions), a SHIFT pair (lev 2 via ins+del
    // with hamming 3 — "abcd"/"bcda"), a hamming-2 pair that ALSO shares
    // a 1-deletion variant ("aab"/"baa" — the branch-overlap trap), a
    // d=3 pair that must NOT appear, LCP-degenerate short names, and a
    // name equal to another's prefix
    val names = Seq("abc", "abd", "ab", "axd", "abcd", "bcda", "bacd",
      "aab", "baa", "a", "zzz", "zqz", "qqq")
    val fixture = (names.map(Option(_)) :+ None).toDF("c_name")
    val got = DedupOps.editLinkageD2Pairs(fixture).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSeq
    val expect = (for {
      a <- names; b <- names
      if a < b && lev(a, b) <= 2 && lev(a, b) >= 1
    } yield (a, b, lev(a, b).toLong)).sortBy(p => (p._1, p._2))
    assert(got === expect)
    // the fixture genuinely exercises each class
    assert(expect.contains(("abc", "abd", 1L)), "substitution missing")
    assert(expect.contains(("ab", "abc", 1L)), "indel missing")
    assert(expect.contains(("abd", "axd", 1L)) &&
      expect.contains(("abc", "axd", 2L)), "double-substitution missing")
    assert(expect.contains(("ab", "abd", 1L)) &&
      expect.contains(("ab", "axd", 2L)), "sub+indel (delta-1) missing")
    assert(expect.contains(("ab", "abcd", 2L)), "double indel (delta-2) missing")
    assert(expect.contains(("abcd", "bacd", 2L)), "transposition missing")
    assert(expect.contains(("abcd", "bcda", 2L)), "shift pair (hamming 3, lev 2) missing")
    assert(expect.contains(("aab", "baa", 2L)), "hamming-2-with-shared-V1 pair missing")
    assert(lev("qqq", "zzz") === 3 && !expect.exists(p => p._1 == "qqq" && p._2 == "zzz"),
      "d=3 pair must be excluded")
  }

  test("q177 radius-2 linkage equals brute force on the real corpus; deterministic under repartition") {
    val customer = Tables.customer(spark, "/root/testdata/sf0.001")
    val rows = DedupOps.editLinkageD2Pairs(customer).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSeq
    val names = customer.selectExpr("c_name").collect().map(_.getString(0)).distinct
    val brute = (for {
      a <- names; b <- names
      if a < b && lev(a, b) >= 1 && lev(a, b) <= 2
    } yield (a, b, lev(a, b).toLong)).sortBy(p => (p._1, p._2)).toSeq
    assert(rows === brute,
      "radius-2 deletion-neighborhood candidates must be COMPLETE and distances structural")
    assert(rows.exists(_._3 == 2L), "corpus must exercise distance 2")
    val reparted = DedupOps.editLinkageD2Pairs(customer.repartition(7))
      .collect().map(_.toSeq).toSeq
    assert(reparted === rows.map(p => Seq(p._1, p._2, p._3)))
  }
}
