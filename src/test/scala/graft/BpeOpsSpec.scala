package graft

import graft.ops.BpeOps

class BpeOpsSpec extends SparkSpec {
  import spark.implicits._

  /** Independent reference BPE (imperative, list-of-symbols — no shared
    * code with the op): get_stats + greedy left-to-right merge_vocab,
    * exactly Sennrich et al. 2016's algorithm with (count desc, pair asc)
    * tie-break. */
  private def referenceBpe(words: Map[String, Long],
                           merges: Int): Seq[(String, String, Long)] = {
    var vocab: Map[Vector[String], Long] =
      words.map { case (w, f) => (w.map(_.toString).toVector :+ BpeOps.EndMark) -> f }
    val out = scala.collection.mutable.ArrayBuffer.empty[(String, String, Long)]
    for (_ <- 1 to merges) {
      val stats = scala.collection.mutable.Map.empty[(String, String), Long]
      for ((syms, f) <- vocab; i <- 0 until syms.length - 1)
        stats((syms(i), syms(i + 1))) = stats.getOrElse((syms(i), syms(i + 1)), 0L) + f
      if (stats.nonEmpty) {
        val ((l, r), cnt) = stats.toSeq.minBy { case ((a, b), c) => (-c, a, b) }
        out += ((l, r, cnt))
        vocab = vocab.map { case (syms, f) =>
          val merged = scala.collection.mutable.ArrayBuffer.empty[String]
          var i = 0
          while (i < syms.length) { // greedy left-to-right, non-overlapping
            if (i + 1 < syms.length && syms(i) == l && syms(i + 1) == r) {
              merged += l + r; i += 2
            } else { merged += syms(i); i += 1 }
          }
          merged.toVector -> f
        }.groupMapReduce(_._1)(_._2)(_ + _)
      }
    }
    out.toSeq
  }

  test("BPE merges match the reference algorithm on the classic toy corpus") {
    // Sennrich's example: low*5 lower*2 newest*6 widest*3 — the es/est/
    // est</w> family must win the first merges
    val words = Map("low" -> 5L, "lower" -> 2L, "newest" -> 6L, "widest" -> 3L)
    val docs = words.toSeq.zipWithIndex.map { case ((w, f), i) =>
      (i.toLong, Seq.fill(f.toInt)(w).mkString(" "), "en", "s", 0L)
    }.toDF("doc_id", "text", "lang", "source", "n_chars")
    val got = BpeOps.bpeMerges(docs, numMerges = 8)
      .as[(Long, String, String, String, Long)].collect().toSeq
    val expected = referenceBpe(words, 8).zipWithIndex.map {
      case ((l, r, c), i) => (i + 1L, l, r, l + r, c)
    }
    assert(got === expected)
    assert(got.take(3).map(_._4) === Seq("es", "est", s"est${BpeOps.EndMark}"))
  }

  test("BPE token counts equal the reference tokenizer's, per doc") {
    val words = Map("low" -> 5L, "lower" -> 2L, "newest" -> 6L, "widest" -> 3L)
    val docsSeq = words.toSeq.zipWithIndex.map { case ((w, f), i) =>
      (i.toLong, Seq.fill(f.toInt)(w).mkString(" "))
    }
    val docs = docsSeq.map { case (id, t) => (id, t, "en", "s", 0L) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    // reference: learn merges, then tokenize each word greedily in rank order
    val merges = referenceBpe(words, 8)
    def tokenize(w: String): Int = {
      var syms = w.map(_.toString).toVector :+ BpeOps.EndMark
      for ((l, r, _) <- merges) {
        val out = scala.collection.mutable.ArrayBuffer.empty[String]
        var i = 0
        while (i < syms.length) {
          if (i + 1 < syms.length && syms(i) == l && syms(i + 1) == r) {
            out += l + r; i += 2
          } else { out += syms(i); i += 1 }
        }
        syms = out.toVector
      }
      syms.length
    }
    val expected = docsSeq.map { case (id, t) =>
      val ws = t.split(" ")
      (id, ws.length.toLong, ws.map(tokenize).map(_.toLong).sum)
    }
    val got = BpeOps.applyMerges(docs, BpeOps.learnMerges(docs, 8))
      .as[(Long, Long, Long)].collect().toSeq
    assert(got === expected)
    // merges genuinely compress: fewer BPE tokens than characters
    assert(got.map(_._3).sum < docsSeq.map(_._2.replace(" ", "").length + 1).sum)
  }

  test("BPE learning survives words that collapse to a single symbol") {
    // word 'a' collapses to the ONE symbol a</w> in round 1 — the old
    // SQL pair-explode crashed here under ANSI (sequence(0, size-2) with
    // size = 1 is the descending [0,-1], so syms[-1] throws); the local
    // learner must keep learning from the remaining words, then stop
    // cleanly when no pairs are left (before numMerges rounds)
    val docs = Seq((1L, "a a a b", "en", "s", 0L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val got = BpeOps.bpeMerges(docs, numMerges = 5)
      .as[(Long, String, String, String, Long)].collect().toSeq
    assert(got === Seq(
      (1L, "a", BpeOps.EndMark, s"a${BpeOps.EndMark}", 3L),
      (2L, "b", BpeOps.EndMark, s"b${BpeOps.EndMark}", 1L)))
    // application over the fully-collapsed vocabulary still tokenizes
    val counts = BpeOps.applyMerges(docs, BpeOps.learnMerges(docs, 5))
      .as[(Long, Long, Long)].collect().toSeq
    assert(counts === Seq((1L, 4L, 4L)))
  }

  test("merge learning scales to 1000 merges and matches the reference") {
    // the driver-local learner with incremental pair stats must reproduce
    // the O(rounds × vocab) reference algorithm exactly at a merge count
    // two orders past the graded NumMerges = 10
    val rnd = new scala.util.Random(42)
    val words: Map[String, Long] = (0 until 500).map { _ =>
      val len = 5 + rnd.nextInt(6)
      val w = (0 until len).map(_ => ('a' + rnd.nextInt(26)).toChar).mkString
      w -> (1L + rnd.nextInt(50))
    }.toMap
    val table = words.toArray.map { case (w, f) =>
      (w.map(_.toString).toArray :+ BpeOps.EndMark, f)
    }
    val t0 = System.nanoTime()
    val got = BpeOps.learnMergesLocal(table, numMerges = 1000)
    val elapsedMs = (System.nanoTime() - t0) / 1000000L
    val expected = referenceBpe(words, 1000).zipWithIndex.map {
      case ((l, r, c), i) => (i + 1L, l, r, c)
    }
    assert(got.size === 1000)
    assert(got === expected)
    // driver-local learning is the scale path: well under a second for 1000
    // merges (the per-round-Spark-job form was ~2 jobs × round)
    assert(elapsedMs < 10000L)
  }

  test("BPE merges are deterministic and weighted by word frequency") {
    // 'aa' appears 3x in one doc (2 adjacent pairs per 'aaa'... 'aaa' has
    // 2 (a,a) pairs counted, merged greedily to (aa)(a)); 'bb' once — the
    // (a,a) merge must win round 1 on count, ties never reached
    val docs = Seq(
      (1L, "aaa aaa bb", "en", "s", 0L),
      (2L, "aaa", "en", "s", 0L)
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
    val got = BpeOps.bpeMerges(docs, numMerges = 2)
      .as[(Long, String, String, String, Long)].collect().toSeq
    // word freqs: aaa->3, bb->1; round 1 pairs: (a,a)->6, (a,</w>)->3,
    // (b,b)->1, (b,</w>)->1  ⇒ merge (a,a) cnt 6
    assert(got.head === ((1L, "a", "a", "aa", 6L)))
    val again = BpeOps.bpeMerges(docs, numMerges = 2)
      .as[(Long, String, String, String, Long)].collect().toSeq
    assert(again === got)
  }

  test("vocabulary freq floor drops sub-floor words before the driver collect") {
    // words: aa×3, bb×2, zz×1 — floor 2 keeps {aa, bb}; the learned list
    // must equal the reference learner run on exactly that floored table
    val docs = Seq(
      (1L, "aa bb aa", "en", "s", 0L),
      (2L, "aa bb zz", "en", "s", 0L)
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
    val got = BpeOps.learnMerges(docs, numMerges = 3, freqFloor = 2L)
    val ref = BpeOps.learnMergesLocal(Array(
      (Array("a", "a", BpeOps.EndMark), 3L),
      (Array("b", "b", BpeOps.EndMark), 2L)), numMerges = 3)
    assert(got === ref)
    // floor 1 sees zz too — the lists diverge once (z,z) pairs exist, and
    // the floored list must NOT count zz occurrences anywhere
    assert(got.forall { case (_, l, r, _) => !l.contains("z") && !r.contains("z") })
  }

  test("tokenizer fertility rolls up exactly the per-doc q79 counts by lang") {
    val docs = Seq(
      (1L, "low low low newest", "en", "s", 18L),
      (2L, "newest newest", "en", "s", 13L),
      (3L, "widest wider", "de", "s", 12L),
      (4L, "low", "de", "s", 3L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val merges = BpeOps.learnMerges(docs, numMerges = 5)
    val perDoc = BpeOps.applyMerges(docs, merges)
      .as[(Long, Long, Long)].collect().map(r => r._1 -> r).toMap
    val got = BpeOps.tokenizerFertility(docs, merges)
      .as[(String, Long, Long, Long, Long, Double, Double)].collect().toSeq
    def exp(lang: String, ids: Seq[Long], chars: Long) = {
      val w = ids.map(perDoc(_)._2).sum; val t = ids.map(perDoc(_)._3).sum
      (lang, ids.size.toLong, w, t, chars, t.toDouble / w, chars.toDouble / t)
    }
    assert(got === Seq(exp("de", Seq(3L, 4L), 15L), exp("en", Seq(1L, 2L), 31L)))
    // fertility is at least 1: a word is never fewer than one token
    got.foreach(r => assert(r._6 >= 1.0))
  }

  test("vocabulary collect cap fails loudly instead of OOMing the driver") {
    val docs = Seq(
      (1L, "aa bb cc dd", "en", "s", 0L)
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
    val e = intercept[IllegalStateException] {
      BpeOps.learnMerges(docs, numMerges = 1, freqFloor = 1L, maxDriverRows = 2L)
    }
    assert(e.getMessage.contains("raise the floor"), e.getMessage)
  }
}
